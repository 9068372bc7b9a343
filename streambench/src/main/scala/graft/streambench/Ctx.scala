package graft.streambench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** One timed client micro-batch: `addData` to commit, as the closed-loop
  * client saw it. Warm-up batches are set-up and are not logged.
  */
final case class BatchRec(pipeline: String, rows: Long, ms: Double, traced: Boolean) {
  @volatile var failed: Boolean = false
}

/** State shared by one workload run: the session, the run's private work
  * directory, the batch log, and the tracer while a traced pass is on.
  */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long) {
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  /** The tracer while a traced pass runs; None means tracing is off. */
  @volatile var tracer: Option[Tracer] = None
  @volatile private var root = 0L

  def path(parts: String*): String = parts.foldLeft(work)(new File(_, _)).getAbsolutePath
  def ckpt(name: String): String = path("ckpt", name)

  /** Run one client micro-batch: `body` adds the data, waits in
    * `processAllAvailable()` and returns the rows it added. `queries`, read
    * when the batch ends, attribute the engine's batches to it. A batch
    * that throws is logged as failed and the exception propagates.
    */
  def batch(pipeline: String, queries: => Seq[StreamingQuery])(
      body: => Long): BatchRec = {
    val t0 = System.nanoTime()
    var rows = -1L
    try {
      rows = tracer match {
        case Some(t) =>
          t.span("batch", pipeline, 0L,
            Map("queries" -> queries.map(_.id.toString).mkString(","))) { id =>
            root = id
            try body finally root = 0L
          }
        case None => body
      }
    } finally {
      val rec = BatchRec(pipeline, math.max(rows, 0L), (System.nanoTime() - t0) / 1e6,
        tracer.isDefined)
      rec.failed = rows < 0
      batches.synchronized { batches += rec; () }
    }
    batches.last
  }

  /** Run `f` as a traced pass: listeners attached, spans recorded. */
  def traced[T](t: Tracer)(f: => T): T = {
    t.attach(spark)
    tracer = Some(t)
    try f finally {
      tracer = None
      t.detach(spark)
    }
  }

  /** Log a pipeline that failed before its first timed batch. */
  def failed(pipeline: String): BatchRec = {
    val rec = BatchRec(pipeline, 0L, 0.0, tracer.isDefined)
    rec.failed = true
    batches.synchronized { batches += rec; () }
    rec
  }

  /** A call into the functions layer made from inside a micro-batch
    * (the stream's `loadState`/`saveState`/`emit` callbacks).
    */
  def callback[T](name: String)(f: => T): T = tracer match {
    case Some(t) => t.span("functions", name, root)(_ => f)
    case None => f
  }

  /** Run gate checks side by side, one thread per core. */
  def inParallel(checks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, spark.sparkContext.defaultParallelism))
    try checks.map(f => pool.submit(new Runnable { def run(): Unit = f() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** `check`, with an exception reported and counted as a failure. */
  def guarded(what: String)(onFail: => Unit)(check: => Unit): () => Unit = () =>
    try check catch {
      case e: Exception =>
        System.err.println(s"[streambench] $what failed: $e")
        onFail
    }

  /** Files and bytes a traced pass added under the index paths. */
  @volatile var sinkFiles = 0L
  @volatile var sinkBytes = 0L

  /** Seconds spent in each timed set-up step (index seeding). */
  val setupSteps = mutable.LinkedHashMap.empty[String, Double]

  def setupStep[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally setupSteps.synchronized { setupSteps(name) = (System.nanoTime() - t0) / 1e9 }
  }
}

object Ctx {
  /** Multiset equality of two frames with the same columns. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val x = a.toDF(b.columns.toIndexedSeq: _*)
    x.count() == b.count() && x.exceptAll(b).isEmpty && b.exceptAll(x).isEmpty
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
