package graft.streambench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.SparkEntry
import graft.model.{AuditTrail, BrowserEvent}
import graft.operators.CoreOps
import graft.streaming.{LateDataSplit, StatefulOps, StreamOps}

/** One chapter pipeline: a streaming query over generated events plus the
  * gate that compares its converged output with the oracle-gated batch
  * twin over exactly the events it was fed. `ordered` pipelines are keyed
  * state machines over arrival order; they take the event-time-ordered
  * feed, since their batch twins order by event time.
  */
abstract class Pipe(val name: String, val ordered: Boolean) {
  val fed = mutable.ArrayBuffer.empty[Array[Ev]]
  def start(c: Ctx): Unit
  def queries: Seq[StreamingQuery]
  /** Add one micro-batch to the query's input; returns the rows added. */
  def add(b: Array[Ev]): Long
  /** Untimed: push far-future sentinels so append-mode state flushes. */
  def flush(): Unit = ()
  /** The converged streaming output equals the batch twin over `corpus`. */
  def check(c: Ctx, corpus: String): Boolean

  def stop(): Unit = queries.foreach(q => if (q != null && q.isActive) q.stop())
  protected def events: Array[Ev] = fed.toArray.flatten
  protected def maxTsMs: Long = events.map(_.tsMs).max
  protected def sentinelMs: Long = maxTsMs + 30L * 86400L * 1000L

  protected def memoryQuery(c: Ctx, df: DataFrame, mode: OutputMode): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", c.ckpt(name)).start()

  protected def stream[T: Encoder](c: Ctx): MemoryStream[T] = {
    implicit val sql: org.apache.spark.sql.SQLContext = c.spark.sqlContext
    MemoryStream[T]
  }

  protected def batchTwin(c: Ctx, corpus: String): DataFrame = SparkEntry.queries(name)(c.spark, corpus)
}

/** Event-time pipelines keep a watermark `wm` at least as long as the
  * feed's disorder bound, so no row is dropped and the converged output is
  * the batch answer.
  */
object Pipes {
  private def tsFrame(df: DataFrame, msCol: String): DataFrame =
    df.withColumn("ts", timestamp_millis(col(msCol))).drop(msCol)

  final class A1(wm: String) extends Pipe("a1_tumbling_count", false) {
    private var in: MemoryStream[(Long, Long)] = _
    private var q: StreamingQuery = _
    def queries: Seq[StreamingQuery] = Seq(q)
    def start(c: Ctx): Unit = {
      import c.spark.implicits._
      in = stream[(Long, Long)](c)
      q = memoryQuery(c, StreamOps.windowedCount(
        tsFrame(in.toDF().toDF("event_id", "ts_ms"), "ts_ms"), "ts", "5 seconds", wm),
        OutputMode.Append)
    }
    def add(b: Array[Ev]): Long = { in.addData(b.map(e => (e.id, e.tsMs)).toSeq); b.length }
    override def flush(): Unit = { in.addData(Seq((-1L, sentinelMs))); q.processAllAvailable() }
    def check(c: Ctx, corpus: String): Boolean = Ctx.sameRows(
      c.spark.table(name).select(unix_seconds(col("window_start")).as("ws"), col("n"))
        .filter(col("ws") <= maxTsMs / 1000),
      batchTwin(c, corpus).select(col("window_start"), col("n")))
  }

  final class A2 extends Pipe("a2_keyed_running_total", false) {
    private var in: MemoryStream[(Long, Long)] = _
    private var q: StreamingQuery = _
    def queries: Seq[StreamingQuery] = Seq(q)
    def start(c: Ctx): Unit = {
      import c.spark.implicits._
      in = stream[(Long, Long)](c)
      q = memoryQuery(c, StreamOps.runningKeyedSum(
        in.toDF().toDF("user_id", "value_milli"), "user_id", "value_milli"), OutputMode.Update)
    }
    def add(b: Array[Ev]): Long = {
      in.addData(b.map(e => (e.user, math.floor(e.value * 1000).toLong)).toSeq); b.length
    }
    // update mode emits each changed key per batch; counts and totals only
    // grow (values >= 0), so the per-key max is the converged value
    def check(c: Ctx, corpus: String): Boolean = Ctx.sameRows(
      c.spark.table(name).groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"), max(col("total")).as("total_value_milli")),
      batchTwin(c, corpus))
  }

  final class A4(wm: String) extends Pipe("a4_session_windows", false) {
    private var in: MemoryStream[(Long, Long, Double)] = _
    private var q: StreamingQuery = _
    def queries: Seq[StreamingQuery] = Seq(q)
    def start(c: Ctx): Unit = {
      import c.spark.implicits._
      in = stream[(Long, Long, Double)](c)
      q = memoryQuery(c, StreamOps.sessionSummaryStream(
        tsFrame(in.toDF().toDF("user_id", "ts_ms", "value"), "ts_ms"),
        "user_id", "ts", "4 hours", "value", wm), OutputMode.Append)
    }
    def add(b: Array[Ev]): Long = { in.addData(b.map(e => (e.user, e.tsMs, e.value)).toSeq); b.length }
    override def flush(): Unit = { in.addData(Seq((-1L, sentinelMs, 0.0))); q.processAllAvailable() }
    def check(c: Ctx, corpus: String): Boolean = {
      val cols = Seq("user_id", "session_start_us", "session_end_us", "n", "sum_value_milli").map(col)
      Ctx.sameRows(c.spark.table(name).filter(col("user_id") =!= -1L).select(cols: _*),
        batchTwin(c, corpus).select(cols: _*))
    }
  }

  final class J1(wm: String) extends Pipe("j1_windowed_join", false) {
    private var clicks: MemoryStream[(Long, Long, Long)] = _
    private var purchases: MemoryStream[(Long, Long, Long)] = _
    private var q: StreamingQuery = _
    def queries: Seq[StreamingQuery] = Seq(q)
    def start(c: Ctx): Unit = {
      import c.spark.implicits._
      clicks = stream[(Long, Long, Long)](c)
      purchases = stream[(Long, Long, Long)](c)
      q = memoryQuery(c, StreamOps.streamStreamWindowJoin(
        tsFrame(clicks.toDF().toDF("user_id", "click_id", "ts_ms"), "ts_ms"),
        tsFrame(purchases.toDF().toDF("user_id", "purchase_id", "ts_ms"), "ts_ms"),
        "user_id", "ts", "1 day", wm), OutputMode.Append)
    }
    def add(b: Array[Ev]): Long = {
      val cl = b.filter(_.typ == "click").map(e => (e.user, e.id, e.tsMs)).toSeq
      val pu = b.filter(_.typ == "purchase").map(e => (e.user, e.id, e.tsMs)).toSeq
      if (cl.nonEmpty) clicks.addData(cl)
      if (pu.nonEmpty) purchases.addData(pu)
      cl.size + pu.size
    }
    def check(c: Ctx, corpus: String): Boolean = Ctx.sameRows(
      c.spark.table(name).select(unix_seconds(col("w.start")).as("w"), col("user_id"),
        col("click_id"), col("purchase_id")),
      batchTwin(c, corpus).select(col("w"), col("user_id"), col("click_id"), col("purchase_id")))
  }

  /** W2: the late-data tee. Its split is compared with
    * `CoreOps.lateDataSplit` (the operator behind the gated `w2_late_data`)
    * under the feed's own arrival order; the twin query itself replays an
    * md5 pseudo-arrival order instead.
    */
  final class W2 extends Pipe("w2_late_data", false) {
    private var in: MemoryStream[(Long, Long)] = _
    private var q: StreamingQuery = _
    private val lateIds = mutable.ArrayBuffer.empty[Long]
    private var onTimeRows = 0L
    def queries: Seq[StreamingQuery] = Seq(q)
    def start(c: Ctx): Unit = {
      import c.spark.implicits._
      in = stream[(Long, Long)](c)
      val split = new LateDataSplit("ts", allowedLatenessMs = 2000L,
        onTime = (df, _) => onTimeRows += df.count(),
        late = (df, _) => lateIds ++= df.select("event_id").as[Long].collect())
      q = split.writer(tsFrame(in.toDF().toDF("event_id", "ts_ms"), "ts_ms"))
        .option("checkpointLocation", c.ckpt(name)).start()
    }
    def add(b: Array[Ev]): Long = { in.addData(b.map(e => (e.id, e.tsMs)).toSeq); b.length }
    def check(c: Ctx, corpus: String): Boolean = {
      import c.spark.implicits._
      val arrival = fed.zipWithIndex.flatMap { case (b, i) =>
        b.zipWithIndex.map { case (e, j) => (e.id, e.tsMs, i.toLong, i.toLong * 10000000L + j) }
      }.toSeq.toDF("event_id", "ts_ms", "chunk", "ord")
      val (_, late) = CoreOps.lateDataSplit(tsFrame(arrival, "ts_ms"), "ts", col("ord"),
        2000000L, col("chunk"))
      val expected = late.select("event_id").as[Long].collect().sorted.toSeq
      onTimeRows + lateIds.size == events.length && lateIds.sorted.toSeq == expected
    }
  }

  /** ST1: burst alerts, two 'error' events of one user within 4 h (the
    * corpus maps the reference's Delete onto 'error'); times in micros.
    */
  final class ST1 extends Pipe("st1_burst_alerts", true) {
    private var in: MemoryStream[AuditTrail] = _
    private var q: StreamingQuery = _
    def queries: Seq[StreamingQuery] = Seq(q)
    def start(c: Ctx): Unit = {
      import c.spark.implicits._
      in = stream[AuditTrail](c)
      q = memoryQuery(c, StatefulOps.deleteBurstAlerts(in.toDS(), thresholdMs = 14400000000L).toDF(),
        OutputMode.Append)
    }
    def add(b: Array[Ev]): Long = {
      in.addData(b.map(e => AuditTrail(e.id.toInt, e.user.toString, "Event",
        if (e.typ == "error") "Delete" else e.typ, e.tsUs, 0, 0)).toSeq)
      b.length
    }
    def check(c: Ctx, corpus: String): Boolean = {
      import c.spark.implicits._
      val ts = events.map(e => (e.id, e.tsUs)).toSeq.toDF("event_id", "ts_us")
      Ctx.sameRows(c.spark.table(name).select(col("user"), col("ts"), col("diffMs")),
        batchTwin(c, corpus).join(ts, "event_id")
          .select(col("user_id").cast("string"), col("ts_us"), col("diff_us")))
    }
  }

  /** ST2: previous-action durations ('signup' logs in, 'error' logs out). */
  final class ST2 extends Pipe("st2_action_durations", true) {
    private var in: MemoryStream[BrowserEvent] = _
    private var q: StreamingQuery = _
    def queries: Seq[StreamingQuery] = Seq(q)
    def start(c: Ctx): Unit = {
      import c.spark.implicits._
      in = stream[BrowserEvent](c)
      q = memoryQuery(c, StatefulOps.actionDurations(in.toDS(),
        loginAction = "signup", logoutAction = "error").toDF(), OutputMode.Append)
    }
    def add(b: Array[Ev]): Long = {
      in.addData(b.map(e => BrowserEvent(e.id.toInt, e.user.toString, e.typ, e.tsUs)).toSeq)
      b.length
    }
    def check(c: Ctx, corpus: String): Boolean = Ctx.sameRows(
      c.spark.table(name).select(col("user"), col("action"), col("durationMs")),
      batchTwin(c, corpus).select(col("user_id").cast("string"), col("action"), col("duration_us")))
  }

  /** Write `evs` as a corpus directory the batch twins read (`events` table). */
  def writeCorpus(spark: SparkSession, evs: Array[Ev], dir: String): Unit = {
    import spark.implicits._
    evs.toSeq.map(e => (e.id, e.tsUs, e.user, e.typ, e.value, s"""{"k": ${e.id % 100}}"""))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
