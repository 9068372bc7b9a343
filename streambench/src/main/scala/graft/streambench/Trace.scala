package graft.streambench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span recorded by the benchmark around a call into one layer. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, String]) {
  def durMs: Double = endMs - startMs
}

/** One streaming micro-batch as Spark reports it (`StreamingQueryProgress`). */
final case class Progress(queryId: String, batchId: Long, startMs: Double,
    durationMs: Map[String, Long], inputRows: Long, stateRowsTotal: Long,
    stateRowsUpdated: Long, stateRowsRemoved: Long, stateMemBytes: Long,
    stateCommitMs: Long, stateUpdateMs: Long, stateRemovalMs: Long, droppedLate: Long)

final case class JobRec(jobId: Int, queryId: String, batchId: Long, startMs: Double,
    stageIds: Seq[Int])

final case class StageRec(stageId: Int, startMs: Double, endMs: Double, tasks: Int,
    runMs: Long, cpuNs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long)

/** In-memory trace of one run. Spans come from the benchmark's own calls;
  * Spark's jobs, stages and task metrics from a `SparkListener`, and the
  * per-batch phase times and state-operator figures from a
  * `StreamingQueryListener`. Jobs are tied to their micro-batch by the
  * `sql.streaming.queryId` / `streaming.sql.batchId` job properties, and a
  * micro-batch to the benchmark's root span of the same query that was
  * open, or next opened, when its trigger started.
  */
final class Tracer {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val origin = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  val spans = mutable.ArrayBuffer.empty[Span]
  val progress = mutable.ArrayBuffer.empty[Progress]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.Map.empty[Int, StageRec]
  @volatile private var lastEventMs = nowMs

  /** Wall clock in ms with sub-ms resolution. */
  def nowMs: Double = origin + System.nanoTime() / 1e6

  /** Record `f` as a span; `parent` 0 is a root. */
  def span[T](layer: String, name: String, parent: Long = 0L,
      attrs: => Map[String, String] = Map.empty)(f: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = nowMs
    try f(id)
    finally {
      val s = Span(id, parent, layer, name, t0, nowMs, attrs)
      spans.synchronized { spans += s; () }
    }
  }

  private def touch(): Unit = lastEventMs = nowMs

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val q = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).getOrElse("")
      val b = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong).getOrElse(-1L)
      jobs.synchronized { jobs += JobRec(e.jobId, q, b, e.time.toDouble, e.stageIds); () }
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val rec = StageRec(i.stageId,
        i.submissionTime.map(_.toDouble).getOrElse(0.0),
        i.completionTime.map(_.toDouble).getOrElse(0.0), i.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
      stages.synchronized { stages(i.stageId) = rec }
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = touch()
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = Option(p.durationMs).map { m =>
        val b = Map.newBuilder[String, Long]
        m.forEach((k, v) => b += k -> v.longValue)
        b.result()
      }.getOrElse(Map.empty)
      // an idle trigger reports only latestOffset/triggerExecution; a
      // micro-batch that ran (with or without data) has addBatch
      if (d.contains("addBatch")) {
        val ops = Option(p.stateOperators).toSeq.flatten
        val rec = Progress(p.id.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d, p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum,
          ops.map(_.numRowsRemoved).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
          ops.map(_.allRemovalsTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum)
        progress.synchronized { progress += rec; () }
      }
      touch()
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Detach once the asynchronous listener buses have gone quiet, so the
    * last batch's events are in.
    */
  def detach(spark: SparkSession): Unit = {
    val deadline = nowMs + 5000
    while (nowMs - lastEventMs < 300 && nowMs < deadline) Thread.sleep(50)
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

/** Per-layer figures over the root spans (client micro-batches) of a trace. */
object Layers {
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def clip(iv: Seq[(Double, Double)], s: Double, e: Double) =
    iv.map(x => (math.max(x._1, s), math.min(x._2, e)))

  /** Per-layer metrics, per client micro-batch unless the name says
    * otherwise; also the self time of each layer, for the trace report.
    */
  def compute(t: Tracer): (Map[String, Double], Map[String, Double]) = {
    val roots = t.spans.filter(s => s.parent == 0 && s.layer == "batch").toSeq.sortBy(_.startMs)
    val n = math.max(roots.size, 1).toDouble
    // a streaming batch belongs to the first root of its query still open
    // at (or opened after) its trigger start
    val byQuery = roots.groupBy(_.attrs.getOrElse("queries", ""))
    def rootOf(queryId: String, startMs: Double): Option[Span] =
      byQuery.collectFirst {
        case (qs, rs) if qs.split(',').contains(queryId) => rs.find(_.endMs >= startMs)
      }.flatten
    val progress = t.progress.toSeq.flatMap(p => rootOf(p.queryId, p.startMs).map(_ -> p))
    val batchRoot = progress.map { case (r, p) => (p.queryId, p.batchId) -> r }.toMap
    val jobs = t.jobs.toSeq.flatMap(j => batchRoot.get((j.queryId, j.batchId)).map(_ -> j))
    val stageOf = t.stages.toMap
    val stagesByRoot = jobs.groupBy(_._1).map { case (r, js) =>
      r.id -> js.flatMap(_._2.stageIds).distinct.flatMap(stageOf.get)
    }
    val allStages = stagesByRoot.values.flatten.toSeq
    val children = t.spans.toSeq.filter(_.parent != 0).groupBy(_.parent)
    def dur(k: String) = progress.map(_._2.durationMs.getOrElse(k, 0L)).sum / n

    def stageIv(r: Span) = stagesByRoot.getOrElse(r.id, Nil).map(s => (s.startMs, s.endMs))
    def callbackIv(r: Span) =
      children.getOrElse(r.id, Nil).filter(_.layer == "functions").map(s => (s.startMs, s.endMs))
    val stageUnion = roots.map(r => union(clip(stageIv(r), r.startMs, r.endMs)))
    val stagesAndCallbacks = roots.map(r => union(clip(stageIv(r) ++ callbackIv(r), r.startMs, r.endMs)))
    val trig = dur("triggerExecution")
    val sources = dur("latestOffset") + dur("getBatch")
    val wall = roots.map(_.durMs).sum / n
    val lastByQuery = progress.map(_._2).groupBy(_.queryId).values.map(_.maxBy(_.batchId))
    val callbacks = (name: String) =>
      t.spans.toSeq.filter(s => s.layer == "functions" && s.name == name).map(_.durMs).sum / n
    val nBatches = progress.size.toDouble
    val mb = 1024.0 * 1024.0
    val metrics = Map(
      "sources.latest_offset_ms" -> dur("latestOffset"),
      "sources.get_batch_ms" -> dur("getBatch"),
      "streaming.plan_ms" -> dur("queryPlanning"),
      "streaming.wal_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.data_batch_ratio" ->
        (if (nBatches == 0) 0.0 else progress.count(_._2.inputRows > 0) / nBatches),
      "streaming.rows_dropped_late" -> progress.map(_._2.droppedLate).sum.toDouble,
      "state.rows_total" -> lastByQuery.map(_.stateRowsTotal).sum.toDouble,
      "state.rows_updated" -> progress.map(_._2.stateRowsUpdated).sum / n,
      "state.rows_removed" -> progress.map(_._2.stateRowsRemoved).sum / n,
      "state.mem_mb" -> lastByQuery.map(_.stateMemBytes).sum / mb,
      "state.commit_ms" -> progress.map(_._2.stateCommitMs).sum / n,
      "state.update_ms" -> progress.map(_._2.stateUpdateMs).sum / n,
      "state.removal_ms" -> progress.map(_._2.stateRemovalMs).sum / n,
      "spark.jobs_per_batch" -> jobs.size / n,
      "spark.stages_per_batch" -> allStages.size / n,
      "spark.tasks" -> allStages.map(_.tasks).sum / n,
      "spark.task_run_ms" -> allStages.map(_.runMs).sum / n,
      "spark.task_cpu_ms" -> allStages.map(_.cpuNs).sum / 1e6 / n,
      "spark.shuffle_read_mb" -> allStages.map(_.shuffleReadBytes).sum / mb / n,
      "spark.shuffle_write_mb" -> allStages.map(_.shuffleWriteBytes).sum / mb / n,
      "spark.spill_mb" -> allStages.map(_.spillBytes).sum / mb / n,
      "spark.driver_gap_ms" -> roots.zip(stageUnion).map { case (r, u) => r.durMs - u }.sum / n,
      "functions.cluster_load_ms" -> callbacks("loadState"),
      "functions.cluster_save_ms" -> callbacks("saveState"),
      "functions.search_emit_ms" -> callbacks("emit"))
    // self time: each layer's span minus the part its children cover, on
    // the chain batch (client) > trigger (streaming, sources) > callbacks
    // (functions) > stages (spark)
    val selfMs = Map(
      "client" -> (wall - trig),
      "sources" -> sources,
      "streaming" -> (trig - sources - stagesAndCallbacks.sum / n),
      "functions" -> (stagesAndCallbacks.sum - stageUnion.sum) / n,
      "spark" -> stageUnion.sum / n)
    (metrics, selfMs)
  }
}
