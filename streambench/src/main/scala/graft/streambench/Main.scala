package graft.streambench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Streaming benchmark entry point.
  *
  * {{{
  * Main --workload <chapters_steady|index_maintain>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * The session comes from `GraftSession.local(cores = nproc)` with no
  * overrides, so the shipped config is the one timed. The last stdout line
  * is the result: `correct`, `attempted`, `failed` and `metrics` (name to
  * value; `run.py` adds the units `BENCHMARK.json` declares). With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
  * run interleaves untraced and traced passes and reports the per-layer
  * metrics of the traced one. A report with the session conf, the resource screen
  * and (traced) the spans and per-layer self times goes to `--out`.
  */
object Main {
  val Workloads = Seq("chapters_steady", "index_maintain")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    out.mkdirs()

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val conf = sessionConf(spark)
    System.err.println(s"[streambench] session conf: $conf")

    val c = new Ctx(spark, new File(work, "run"), seed)
    val tracer = if (traced) Some(new Tracer) else None
    val setupS = sessionS + (workload match {
      case "chapters_steady" => ChaptersWorkload.run(c, seconds, tracer)
      case "index_maintain" => IndexWorkload.run(c, seconds, tracer)
    })
    val screen = Screen.take(spark)
    System.err.println(s"[streambench] resource screen: $screen")

    val untraced = c.batches.filter(!_.traced)
    val e2e = endToEnd(untraced, setupS)
    var all = c.batches.toSeq
    val metrics: Map[String, Double] =
      if (!traced) e2e
      else {
        val t = tracer.get
        val (layers, selfMs) = Layers.compute(t)
        val tracedE2e = endToEnd(c.batches.filter(_.traced), setupS)
        // single-thread baseline for the parallel speedup (chapters_steady)
        val oneCore =
          if (workload != "chapters_steady") Map("streaming.rows_per_s_1core" -> 0.0,
            "streaming.parallel_speedup" -> 0.0)
          else {
            spark.stop()
            val s1 = GraftSession.local(1)
            val c1 = new Ctx(s1, new File(work, "one_core"), seed)
            ChaptersWorkload.run(c1, seconds / 2, None)
            all = all ++ c1.batches
            val r1 = endToEnd(c1.batches.toSeq, 0.0)("rows_per_s")
            s1.stop()
            Map("streaming.rows_per_s_1core" -> r1,
              "streaming.parallel_speedup" -> e2e("rows_per_s") / r1)
          }
        writeTrace(new File(out, s"$workload-seed$seed-trace.jsonl"), t)
        val m = layers ++ oneCore ++ Map(
          "session.start_s" -> sessionS,
          "functions.lsh_seed_s" -> c.setupSteps.getOrElse("lsh_seed", 0.0),
          "functions.cc_seed_s" -> c.setupSteps.getOrElse("cc_seed", 0.0),
          "functions.bm25_seed_s" -> c.setupSteps.getOrElse("bm25_seed", 0.0),
          "sinks.files_written" -> c.sinkFiles.toDouble,
          "sinks.bytes_written_mb" -> c.sinkBytes / 1024.0 / 1024.0,
          "checkpoints.blocks_held_after" -> screen("blocks_held").toDouble,
          "checkpoints.rdds_held_after" -> screen("rdds_held").toDouble,
          "checkpoints.dirs_left_after" -> screen("dirs_left").toDouble,
          "streaming.queries_active_after" -> screen("queries_active").toDouble,
          "trace.overhead_batch_ms" -> (tracedE2e("batch_ms_p50") - e2e("batch_ms_p50")),
          "trace.overhead_pct" -> (100.0 * (e2e("rows_per_s") / tracedE2e("rows_per_s") - 1.0)))
        Json.write(new File(out, s"$workload-seed$seed-layers.json"), Map(
          "self_ms_per_batch" -> selfMs, "untraced" -> e2e, "traced" -> tracedE2e))
        m
      }
    val failed = all.count(_.failed)
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> metrics)
    Json.write(new File(out, s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"),
      Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
        "session_conf" -> conf, "resource_screen" -> screen, "setup_steps_s" -> c.setupSteps.toMap,
        "batches" -> all.groupBy(_.pipeline).map { case (p, bs) =>
          p -> Map("n" -> bs.size, "failed" -> bs.count(_.failed),
            "ms_p50" -> Ctx.median(bs.map(_.ms)), "rows" -> bs.map(_.rows).sum)
        },
        "result" -> result))
    if (!spark.sparkContext.isStopped) spark.stop()
    println(Json.render(result))
  }

  /** End-to-end figures over the successful batches. Each pipeline (or
    * index batch kind) counts once: `rows_per_s` is the geometric mean of
    * the pipelines' rows ÷ busy seconds and `batch_ms_p50` the geometric
    * mean of their median batch times, so a pipeline that gets more
    * batches in its share does not weigh more.
    */
  def endToEnd(bs: scala.collection.Seq[BatchRec], setupS: Double): Map[String, Double] = {
    val byPipe = bs.filter(!_.failed).groupBy(_.pipeline).values.toSeq
    def geomean(xs: Seq[Double]) = { val p = xs.filter(_ > 0); math.exp(p.map(math.log).sum / p.size) }
    Map(
      "setup_s" -> setupS,
      "rows_per_s" -> geomean(byPipe.map(p => p.map(_.rows).sum * 1000.0 / p.map(_.ms).sum)),
      "batch_ms_p50" -> geomean(byPipe.map(p => Ctx.median(p.map(_.ms)))))
  }

  /** The settings a session-factory change would move. */
  def sessionConf(spark: SparkSession): Map[String, String] = Seq(
    "spark.master",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.statefulOperator.stateRebalancing.enabled",
    "spark.sql.files.maxPartitionBytes"
  ).map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap +
    ("cores" -> spark.sparkContext.defaultParallelism.toString)

  /** The trace as JSON lines: the benchmark's spans, then Spark's
    * micro-batch progress, jobs and stages.
    */
  private def writeTrace(f: File, t: Tracer): Unit = {
    val w = new java.io.PrintWriter(f)
    try {
      t.spans.foreach(s => w.println(Json.render(Map("span" -> s.name, "id" -> s.id,
        "parent" -> s.parent, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> s.attrs))))
      t.progress.foreach(p => w.println(Json.render(Map("progress" -> p.queryId,
        "batch" -> p.batchId, "start_ms" -> p.startMs, "duration_ms" -> p.durationMs,
        "input_rows" -> p.inputRows, "state_rows" -> p.stateRowsTotal,
        "state_commit_ms" -> p.stateCommitMs, "dropped_late" -> p.droppedLate))))
      t.jobs.foreach(j => w.println(Json.render(Map("job" -> j.jobId, "query" -> j.queryId,
        "batch" -> j.batchId, "start_ms" -> j.startMs, "stages" -> j.stageIds))))
      t.stages.values.foreach(s => w.println(Json.render(Map("stage" -> s.stageId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "cpu_ms" -> s.cpuNs / 1e6))))
    } finally w.close()
  }
}

/** What is still held after a workload: persisted RDDs and their blocks,
  * active streaming queries, and directories the engine left in the run's
  * temp dir (Spark's own scratch and artifact dirs excepted).
  */
object Screen {
  def take(spark: SparkSession): Map[String, Long] = {
    val sc = spark.sparkContext
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val left = Option(tmp.listFiles()).toSeq.flatten.filter(f => f.isDirectory &&
      !Seq("spark-", "blockmgr-", "artifacts-").exists(f.getName.startsWith))
    Map(
      "rdds_held" -> sc.getPersistentRDDs.size.toLong,
      "blocks_held" -> sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum,
      "queries_active" -> spark.streams.active.length.toLong,
      "dirs_left" -> left.size.toLong)
  }
}

/** Minimal JSON rendering for the result line and the reports. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  def render(v: Any): String = mapper.writeValueAsString(toJava(v))

  def write(f: File, v: Any): Unit = {
    val w = new java.io.PrintWriter(f)
    try w.println(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(toJava(v)))
    finally w.close()
  }
}
