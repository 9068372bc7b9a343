package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Bench, GraftSession, SparkEntry}

/** Single-query dev probe over [[SparkEntry.queries]], one fresh factory
  * session per query:
  *
  *  - `time`: the query's Bench row without a full Bench pass, through
  *    [[Bench.timeRow]] itself: a fresh session, two warm runs on the
  *    sf0.001 sibling (codegen/JIT off the clock), then 3 timed
  *    full-scale noop-sink runs. Prints the min and every time. A
  *    graph-family row is timed in its one-shot gate form (edge build
  *    included), where Bench times it off stored edge tables.
  *  - `stages`: the same warms, then ONE timed run with a listener:
  *    every stage sorted by wall, with tasks, executor run/CPU/GC time,
  *    shuffle read/write and the callsite name, then the job and stage
  *    counts of the run.
  *  - `plan`: the formatted physical plan (pushdown, broadcast and
  *    whole-stage-codegen shape).
  *
  * Usage: runMain graft.tools.Probe <time|stages|plan> <queryName> [queryName ...]
  * Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 corpus, as Bench), SPARK_GRAFT_CPUS.
  */
object Probe {
  private final case class Stage(id: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long,
      shRead: Long, shWrite: Long, wallMs: Long)

  def main(args: Array[String]): Unit = {
    val modes = Set("time", "stages", "plan")
    require(args.length >= 2 && modes(args(0)),
      "usage: Probe <time|stages|plan> <queryName> [queryName ...]")
    val mode = args(0)
    val names = args.toSeq.drop(1)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = Bench.warmSibling(sf)
    for (q <- names) {
      val fn = SparkEntry.queries(q)
      if (mode == "time") {
        val r = Bench.timeRow(q)(s => warmDir.map(d => () => fn(s, d)), s => () => fn(s, sf))
        val times = r.runs.map(t => f"$t%.2f").mkString(", ")
        println(if (r.ok) f"[probe] $q%-28s min ${r.sec}%.2f s  ($times)"
          else s"[probe] $q FAILED ($times)")
      } else {
        val spark = GraftSession.local(appName = s"probe-$mode")
        if (mode == "stages") warmDir.foreach { d =>
          try { Bench.exec(fn(spark, d)); Bench.exec(fn(spark, d)) }
          catch { case _: Throwable => () }
        }
        mode match {
          case "plan" =>
            println(s"\n========== $q ==========")
            println(fn(spark, sf).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          case _ =>
            val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
            val jobs = new java.util.concurrent.atomic.AtomicInteger()
            // listener events arrive asynchronously, in order: a sentinel
            // job run after the timed one marks the end of its events
            val sentinel = "probe-sentinel"
            @volatile var sentinelId = -1
            val drained = new java.util.concurrent.CountDownLatch(1)
            val listener = new SparkListener {
              override def onJobStart(e: SparkListenerJobStart): Unit =
                if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel))
                  sentinelId = e.jobId
              override def onJobEnd(e: SparkListenerJobEnd): Unit =
                if (e.jobId == sentinelId) drained.countDown() else jobs.incrementAndGet()
              override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
                val si = e.stageInfo
                val m = si.taskMetrics
                val wall = (for { a <- si.completionTime; b <- si.submissionTime }
                  yield a - b).getOrElse(0L)
                if (sentinelId < 0) stages.synchronized {
                  stages += Stage(si.stageId, si.name, si.numTasks,
                    m.executorRunTime, m.executorCpuTime / 1000000,
                    m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
                    m.shuffleWriteMetrics.bytesWritten, wall)
                }
              }
            }
            spark.sparkContext.addSparkListener(listener)
            val t0 = System.nanoTime()
            Bench.exec(fn(spark, sf))
            val total = (System.nanoTime() - t0) / 1e9
            spark.sparkContext.setJobDescription(sentinel)
            spark.sparkContext.parallelize(Seq(1), 1).count()
            drained.await(60, java.util.concurrent.TimeUnit.SECONDS)
            spark.sparkContext.removeSparkListener(listener)
            println(f"\n===== $q: $total%.2f s, ${jobs.get} jobs, ${stages.size} stages =====")
            println(f"${"stage"}%6s ${"tasks"}%5s ${"wall_s"}%7s ${"run_s"}%7s " +
              f"${"cpu_s"}%7s ${"gc_s"}%5s ${"shR_MB"}%7s ${"shW_MB"}%7s  name")
            stages.sortBy(-_.wallMs).take(40).foreach { r =>
              println(f"${r.id}%6d ${r.tasks}%5d ${r.wallMs / 1e3}%7.2f " +
                f"${r.runMs / 1e3}%7.2f ${r.cpuMs / 1e3}%7.2f ${r.gcMs / 1e3}%5.1f " +
                f"${r.shRead / 1e6}%7.1f ${r.shWrite / 1e6}%7.1f  ${r.name.take(90)}")
            }
            val sumWall = stages.map(_.wallMs).sum / 1e3
            println(f"[probe] $q total=$total%.2f s, sum stage wall=$sumWall%.2f s, " +
              f"jobs=${jobs.get}, stages=${stages.size}")
        }
        spark.stop()
        System.gc()
      }
    }
  }
}
