package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}

private[graft] object JobCounter {

  /** `body`'s result, the number of Spark jobs it started and the stages
    * that completed meanwhile. Listener events arrive asynchronously, in
    * order, on one thread: a sentinel job run afterwards marks the end of
    * the body's events, and is itself not counted.
    */
  def during[T](sc: SparkContext)(body: => T): (T, Int, Seq[StageInfo]) = {
    val sentinel = "job-counter-sentinel"
    @volatile var jobs = 0
    @volatile var stages = Vector.empty[StageInfo]
    @volatile var sentinelId = -1
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel))
          sentinelId = e.jobId
        else if (sentinelId < 0) jobs += 1
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelId) drained.countDown()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (sentinelId < 0) stages :+= e.stageInfo
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      require(drained.await(60, TimeUnit.SECONDS), "the listener never saw the sentinel job")
      (out, jobs, stages)
    } finally sc.removeSparkListener(listener)
  }
}
