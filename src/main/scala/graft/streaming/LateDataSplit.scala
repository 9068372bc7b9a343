package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** W2 (`chapter4/EventTimeOperations.java:128-171`): late-data side output.
  *
  * Spark's built-in watermark silently *drops* rows older than the
  * watermark; the reference instead tees them to a side stream for later
  * processing. This utility reproduces that: a `foreachBatch` splitter
  * that maintains the event-time high watermark across micro-batches
  * (max event time seen in *previous* batches minus the allowed lateness
  * — the same definition Flink's bounded-out-of-orderness assigner uses)
  * and routes each micro-batch's rows to an on-time or late handler.
  *
  * The watermark bookkeeping is a single `AtomicLong` on the driver —
  * O(1) state, no scaling concern; the per-batch split is two filtered
  * distributed writes, no extra shuffle.
  */
final class LateDataSplit(
    tsCol: String,
    allowedLatenessMs: Long,
    onTime: (DataFrame, Long) => Unit,
    late: (DataFrame, Long) => Unit) extends Serializable {

  private val highWatermarkMs = new AtomicLong(Long.MinValue)

  /** Current watermark (epoch ms): max seen event time - allowed lateness. */
  def watermarkMs: Long = {
    val hw = highWatermarkMs.get()
    if (hw == Long.MinValue) Long.MinValue else hw - allowedLatenessMs
  }

  /** foreachBatch body: split `batch` by the watermark carried over from
    * previous batches, then advance the watermark.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val wm = watermarkMs
    val tsMs = unix_millis(col(tsCol))
    val cached = batch.persist() // three consumers; evaluate the batch once
    try {
      val (onTimeDf, lateDf) =
        if (wm == Long.MinValue) (cached, cached.limit(0))
        else (cached.filter(tsMs >= wm), cached.filter(tsMs < wm))
      onTime(onTimeDf, batchId)
      late(lateDf, batchId)
      val batchMax = cached.agg(max(tsMs)).collect().head
      if (!batchMax.isNullAt(0)) {
        val m = batchMax.getLong(0)
        highWatermarkMs.updateAndGet(cur => math.max(cur, m))
      }
    } finally { cached.unpersist(); () }
  }

  /** Attach to a streaming DataFrame: returns the writer (caller starts it). */
  def writer(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.foreachBatch((b: Dataset[Row], id: Long) => processBatch(b.toDF(), id))
}
