package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.{Checkpoints, Dedup, IndexLayout}
import graft.sinks.Sinks
import graft.functions.Checkpoints.Owned

/** The streaming-curation CAPSTONE: one document stream fanned into the
  * two pipelines a training-data ingest actually runs, from a single
  * source read — the streaming analogue of the reference's one-source /
  * two-pipeline composite (`chapter6/CourseUseCase.java:1-214`, which
  * fans one browser stream into a keyed window agg and a stateful
  * sessionization), re-expressed over the curation operators:
  *
  *   - CURATE branch: quality-gated docs are scored against the
  *     materialized LSH dedup index ([[graft.functions.Dedup.nearDupsAgainstIndex]],
  *     excluding the batch's own rows so replays are deterministic),
  *     near-dups land in a dup log, clean docs land in the kept corpus
  *     AND grow the index ([[graft.functions.Dedup.appendToLshIndex]]) —
  *     so a duplicate arriving minutes after its original is caught.
  *   - METRICS branch: per-batch per-language counts / token sums /
  *     mean quality — the ops dashboard feed.
  *
  * Every write in both branches is a `batch=<id>` dynamic-partition
  * overwrite ([[graft.functions.IndexLayout]]), so foreachBatch's
  * at-least-once replay yields exactly-once CONTENTS in all four outputs
  * (kept corpus, dup log, LSH index, metrics) — and a crash-restart from
  * the checkpoint converges to the never-crashed run's outputs
  * (spec: `CurationPipelineSpec`).
  *
  * At 100 TB/day this shape holds: the gate is a narrow per-row
  * transform, the dedup probe reads only the (<= `buckets`) index
  * partitions the batch's band hashes touch, and the index append
  * shuffles only the batch — no stage scans history.
  */
object CurationPipeline {

  /** Per-batch body of the curate branch (public so specs and batch
    * backfills can run one batch directly).
    */
  def curateBatch(
      gated: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      keptPath: String,
      dupsPath: String,
      indexPath: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      minJaccardMilli: Int,
      buckets: Int): Unit = Checkpoints.scoped {
    // pinned: the batch feeds the dup probe (twice: bucket collect +
    // candidate join), the anti-join, and the index append
    val b = gated.checkpointed()
    val dups = Dedup.nearDupsAgainstIndex(
      b.sparkSession, b, textCol, idCol, indexPath,
      n, bands, rowsPerBand, minJaccardMilli, buckets,
      excludeBatchId = Some(batchId)).checkpointed()
    IndexLayout.overwriteBatchPartitions(
      dups.withColumn("batch", lit(batchId)), dupsPath, Seq("batch"))
    val clean = b.join(
      dups.select(col("new_id").as(idCol)).distinct(), Seq(idCol), "left_anti")
    IndexLayout.overwriteBatchPartitions(
      clean.withColumn("batch", lit(batchId)), keptPath, Seq("batch"))
    Dedup.appendToLshIndex(
      clean, textCol, idCol, indexPath, n, bands, rowsPerBand, buckets,
      batchId = Some(batchId))
  }

  /** Per-batch body of the metrics branch: per-language doc/token counts
    * and mean quality, one row set per micro-batch.
    */
  def metricsBatch(
      gated: DataFrame,
      batchId: Long,
      metricsPath: String): Unit = Checkpoints.scoped {
    IndexLayout.overwriteBatchPartitions(
      gated.groupBy("lang_pred")
        .agg(
          count(lit(1)).as("docs"),
          sum("n_tokens").as("tokens"),
          floor(avg("quality_milli")).cast("long").as("avg_quality_milli"))
        .withColumn("batch", lit(batchId)),
      metricsPath, Seq("batch"))
  }

  /** One gated doc stream fanned into curate + metrics. Caller sets the
    * checkpoint location and starts the returned writer; restarting from
    * the same checkpoint resumes exactly where the crash left off. The
    * dedup probe matches the index's LSH layout: 3-gram shingles, 4 bands
    * of 4 rows, near-dups at Jaccard >= 0.6.
    */
  def start(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minQualityMilli: Int,
      keptPath: String,
      dupsPath: String,
      indexPath: String,
      metricsPath: String,
      buckets: Int = 16): DataStreamWriter[Row] = {
    val gated = StreamingCuration.annotateAndGate(docs, textCol, minQualityMilli)
    Sinks.fanoutSinkById(gated, Seq(
      "curate" -> ((b: DataFrame, id: Long) =>
        if (!b.isEmpty)
          curateBatch(b, id, textCol, idCol, keptPath, dupsPath, indexPath,
            n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 600, buckets)),
      "metrics" -> ((b: DataFrame, id: Long) =>
        if (!b.isEmpty)
          metricsBatch(b, id, metricsPath))))
  }
}
