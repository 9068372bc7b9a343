package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextAnalysis}

/** Curation stages for documents arriving as a STREAM (file drops, a
  * queue): the narrow gate the shipped [[CurationPipeline]] runs on every
  * micro-batch, and the train-batch / score-stream LM quality score.
  *
  * The reference has no streaming-ingest curation analogue — this is part
  * of the beyond-reference surface; the batch twin is
  * `apps/TrainingDataPipelineApp`.
  */
object StreamingCuration {

  /** Annotate + quality-gate + fingerprint: narrow, streaming-safe. */
  def annotateAndGate(docs: DataFrame, textCol: String, minQualityMilli: Int): DataFrame =
    docs
      .withColumn("lang_pred", TextAnalysis.langId(col(textCol)))
      .withColumn("quality_milli", TextAnalysis.qualityMilli(col(textCol)))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .withColumn("fp", Dedup.normalizedFingerprint(col(textCol)))
      .filter(col("quality_milli") >= minQualityMilli)

  /** Train-batch / score-stream LM quality gate: the character-trigram
    * model is built ONCE on a static reference corpus
    * (`TextAnalysis.trigramModel` — vocabulary bounded by |charset|^3, a
    * broadcastable table), and arriving documents are scored
    * incrementally: a narrow trigram explode, a stream-static broadcast
    * join against the model, and a watermarked per-(window, doc)
    * aggregate. Trigrams unseen in the reference score as singletons
    * (maximum surprisal) — exactly how out-of-vocabulary character
    * sequences should read. This is the standard split for a 100 TB
    * ingest: the expensive model estimation stays in the batch tier and
    * is refreshed on its own cadence; the stream pays one broadcast
    * lookup per trigram and bounded per-window state.
    *
    * Scores converge exactly to `TextAnalysis.lmSurprisalScore` when the
    * stream replays the model's own training corpus (ConvergenceSpec).
    * Output: (window_start, doc_id, n_tri, avg_surprisal_q10).
    */
  def lmSurprisalStream(
      docs: DataFrame,
      model: DataFrame,
      modelTotal: Long,
      textCol: String,
      idCol: String,
      tsCol: String,
      horizon: String = "10 minutes",
      windowDur: String = "1 minute"): DataFrame = {
    val tri = TextAnalysis.charTrigrams(docs, textCol, idCol, carryCols = Seq(tsCol))
    tri
      .withWatermark(tsCol, horizon)
      .join(broadcast(model), Seq("t"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(1L)))
      .withColumn("s_q10", TextAnalysis.surprisalQ10("cnt", modelTotal))
      .groupBy(window(col(tsCol), windowDur), col("doc_id"))
      .agg(count(lit(1)).as("n_tri"), sum(col("s_q10")).as("sum_s"))
      .select(col("window.start").as("window_start"), col("doc_id"),
        col("n_tri"), expr("cast(sum_s div n_tri as bigint)").as("avg_surprisal_q10"))
  }
}
