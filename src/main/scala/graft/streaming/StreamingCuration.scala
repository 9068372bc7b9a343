package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Checkpoints, Curation, Dedup, TextAnalysis}

/** The curation pipeline as a STREAMING flow — documents arriving
  * continuously (file drops, a queue) are annotated, gated, deduplicated
  * within the watermark horizon, sampled and scrubbed incrementally.
  *
  * Everything except the dedup stage is a narrow per-row transform, so the
  * batch operators compose unchanged on a streaming DataFrame; dedup uses
  * `dropDuplicatesWithinWatermark` on the normalized fingerprint, which is
  * the streaming-correct form of exact dedup (state bounded by the
  * watermark horizon — a global-history dedup would grow state without
  * bound; dedupe of the backlog belongs to the batch pipeline).
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

  /** Full streaming flow: gate -> watermark-bounded exact dedup ->
    * deterministic stratified sample -> PII scrub.
    *
    * @param tsCol     event-time column used to bound dedup state
    * @param horizon   watermark delay (how long a duplicate can lag its
    *                  original and still be dropped)
    */
  def pipeline(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      stratCol: String,
      tsCol: String,
      minQualityMilli: Int,
      ratesMilli: Map[String, Int],
      defaultRateMilli: Int,
      horizon: String = "10 minutes"): DataFrame = {
    val gated = annotateAndGate(docs, textCol, minQualityMilli)
    val deduped = gated
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")
    val sampled = Curation.stratifiedSample(
      deduped, idCol, stratCol, ratesMilli, defaultRateMilli)
    Curation.piiScrub(sampled, textCol)
  }

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

  /** Train-batch / score-stream NB classification (the fastText-style
    * routing classifier in serving position): the model is frozen by
    * [[graft.functions.TextAnalysis.nbTrainModel]] on the batch tier,
    * and every micro-batch of documents is classified by the unchanged
    * batch scorer ([[graft.functions.TextAnalysis.nbScoreAgainst]]) —
    * the foreachBatch serving pattern of `StreamOps.bm25SearchStream` /
    * `int8SearchStream`, because argmax-over-classes is two chained
    * aggregations (score, then rank), which append-mode streaming can't
    * express as one watermarked agg. Both model frames are bounded
    * (|classes| x buckets / |classes| rows) and broadcast per batch; the
    * stream pays one narrow trigram explode + two bounded-fanout aggs
    * per micro-batch, no cross-batch state. Predictions converge exactly
    * to the batch [[graft.functions.TextAnalysis.nbClassify]] when the
    * stream replays the model's own training corpus (NbDsirSpec).
    * `emit` receives (doc_id, pred_label, score_q10) per batch.
    */
  /** Train-batch / score-stream diversity sampling: centroids +
    * per-cell cuts ([[graft.functions.Similarity.diversityCuts]]) freeze
    * on the batch tier; each arriving vector micro-batch is scored by
    * the unchanged [[graft.functions.Similarity.diversityAssign]] —
    * the [[nbClassifyStream]] foreachBatch pattern, because the argmax
    * cell assignment is a batch-local aggregation append-mode streaming
    * can't express as one watermarked agg. All state is batch-local, so
    * streamed verdicts equal the batch scorer's row-for-row
    * (StreamingExtrasSpec), and on the frozen corpus itself the `keep`
    * verdicts equal [[graft.functions.Similarity.diversitySample]]'s
    * keep flags except declared `boundary` rows.
    */
  def diversityAssignStream(
      vecs: DataFrame,
      centroids: DataFrame,
      cuts: DataFrame)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => Checkpoints.scoped {
        if (!batch.isEmpty)
        emit(graft.functions.Similarity.diversityAssign(
          batch.toDF(), centroids, cuts))
      }
    }

  def nbClassifyStream(
      docs: DataFrame,
      model: DataFrame,
      classes: DataFrame,
      textCol: String,
      idCol: String,
      buckets: Int = 4096)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => Checkpoints.scoped {
        if (!batch.isEmpty)
        emit(TextAnalysis.nbScoreAgainst(
          batch.toDF(), textCol, idCol, model, classes, buckets))
      }
    }

  /** Train-batch / score-stream DSIR importance weighting (the same
    * split as [[lmSurprisalStream]], and a TRUE streaming query — one
    * watermarked aggregate, no foreachBatch): the target/raw bucket
    * model is frozen by [[graft.functions.Curation.dsirTrainModel]] (+
    * [[graft.functions.Curation.dsirModelTotals]]) on the batch tier;
    * arriving docs pay a narrow trigram explode, one broadcast bucket
    * lookup per occurrence, and a per-(window, doc) sum. Unseen buckets
    * count 0 in both distributions (add-one smoothing absorbs them).
    * Weights converge exactly to the batch
    * [[graft.functions.Curation.dsirWeights]] on the training corpus
    * (NbDsirSpec). Output: (window_start, doc_id, n_tri, dsir_w_q10) —
    * downstream selection is a threshold filter on the weight, exactly
    * as in batch.
    */
  def dsirWeightStream(
      docs: DataFrame,
      model: DataFrame,
      targetTotal: Long,
      rawTotal: Long,
      textCol: String,
      idCol: String,
      tsCol: String,
      horizon: String = "10 minutes",
      windowDur: String = "1 minute",
      buckets: Int = 4096): DataFrame = {
    val l = TextAnalysis.log2Q10Sql _
    val perDocConst = TextAnalysis.log2Q10(rawTotal + buckets) -
      TextAnalysis.log2Q10(targetTotal + buckets)
    TextAnalysis.charTrigrams(docs, textCol, idCol, carryCols = Seq(tsCol))
      .withColumn("b",
        pmod(TextAnalysis.portableHash48(col("t")), lit(buckets)))
      .withWatermark(tsCol, horizon)
      .join(broadcast(model), Seq("b"), "left")
      .withColumn("s1", expr(
        s"${l("(coalesce(ct, 0) + 1)")} - ${l("(coalesce(cr, 0) + 1)")}"))
      .groupBy(window(col(tsCol), windowDur), col("doc_id"))
      .agg(count(lit(1)).as("n_tri"), sum(col("s1")).as("sum_s"))
      .select(col("window.start").as("window_start"), col("doc_id"),
        col("n_tri"),
        expr(s"cast(sum_s + n_tri * $perDocConst as bigint)").as("dsir_w_q10"))
  }

  /** Streaming benchmark-contamination gate (build-batch / gate-stream,
    * the same split as [[lmSurprisalStream]]): the bench-set shingle
    * Bloom is built once on the batch tier
    * (`Curation.benchShingleBloom`) and arriving documents are gated by
    * a NARROW per-row hit count against it — no join, no state, no
    * shuffle in the stream. Docs with more than `maxBenchShingles`
    * bloom hits are held out (the bloom has no false negatives, so a
    * kept doc truly shares at most that many shingles with the bench
    * set — plus FP noise, which only errs toward holding out more).
    */
  def contaminationGate(
      docs: DataFrame,
      textCol: String,
      benchBloom: Array[Byte],
      n: Int,
      maxBenchShingles: Int): DataFrame =
    docs
      .withColumn("bench_hits",
        Curation.benchHitCount(col(textCol), benchBloom, n))
      .filter(col("bench_hits") <= maxBenchShingles)

  /** Streaming Gopher rule gate: every micro-batch of documents is
    * flagged by the unchanged batch [[graft.functions.Curation.gopherRules]]
    * — the foreachBatch serving pattern of [[nbClassifyStream]], because
    * the top-word repetition rule is two chained per-doc aggregations
    * (term counts, then their max), which append-mode streaming can't
    * express as one watermarked agg. All state is batch-local (each
    * doc's flags depend only on its own text — no cross-batch or corpus
    * state), so streamed flags equal the batch flags row-for-row
    * (StreamingExtrasSpec). `emit` receives the full flag frame
    * (doc_id, n_words, r_*, keep) per micro-batch.
    */
  def gopherGateStream(
      docs: DataFrame,
      textCol: String,
      idCol: String)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => Checkpoints.scoped {
        if (!batch.isEmpty)
        emit(Curation.gopherRules(batch.toDF(), textCol, idCol))
      }
    }

  /** Train-batch / score-stream CCNet perplexity bucketing (the same
    * split as [[lmSurprisalStream]], and a TRUE streaming query — one
    * watermarked aggregate, no foreachBatch): the trigram LM
    * ([[graft.functions.TextAnalysis.trigramModel]]) AND the per-source
    * tercile cuts ([[graft.functions.Curation.ccnetThresholds]], one
    * (t1, t2) row per source) are frozen on the batch tier; arriving
    * documents pay a narrow trigram explode, one broadcast model lookup
    * per occurrence, a per-(window, doc, source) aggregate, and a
    * broadcast join against the cuts. This is how CCNet actually runs
    * in production: the reference corpus defines the buckets, the
    * ingest stream is assigned against them — re-deriving terciles per
    * micro-batch would make a document's bucket depend on its batch
    * siblings. Assignments converge exactly to the batch
    * [[graft.functions.Curation.ccnetBuckets]] when the stream replays
    * the corpus the artifacts were frozen from (StreamingExtrasSpec).
    * Sources with no cut row (first seen after the train-tier snapshot)
    * bucket as `"unknown"` rather than silently dropping.
    * Output: (window_start, doc_id, source, avg_surprisal_q10,
    * ppl_bucket).
    */
  def ccnetAssignStream(
      docs: DataFrame,
      model: DataFrame,
      modelTotal: Long,
      thresholds: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String,
      tsCol: String,
      horizon: String = "10 minutes",
      windowDur: String = "1 minute"): DataFrame = {
    val tri = TextAnalysis.charTrigrams(docs, textCol, idCol,
      carryCols = Seq(tsCol, srcCol))
    val th = thresholds.select(col("src").as("__th_src"), col("t1"), col("t2"))
    tri
      .withWatermark(tsCol, horizon)
      .join(broadcast(model), Seq("t"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(1L)))
      .withColumn("s_q10", TextAnalysis.surprisalQ10("cnt", modelTotal))
      .groupBy(window(col(tsCol), windowDur), col("doc_id"), col(srcCol))
      .agg(count(lit(1)).as("n_tri"), sum(col("s_q10")).as("sum_s"))
      .withColumn("s", expr("cast(sum_s div n_tri as bigint)"))
      // LEFT join: a source absent from the frozen cuts (it appeared
      // after the train-tier snapshot) must not silently drop its docs —
      // they surface as "unknown" for the caller to route explicitly,
      // the same graceful-degradation posture as the other serving twins
      // (NB: add-one smoothing; LM: singleton surprisal).
      .join(broadcast(th), col(srcCol) === col("__th_src"), "left")
      .select(col("window.start").as("window_start"), col("doc_id"),
        col(srcCol).as("source"), col("s").as("avg_surprisal_q10"),
        when(col("t1").isNull, lit("unknown"))
          .when(col("s") <= col("t1"), lit("head"))
          .when(col("s") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Streaming per-(window, source) dataset card — the serving twin of
    * the batch `corpus_datasheet` query: ONE watermarked aggregate
    * emitting the stats bundle for each closed window. Exact distinct
    * text counts are unbounded state on a stream, so uniqueness rides a
    * mergeable DataSketches HLL (the `weekly_active_users_sketch`
    * convention — per-window sketches also UNION into day/week cards
    * without rescanning), and language spread a collect_set (bounded by
    * the small language alphabet); docs, token mass and quality mass are
    * exact sums, equal row-for-row to the batch card on a replayed
    * frozen corpus (StreamingExtrasSpec).
    */
  def datasheetStream(
      docs: DataFrame,
      textCol: String,
      srcCol: String,
      langCol: String,
      tsCol: String,
      horizon: String = "10 minutes",
      windowDur: String = "1 minute"): DataFrame =
    docs
      .withWatermark(tsCol, horizon)
      .groupBy(window(col(tsCol), windowDur), col(srcCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        hll_sketch_agg(md5(col(textCol)), 14).as("uniq_sk"),
        sum(TextAnalysis.qualityMilli(col(textCol))).as("sum_quality_milli"),
        collect_set(col(langCol)).as("langs"))
      .select(col("window.start").as("window_start"), col(srcCol),
        col("n_docs"), col("n_tokens"),
        hll_sketch_estimate(col("uniq_sk")).as("approx_uniq_texts"),
        col("sum_quality_milli"),
        size(col("langs")).cast("long").as("n_langs"))

  /** Train-batch/score-stream twin of
    * [[graft.functions.Curation.quantileNormalizeQuality]]: the
    * per-source permille table and the global inverse FREEZE on the
    * batch tier ([[graft.functions.Curation.quantileNormTables]] — the
    * dense table covers the whole [0, 1000] score alphabet, so unseen
    * scores still assign), and the stream is a narrow per-row quality
    * score plus two broadcast integer equi-joins — stateless, no
    * re-derivation of distributions per micro-batch (which would make a
    * doc's normalized score depend on its batch siblings, the same
    * design stance as `ccnetAssignStream`). Docs from sources absent at
    * freeze time are dropped by the inner join — re-freeze to admit a
    * new source.
    */
  def quantileNormAssignStream(
      docStream: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String,
      perSourceTable: DataFrame,
      invTable: DataFrame): DataFrame =
    docStream
      .select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        TextAnalysis.qualityMilli(col(textCol)).as("q_milli"))
      .join(broadcast(perSourceTable), Seq("source", "q_milli"))
      .join(broadcast(invTable), Seq("permille"))
      .select(col("doc_id"), col("source"), col("q_milli"),
        col("permille"), col("q_norm_milli"))

  /** Streaming data-quality monitor: the per-window twin of
    * [[graft.functions.Profiling.tableProfile]]. One watermarked window
    * aggregation computes every profiled column's stats simultaneously —
    * exact row/null counts and portable min/max reprs are mergeable
    * as-is; exact `count(DISTINCT)` is NOT mergeable streaming state, so
    * uniqueness rides an HLL sketch (union-mergeable, ~2% at lgK=12;
    * tolerance pinned against the exact batch profile in
    * StreamingExtrasSpec). The per-window summary row unpacks to one row
    * per (window, column) with the same long-format schema as the batch
    * profiler, so a dashboard consumes both tiers interchangeably.
    *
    * State per window is FIXED-SIZE (counts + 2 reprs + one sketch per
    * profiled column) — never row-sized — so the monitor holds at any
    * stream rate.
    */
  def profileStream(
      df: DataFrame,
      tsCol: String,
      columns: Seq[(String, String)],
      horizon: String = "10 minutes",
      windowDur: String = "1 minute"): DataFrame = {
    import graft.functions.Profiling
    val aggs: Seq[org.apache.spark.sql.Column] =
      columns.flatMap { case (c, kind) =>
        Seq(
          count(col(c)).as(s"${c}__nn"),
          hll_sketch_agg(col(c).cast("string"), lit(12)).as(s"${c}__sk"),
          Profiling.repr(kind, min(col(c))).as(s"${c}__min"),
          Profiling.repr(kind, max(col(c))).as(s"${c}__max"))
      }
    val rows = columns.map { case (c, _) =>
      struct(
        lit(c).as("column"),
        col("__n_rows").as("n_rows"),
        (col("__n_rows") - col(s"${c}__nn")).as("n_nulls"),
        hll_sketch_estimate(col(s"${c}__sk")).as("approx_distinct"),
        col(s"${c}__min").as("min_repr"),
        col(s"${c}__max").as("max_repr"))
    }
    df.withWatermark(tsCol, horizon)
      .groupBy(window(col(tsCol), windowDur))
      .agg(count(lit(1)).as("__n_rows"), aggs: _*)
      .select(col("window.start").as("window_start"),
        explode(array(rows: _*)).as("p"))
      .select(col("window_start"), col("p.*"))
  }

  /** Streaming embedding-drift monitor: the per-window twin of
    * [[graft.functions.Profiling.embeddingDrift]], turning the one-shot
    * crawl audit into a continuous check on an arriving embedding stream
    * (new crawl shards, a re-encode feed) against a FROZEN training-
    * snapshot reference — the `ccnetAssignStream` frozen-table pattern.
    *
    * Plan shape: posexplode to (ts, dim, q6) — a narrow per-row
    * transform — then the broadcast join against the ≤ dims-row frozen
    * means BEFORE the aggregation (streaming joins are unrestricted
    * pre-agg; the reference mean is constant per dim so the group carries
    * it with a `min`), then ONE watermarked (window, dim) aggregation.
    * State per window is ≤ dims fixed-size rows — never row- or
    * vector-sized — so the monitor holds at any stream rate.
    *
    * Same `floor(x*1e6)` quantization and truncating division as the
    * batch report: on a frozen corpus replay the per-window row for the
    * covering window equals the batch `embeddingDrift` row exactly
    * (StreamingExtrasSpec).
    *
    * @param refMeans frozen `(dim, n_ref, ref_mean_q6)` —
    *                 [[graft.functions.Profiling.dimMeans]] of the
    *                 reference slice, localCheckpointed or read from a
    *                 table
    */
  def embeddingDriftStream(
      embStream: DataFrame,
      tsCol: String,
      vecCol: String,
      refMeans: DataFrame,
      horizon: String = "10 minutes",
      windowDur: String = "1 minute"): DataFrame =
    embStream.withWatermark(tsCol, horizon)
      .select(col(tsCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col(tsCol), col("dim"),
        floor(col("x").cast("double") * lit(1000000)).cast("long").as("q"))
      .join(broadcast(refMeans), Seq("dim"))
      .groupBy(window(col(tsCol), windowDur), col("dim"))
      .agg(count(lit(1)).as("n_cand"), sum(col("q")).as("scand"),
        min(col("n_ref")).as("n_ref"),
        min(col("ref_mean_q6")).as("ref_mean_q6"))
      .select(col("window.start").as("window_start"), col("dim"),
        col("n_ref"), col("n_cand"), col("ref_mean_q6"),
        expr("scand div n_cand").as("cand_mean_q6"),
        (expr("scand div n_cand") - col("ref_mean_q6")).as("delta_q6"))

  /** Streaming snapshot-diff monitor: the per-window twin of
    * [[graft.functions.Profiling.snapshotDiff]] — arriving documents are
    * classified against a FROZEN reference snapshot's digests as
    * `added` (id unseen in the reference), `changed` (digest differs) or
    * `unchanged`, counted per (window, source, status).
    *
    * Semantic delta vs the batch diff, by construction: `removed` does
    * not exist here — a document absent from the stream never arrives,
    * so absence is unobservable; the batch diff remains the tool for
    * removal audits. Everything that DOES arrive is classified exactly
    * as the batch diff classifies it (StreamingExtrasSpec).
    *
    * Plan shape: digest + join on the unique id against the thin frozen
    * (id, digest) table — stream-static equi-join before any
    * aggregation, no skew risk on unique ids, only 16-byte digests
    * shuffle — then ONE watermarked (window, source, status) count whose
    * state is |sources| x 3 fixed-size rows per window.
    *
    * @param refDigests frozen `(ref_id, ref_dg)` —
    *                   [[graft.functions.Profiling.refDigests]] of the
    *                   reference snapshot
    */
  def snapshotDiffStream(
      docStream: DataFrame,
      tsCol: String,
      idCol: String,
      textCol: String,
      srcCol: String,
      refDigests: DataFrame,
      horizon: String = "10 minutes",
      windowDur: String = "1 minute"): DataFrame =
    docStream.withWatermark(tsCol, horizon)
      .select(col(tsCol), col(idCol).as("__id"), col(srcCol).as("source"),
        md5(col(textCol)).as("__dg"))
      .join(refDigests, col("__id") === col("ref_id"), "left")
      .select(col(tsCol), col("source"),
        when(col("ref_id").isNull, lit("added"))
          .when(col("ref_dg") =!= col("__dg"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(window(col(tsCol), windowDur), col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("window.start").as("window_start"),
        col("source"), col("status"), col("n_docs"))
}
