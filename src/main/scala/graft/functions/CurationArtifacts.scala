package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable train-tier artifacts for the curation GATE family — the model
  * side's analogue of the materialized ANN / BM25 / LSH indexes: every
  * frozen frame the streaming gates score against (corpus trigram LM,
  * NB routing model + class table, CCNet per-source tercile cuts,
  * benchmark shingle Bloom), written ONCE as parquet under one root and
  * loadable by a serving tier that never re-reads the training corpus.
  *
  * All artifacts are bounded by construction — |charset|^3 trigrams,
  * |classes| x buckets model rows, one cut row per source, one Bloom
  * blob — so a load is a broadcast-sized read no matter how large the
  * corpus that trained them. Refresh cadence belongs to the batch tier:
  * retrain writes a fresh root, serving re-loads, exactly the
  * index-batch / search-stream split the ANN family uses
  * ([[graft.streaming.StreamOps]]).
  *
  * Round-trip fidelity (loaded == in-memory, bit-for-bit through the
  * scorers) is spec-gated in `CurationArtifactsSpec`.
  */
object CurationArtifacts {

  /** The loaded serving bundle. `lmTotal` is re-derived from the model
    * at load (one bounded agg) rather than stored — one source of truth.
    * `datasheet` (the per-source dataset card) and `keepBest` (the
    * quality-aware duplicate-resolution table) publish WITH the model
    * artifacts so a serving tier ships the corpus's card and keep
    * decisions alongside the gates it scores with. Both are bounded:
    * one row per source; one row per near-dup cluster + singleton.
    * `qnormPerSource`/`qnormInverse` are the frozen quantile-matching
    * normalization tables (sources x 1001 and 1001 rows) that
    * `quantileNormAssignStream` scores against.
    */
  final case class Loaded(
      lmModel: DataFrame,
      lmTotal: Long,
      nbModel: DataFrame,
      nbClasses: DataFrame,
      ccnetCuts: DataFrame,
      benchBloom: Array[Byte],
      datasheet: DataFrame,
      keepBest: DataFrame,
      qnormPerSource: DataFrame,
      qnormInverse: DataFrame,
      clusters: DataFrame)

  /** Train every gate artifact on `docs` and persist under `dir`:
    * `lm_model` (t, cnt), `nb_model` (c, b, n_cb), `nb_classes`
    * (c, n_c, d_c), `ccnet_cuts` (src, t1, t2), `bench_bloom` (1 binary
    * row). One corpus read per artifact family; a real pipeline runs
    * this on the reference-corpus cadence, not per batch.
    */
  def train(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String,
      labelCol: String,
      isBench: Column,
      dir: String,
      shingleN: Int = 3,
      nbTrainPermille: Int = 800,
      nbBuckets: Int = 4096,
      lshBands: Int = 4,
      lshRowsPerBand: Int = 4,
      minJaccardMilli: Int = 500): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    TextAnalysis.trigramModel(docs, textCol, idCol)
      .write.mode("overwrite").parquet(s"$dir/lm_model")
    val (m, classes) =
      TextAnalysis.nbTrainModel(docs, textCol, labelCol, nbTrainPermille, nbBuckets)
    m.write.mode("overwrite").parquet(s"$dir/nb_model")
    classes.write.mode("overwrite").parquet(s"$dir/nb_classes")
    Curation.ccnetThresholds(docs, textCol, idCol, srcCol)
      .write.mode("overwrite").parquet(s"$dir/ccnet_cuts")
    Seq(Curation.benchShingleBloom(docs.filter(isBench), textCol, shingleN))
      .toDF("bloom").write.mode("overwrite").parquet(s"$dir/bench_bloom")
    Curation.datasheet(docs, textCol, srcCol, labelCol)
      .write.mode("overwrite").parquet(s"$dir/datasheet")
    // CC runs ONCE; its labels feed keep_best AND publish as their own
    // artifact (`clusters`) — the shared input of the dedup-aware
    // pack/shard/split family, so a serving tier composes those without
    // ever re-running LSH+CC. Dup-population-sized (one row per doc in a
    // multi-member cluster), the same corpus-proportional class as
    // keep_best; maintain incrementally via `Curation.refreshClusters`.
    val cc = Checkpoints.local(Curation.connectedComponents(
      Dedup.minhashLshPairs(docs, textCol, idCol,
        shingleN, lshBands, lshRowsPerBand, minJaccardMilli),
      "a", "b"))
    cc.write.mode("overwrite").parquet(s"$dir/clusters")
    Curation.keepBestFromClusters(docs, textCol, idCol, cc)
      .write.mode("overwrite").parquet(s"$dir/keep_best")
    val (qnormSrc, qnormInv) =
      Curation.quantileNormTables(docs, textCol, idCol, srcCol)
    qnormSrc.write.mode("overwrite").parquet(s"$dir/qnorm_per_source")
    qnormInv.write.mode("overwrite").parquet(s"$dir/qnorm_inverse")
  }

  /** Load a serving bundle. The two `head()`s are bounded BY
    * CONSTRUCTION: the LM total is a 1-row agg over the bounded model,
    * the Bloom table is one row.
    */
  def load(spark: SparkSession, dir: String): Loaded = {
    val lm = spark.read.parquet(s"$dir/lm_model")
    val totalRow = lm.agg(sum(col("cnt")).as("t")).head()
    // an empty lm_model (interrupted train run) would otherwise unbox
    // NULL to 0 and fail far away inside log2Q10 — fail at the source
    require(!totalRow.isNullAt(0) && totalRow.getAs[Long]("t") > 0L,
      s"$dir/lm_model is empty — artifacts were not trained (or the write was interrupted)")
    val total = totalRow.getAs[Long]("t")
    Loaded(
      lmModel = lm,
      lmTotal = total,
      nbModel = spark.read.parquet(s"$dir/nb_model"),
      nbClasses = spark.read.parquet(s"$dir/nb_classes"),
      ccnetCuts = spark.read.parquet(s"$dir/ccnet_cuts"),
      benchBloom = spark.read.parquet(s"$dir/bench_bloom")
        .head().getAs[Array[Byte]]("bloom"),
      datasheet = spark.read.parquet(s"$dir/datasheet"),
      keepBest = spark.read.parquet(s"$dir/keep_best"),
      qnormPerSource = spark.read.parquet(s"$dir/qnorm_per_source"),
      qnormInverse = spark.read.parquet(s"$dir/qnorm_inverse"),
      clusters = spark.read.parquet(s"$dir/clusters"))
  }
}
