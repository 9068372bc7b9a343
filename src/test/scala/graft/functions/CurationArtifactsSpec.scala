package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables
import graft.functions.Checkpoints.Owned

/** Round-trip fidelity of the persisted gate artifacts: every scorer
  * must produce bit-identical output from the LOADED bundle and from
  * the in-memory frames it was trained from — the property that lets a
  * serving tier restart from parquet without retraining.
  */
class CurationArtifactsSpec extends SparkSpec {
  import spark.implicits._

  test("loaded artifacts score bit-identically to the in-memory frames") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "lang", "text").checkpointed()
    val dir = java.nio.file.Files.createTempDirectory("graft_artifacts").toString
    val isBench = pmod(col("doc_id"), lit(20)) === 0
    CurationArtifacts.train(docs, "text", "doc_id", "source", "lang",
      isBench, dir)
    val a = CurationArtifacts.load(spark, dir)

    // LM: frozen-model surprisal scoring equals the in-memory model's
    val lmMem = TextAnalysis.trigramModel(docs, "text", "doc_id")
    val totalMem = lmMem.agg(sum("cnt")).as[Long].head()
    assert(a.lmTotal === totalMem)
    assert(a.lmModel.as[(String, Long)].collect().sorted ===
      lmMem.as[(String, Long)].collect().sorted)

    // NB: scoring against the loaded model equals the in-memory model
    val (mMem, cMem) = TextAnalysis.nbTrainModel(docs, "text", "lang")
    val fromLoaded = TextAnalysis.nbScoreAgainst(
      docs, "text", "doc_id", a.nbModel, a.nbClasses)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val fromMem = TextAnalysis.nbScoreAgainst(
      docs, "text", "doc_id", mMem, cMem)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(fromLoaded.nonEmpty)
    assert(fromLoaded === fromMem)

    // CCNet cuts: identical rows to a fresh threshold derivation
    assert(a.ccnetCuts.as[(String, Long, Long)].collect().sortBy(_._1) ===
      Curation.ccnetThresholds(docs, "text", "doc_id", "source")
        .as[(String, Long, Long)].collect().sortBy(_._1))

    // Bloom: per-doc bench-shingle hit counts equal the fresh bloom's
    val freshBloom = Curation.benchShingleBloom(
      docs.filter(isBench), "text", n = 3)
    val hitsLoaded = docs
      .select(col("doc_id"), Curation.benchHitCount(col("text"), a.benchBloom, 3).as("h"))
      .as[(Long, Int)].collect().sortBy(_._1)
    val hitsFresh = docs
      .select(col("doc_id"), Curation.benchHitCount(col("text"), freshBloom, 3).as("h"))
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(hitsLoaded === hitsFresh)
    assert(hitsLoaded.exists(_._2 > 0), "bench docs must self-hit the bloom")

    // Datasheet: the loaded card equals the batch corpus_datasheet query
    // row-for-row (the oracle-green gate form)
    val cardLoaded = a.datasheet
      .select("source", "n_docs", "n_tokens", "n_uniq_texts",
        "sum_quality_milli", "n_langs")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val cardBatch = LlmQueries.queries("corpus_datasheet")(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(cardLoaded.nonEmpty)
    assert(cardLoaded === cardBatch)

    // Keep-best: the loaded resolution table equals the batch
    // dedup_keep_best query row-for-row
    val kbLoaded = a.keepBest
      .select("cluster_id", "keep_doc_id", "quality_milli")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val kbBatch = LlmQueries.queries("dedup_keep_best")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(kbLoaded.nonEmpty)
    assert(kbLoaded === kbBatch)

    // Clusters: the loaded label table drives the dedup-aware family
    // identically to a fresh CC — the serving tier never re-runs LSH+CC
    val ccMem = Curation.connectedComponents(
      Dedup.minhashLshPairs(docs, "text", "doc_id", 3, 4, 4, 500), "a", "b")
    assert(a.clusters.as[(Long, Long)].collect().sorted ===
      ccMem.as[(Long, Long)].collect().sorted)
    val splitLoaded = Curation.datasetSplitDedupAware(
      docs, "text", "doc_id", 100, 50, a.clusters)
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    val splitMem = Curation.datasetSplitDedupAware(
      docs, "text", "doc_id", 100, 50, ccMem)
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(splitLoaded.nonEmpty)
    assert(splitLoaded === splitMem)

    // Quantile-norm tables: scoring the frozen corpus against the LOADED
    // tables equals the batch normalization row-for-row
    val fromLoadedQn = docs
      .select(col("doc_id"), col("source"),
        TextAnalysis.qualityMilli(col("text")).as("q_milli"))
      .join(a.qnormPerSource, Seq("source", "q_milli"))
      .join(a.qnormInverse, Seq("permille"))
      .select("doc_id", "source", "q_milli", "permille", "q_norm_milli")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    val qnBatch = Curation.quantileNormalizeQuality(docs, "text", "doc_id", "source")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(fromLoadedQn.nonEmpty)
    assert(fromLoadedQn === qnBatch)
  }
}
