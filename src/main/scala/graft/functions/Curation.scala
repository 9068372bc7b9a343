package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Checkpoints.Owned

/** Corpus-curation operators for training-data pipelines, beyond dedup:
  * benchmark-contamination detection, deterministic stratified sampling,
  * sequence packing, duplicate-cluster resolution, keyword extraction and
  * PII scrubbing. Every operator is a declarative DataFrame transform with
  * an engine-portable definition (md5-derived hashing, integer-quantized
  * scores) so the DuckDB oracle gate can check it bit-for-bit.
  */
object Curation {

  /** 48-bit md5-prefix hash of a column's string form — the engine-neutral
    * deterministic hash used for sampling decisions (NOT a UDF: conv +
    * md5 + substring are all codegen'd built-ins).
    */
  def hash48(c: Column): Column =
    TextAnalysis.portableHash48(c.cast("string"))

  /** Benchmark-contamination pairs: corpus documents sharing >= 1 hashed
    * n-gram with a benchmark document, scored by containment of the
    * BENCHMARK's shingle set (the standard train-test leakage check:
    * `inter / |bench shingles|`).
    *
    * Scale shape mirrors `Dedup.ngramJaccardPairs`: shingles with global
    * document frequency > `maxShingleDf` are dropped before the join
    * (bounding per-shingle fan-out at maxShingleDf^2), the join carries
    * (shingle, id) pairs only, and the benchmark side of a real pipeline
    * is tiny next to the corpus — Catalyst/AQE broadcasts it.
    * Containment is computed over the capped shingle universe.
    */
  def contaminationPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      isBench: Column,
      n: Int,
      maxShingleDf: Int,
      minContainMilli: Int): DataFrame =
    contaminationPairsFromShingles(
      Dedup.withHashedShingles(docs, textCol, n, "sh")
        .select(col(idCol).as("doc"), isBench.as("is_bench"), col("sh"))
        .filter(size(col("sh")) > 0),
      maxShingleDf, minContainMilli)

  /** [[contaminationPairs]] over a PRE-SHINGLED (`doc`, `is_bench`, `sh`)
    * frame — pairs with `Dedup.bandKeysFromShingles` so a composed
    * pipeline shingles the corpus exactly once (see
    * [[curationKeep]]).
    */
  def contaminationPairsFromShingles(
      sh: DataFrame,
      maxShingleDf: Int,
      minContainMilli: Int): DataFrame = {
    val ex = sh.select(col("doc"), col("is_bench"), explode(col("sh")).as("g"))
    val freq = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val rare = ex.join(freq, "g").filter(col("df") <= maxShingleDf).drop("df")
    val benchSizes = rare.filter(col("is_bench"))
      .groupBy(col("doc").as("bench_id")).agg(count(lit(1)).as("nb"))
    rare.filter(!col("is_bench")).select(col("g"), col("doc").as("doc_id"))
      .join(rare.filter(col("is_bench")).select(col("g"), col("doc").as("bench_id")), "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("inter"))
      .join(benchSizes, "bench_id")
      .withColumn("containment_milli",
        floor(col("inter") * lit(1000.0) / col("nb")).cast("long"))
      .filter(col("containment_milli") >= minContainMilli)
      .select(col("doc_id"), col("bench_id"), col("inter"), col("nb"),
        col("containment_milli"))
  }

  /** Per-benchmark-item leakage report — the flip side of
    * [[contaminationPairs]]: instead of listing contaminated TRAIN docs,
    * answer the eval owner's question "how dirty is each benchmark item,
    * and what is its worst contaminator?". One row per bench doc:
    * hit count, max containment, and the argmax train doc (containment
    * desc, min id tie-break); clean items report 0 hits with a null
    * contaminator.
    *
    * Shape: the pair frame (already df-cap bounded) collapses in ONE
    * partial-aggregating groupBy per bench id (`max(struct)` argmax, no
    * window), then left-joins the bench-id list — bench sets are tiny
    * next to a web corpus, so the report side never prices the corpus.
    */
  def evalLeakageReport(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      isBench: Column,
      n: Int,
      maxShingleDf: Int,
      minContainMilli: Int): DataFrame = {
    val pairs = contaminationPairs(docs, textCol, idCol, isBench,
      n, maxShingleDf, minContainMilli)
    val perBench = pairs
      .groupBy(col("bench_id"))
      .agg(
        count(lit(1)).as("n_hits"),
        max(col("containment_milli")).as("max_contain_milli"),
        max(struct(col("containment_milli").as("c"),
          (-col("doc_id")).as("neg"))).as("b"))
      .select(col("bench_id"), col("n_hits"), col("max_contain_milli"),
        (-col("b.neg")).as("top_doc_id"))
    docs.filter(isBench).select(col(idCol).as("bench_id"))
      .join(perBench, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("max_contain_milli"), lit(0L)).as("max_contain_milli"),
        col("top_doc_id"))
  }

  /** Bloom-prefiltered contamination: identical output to
    * [[contaminationPairs]], with the corpus side pruned by a Bloom filter
    * of the benchmark's shingle universe before any join shuffles it.
    *
    * This is the shape of Spark's own runtime row-level filtering
    * (`BloomFilterAggregate` + `might_contain`) lifted to an explicit
    * operator: one distributed aggregate folds every bench shingle into a
    * `bloomBits`-wide sketch, the single binary travels to the driver and
    * ships back to executors inside the task binary as a literal, and the
    * corpus-side exploded shingles are filtered by `might_contain` BEFORE
    * the df-cap and candidate joins. Blooms have no false negatives, so
    * the exact joins downstream see a superset of the truly-matching
    * shingles and the result is bit-identical to the unfiltered operator;
    * false positives only cost a little extra join input. At 100 TB the
    * corpus-side shuffle shrinks from |corpus shingles| to |hits|+FP,
    * while the bench side (benchmarks are tiny next to a web corpus)
    * stays a few hundred KB regardless of corpus size.
    */
  def contaminationPairsBloom(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      isBench: Column,
      n: Int,
      maxShingleDf: Int,
      minContainMilli: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType

    val sh = Dedup.withHashedShingles(docs, textCol, n, "sh")
      .select(col(idCol).as("doc"), isBench.as("is_bench"), col("sh"))
      .filter(size(col("sh")) > 0)
    val ex = sh.select(col("doc"), col("is_bench"), explode(col("sh")).as("g"))

    // sized for ~262k distinct bench shingles in a 4 Mbit filter
    val bloomItems = 1L << 18
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(ColumnBridge.expression(col("g")),
        Literal(bloomItems), Literal(1L << 22)).toAggregateExpression())
    // NOTE: eager — this runs a Spark action (one aggregate over the
    // bench-side shingles) at DataFrame-CONSTRUCTION time, because
    // BloomFilterMightContain requires its bloom side as a foldable
    // literal. Unusual for an otherwise lazy API; callers constructing
    // plans in a loop (e.g. plan sweeps) pay the aggregate each time.
    val bloomRow = ex.filter(col("is_bench"))
      .agg(bloomAgg.as("bf"), approx_count_distinct(col("g")).as("n"))
      .head()
    val bloomBytes = bloomRow.getAs[Array[Byte]](0)
    val benchShingles = bloomRow.getAs[Long](1)
    if (benchShingles > bloomItems)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"contaminationPairsBloom: ~$benchShingles distinct bench shingles " +
          s"exceed the bloom's $bloomItems items — FP rate degrades and the " +
          "prefilter passes more corpus shingles (correctness unaffected)")
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), ColumnBridge.expression(col("g"))))

    // df counts over the FULL shingle universe (the cap's semantics must
    // not see the prefilter), but only prefiltered corpus shingles reach
    // the df-cap join and the bench join.
    val freq = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val rareBench = ex.filter(col("is_bench"))
      .join(freq, "g").filter(col("df") <= maxShingleDf).drop("df")
    val rareCorpus = ex.filter(!col("is_bench") && mightContain)
      .join(freq, "g").filter(col("df") <= maxShingleDf).drop("df")
    val benchSizes = rareBench
      .groupBy(col("doc").as("bench_id")).agg(count(lit(1)).as("nb"))
    rareCorpus.select(col("g"), col("doc").as("doc_id"))
      .join(rareBench.select(col("g"), col("doc").as("bench_id")), "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("inter"))
      .join(benchSizes, "bench_id")
      .withColumn("containment_milli",
        floor(col("inter") * lit(1000.0) / col("nb")).cast("long"))
      .filter(col("containment_milli") >= minContainMilli)
      .select(col("doc_id"), col("bench_id"), col("inter"), col("nb"),
        col("containment_milli"))
  }

  /** Deterministic stratified sampling: keep a row iff
    * `hash48(id) mod 1000 < rateMilli(stratum)` — reproducible across
    * engines and runs, no RNG, and exactly mirrorable in SQL. The standard
    * way a 100 TB pipeline takes "10% of web, all of books": a narrow
    * filter, no shuffle, pushes into the scan's ReadSchema.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      stratCol: String,
      ratesMilli: Map[String, Int],
      defaultMilli: Int): DataFrame = {
    val rate = ratesMilli.foldLeft(lit(defaultMilli)) { case (acc, (k, v)) =>
      when(col(stratCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(pmod(hash48(col(idCol)), lit(1000)) < rate)
  }

  /** Deterministic train/val/test assignment, keyed on the CONTENT hash
    * (not the id): identical documents land in the same split, so exact
    * duplicates can never leak across the train/eval boundary — the
    * standard splitting discipline for training corpora. Engine-portable
    * (md5-prefix bucket in [0, 1000)); a narrow per-row map, no shuffle.
    * Buckets `[0, testPermille)` -> test,
    * `[testPermille, testPermille + valPermille)` -> val, rest -> train.
    */
  def datasetSplit(
      df: DataFrame,
      textCol: String,
      valPermille: Int,
      testPermille: Int): DataFrame = {
    val bucket = pmod(hash48(col(textCol)), lit(1000))
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < testPermille, lit("test"))
          .when(col("bucket") < testPermille + valPermille, lit("val"))
          .otherwise(lit("train")))
  }

  /** [[datasetSplit]] with the dedup graph composed in: NEAR-dup cluster
    * members co-assign to one split (bucket = salted hash of the cluster
    * id), closing the leakage channel the content-hash split cannot see —
    * md5(text) co-assigns EXACT dups only, while a near-dup pair (one
    * word changed, boilerplate re-wrap) hashes to independent buckets
    * and straddles the train/eval boundary with probability
    * 1 - 1/1000-ish per pair. Unclustered docs keep the EXACT
    * [[datasetSplit]] convention (content hash), so exact-dup twins
    * below the shingle threshold still co-assign and the dedup-aware
    * split differs from the legacy one only on clustered docs.
    *
    * Scale shape: one cluster-label left join on top of the narrow
    * per-row bucketing; nothing new shuffles.
    */
  def datasetSplitDedupAware(
      df: DataFrame,
      textCol: String,
      idCol: String,
      valPermille: Int,
      testPermille: Int,
      clusters: DataFrame): DataFrame = {
    val lab = df.join(clusters.withColumnRenamed("node", idCol), Seq(idCol), "left")
    val bucket = pmod(
      when(col("cluster_id").isNotNull,
        hash48(concat(lit("split:"), col("cluster_id").cast("string"))))
        .otherwise(hash48(col(textCol))),
      lit(1000))
    lab.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < testPermille, lit("test"))
          .when(col("bucket") < testPermille + valPermille, lit("val"))
          .otherwise(lit("train")))
  }

  /** Cross-source quantile-matching normalization of the quality score —
    * the fairness step before any global quality threshold: raw scores
    * are not comparable across sources (a "good" forum post and a "good"
    * reference article sit at different absolute scores), so each doc's
    * score maps to its PER-SOURCE percentile and then to the GLOBAL
    * score at that percentile. After normalization a single corpus-wide
    * cut keeps the same fraction of every source.
    *
    * Sort-free at any corpus size because the score is BOUNDED
    * ([0, 1000] milli-units): all distribution work happens on
    * histograms of <= 1001 rows —
    *   - per-source CDF: one window PARTITIONED by source over its
    *     <= 1001 histogram rows;
    *   - global CDF: a broadcast histogram SELF-join (<= 1001² rows,
    *     no unpartitioned window anywhere);
    *   - percentile -> score inverse: a 1001-row broadcast lookup
    *     table, so the per-doc path is two broadcast equi-joins on
    *     integer keys — narrow, shuffle-free.
    * Integer-exact: permille = (cum * 1000) div n (Spark `div` ==
    * DuckDB `//` here, all operands positive).
    */
  def quantileNormalizeQuality(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String): DataFrame = {
    val (q, scdf, inv) = quantileNormTablesWithScores(docs, textCol, idCol, srcCol)
    q.join(broadcast(scdf), Seq("source", "q_milli"))
      .join(broadcast(inv), Seq("permille"))
      .select(col("doc_id"), col("source"), col("q_milli"),
        col("permille"), col("q_norm_milli"))
  }

  private def quantileNormTablesWithScores(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String): (DataFrame, DataFrame, DataFrame) = {
    // ONE quality pass, checkpointed: the narrow (doc_id, source, q)
    // frame is consumed three times (per-source histogram, global
    // histogram, final join) and the tokenize + stopword scan behind
    // qualityMilli re-executes per consumer otherwise (the round-7
    // tokenBudgetSelect lesson — measured 21.4 s -> 5.2 s at the 10x
    // smoke, 98 s -> 15.3 s at 50x, from this checkpoint alone)
    val q = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
      TextAnalysis.qualityMilli(col(textCol)).as("q_milli"))
      .checkpointed()
    val hs = q.groupBy(col("source"), col("q_milli")).agg(count(lit(1)).as("c"))
    val ns = hs.groupBy(col("source")).agg(sum(col("c")).as("n"))
    // dense per-source CDF over the full score alphabet: the grid
    // EXPLODES off the <= |sources|-row summary (no cross join — the
    // plan guard rightly treats multi-row cross joins as suspect), then
    // cells left-join the histogram mass at or below each value — all
    // frames bounded (<= sources x 1001 x 1001 intermediate, corpus-
    // independent), no unpartitioned window anywhere
    val cells = ns.select(col("source"), col("n"),
      explode(sequence(lit(0L), lit(1000L))).as("q_milli"))
    val scdf = cells
      .join(broadcast(hs.select(col("source").as("__s2"),
        col("q_milli").as("__q2"), col("c"))),
        col("__s2") === col("source") && col("__q2") <= col("q_milli"), "left")
      .groupBy(col("source"), col("q_milli"), col("n"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("cum"))
      .select(col("source"), col("q_milli"),
        expr("(cum * 1000) div n").as("permille"))
    val hg = q.groupBy(col("q_milli")).agg(count(lit(1)).as("c"))
    val gcdf = hg.select(col("q_milli").as("v"))
      .join(broadcast(hg.select(col("q_milli").as("q2"), col("c"))),
        col("q2") <= col("v"))
      .groupBy(col("v")).agg(sum(col("c")).as("cumg"))
      .crossJoin(broadcast(hg.agg(sum(col("c")).as("ng"))))
      .select(col("v"), expr("(cumg * 1000) div ng").as("pg"))
    val inv = docs.sparkSession.range(0, 1001)
      .select(col("id").as("permille"))
      .join(broadcast(gcdf), col("pg") >= col("permille"))
      .groupBy(col("permille")).agg(min(col("v")).as("q_norm_milli"))
    (q, scdf, inv)
  }

  /** Contrastive training-pair construction from the dedup graph: each
    * verified near-dup pair becomes an (anchor, positive) example, and
    * the negative is drawn by the standard IN-BATCH pairing — within a
    * deterministic hash shard ("batch"), pair i takes pair i+1's
    * positive (wrapping) as its negative — then any negative that lands
    * in the anchor's own dup CLUSTER is dropped (a near-dup "negative"
    * would teach the opposite of the truth; this also removes the
    * single-pair-shard wrap-to-self case).
    *
    * Scale shape: the only window is `row_number` PARTITIONED BY shard —
    * shard count is the caller's knob, so per-partition sorts are
    * |pairs|/shards regardless of corpus size; shard sizes broadcast
    * (<= shards rows); cluster labels attach as two thin keyed joins.
    * Everything is hash-deterministic — no RNG, so the oracle reproduces
    * the exact pairing.
    */
  def contrastivePairs(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      shards: Int): DataFrame = {
    require(shards >= 1, "contrastivePairs needs >= 1 shard")
    // the pair frame (typically a full LSH build) feeds CC AND three
    // pairing branches — cut its lineage once so the build executes once,
    // not per consumer (cluster equivalent: a stored pair table)
    val pairsOnce = pairs.checkpointed()
    val clusters = connectedComponents(pairsOnce, aCol, bCol)
    val p = pairsOnce.select(col(aCol).as("anchor_id"), col(bCol).as("pos_id"))
      .withColumn("shard", pmod(hash48(col("anchor_id")), lit(shards)))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("anchor_id"), col("pos_id"))
    val rn = p.withColumn("rn", row_number().over(w))
    val sizes = rn.groupBy(col("shard")).agg(max(col("rn")).as("__m"))
    val negSrc = rn.select(col("shard"), col("rn").as("__nrn"),
      col("pos_id").as("neg_id"))
    rn.join(broadcast(sizes), "shard")
      .withColumn("__nrn", pmod(col("rn"), col("__m")) + 1)
      .join(negSrc, Seq("shard", "__nrn"))
      .join(clusters.select(col("node").as("anchor_id"),
        col("cluster_id").as("__ca")), "anchor_id")
      .join(clusters.select(col("node").as("neg_id"),
        col("cluster_id").as("__cn")), "neg_id")
      .filter(col("__ca") =!= col("__cn"))
      .select(col("anchor_id"), col("pos_id"), col("neg_id"), col("shard"))
  }

  /** The full curation DAG as one composition — the keep-side query a
    * training-data pipeline actually runs before tokenization: CCNet-style
    * LM-quality gate AND near-dedup survivorship AND benchmark
    * decontamination, then the leakage-aware [[datasetSplit]] on whatever
    * survives. Each stage reuses its standalone operator verbatim
    * (`lmSurprisalScore` / `minhashLshPairsFromShingles` +
    * [[connectedComponents]] / [[contaminationPairsFromShingles]] /
    * [[datasetSplit]]) over ONE localCheckpointed corpus pass; the LSH
    * and contamination stages additionally share ONE checkpointed
    * hashed-shingle frame (the shingle expression is the family's most
    * expensive narrow transform — computing it once instead of three
    * times cut the composed query ~1.5x at sf0.1). The stage keep-sets
    * compose as semi/anti joins on the thin doc_id column, so the
    * composition adds no shuffle shape beyond its stages' own (each
    * measured separately in SCALING.md — the DAG's cost is their sum
    * plus three id-only joins).
    *
    * Thresholds: 3-gram shingles; LSH 4 bands x 4 rows, pairs at Jaccard
    * >= 0.5; contamination over shingles in <= 50 docs at containment
    * >= 0.1; a 10% validation and 5% test split.
    *
    * Output: (doc_id, bucket, split) for every surviving document.
    */
  def curationKeep(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      isBench: Column): DataFrame = {
    // one corpus pass shared by all three gates + the final split
    val d = docs.checkpointed()
    // stage 1 — quality: surprisal within 1.25x the corpus mean
    val sur = TextAnalysis.lmSurprisalScore(d, textCol, idCol)
      .checkpointed()
    val mean = sur.agg(expr("sum(avg_surprisal_q10) div count(1)").as("mean_q10"))
    val qual = sur.crossJoin(broadcast(mean))
      .filter(col("avg_surprisal_q10") * 100 <= col("mean_q10") * 125)
      .select(col("doc_id").as(idCol))
    // ONE shingle definition shared by stages 2 and 3 — deliberately NOT
    // cached: the shingle arrays are ~10x the corpus text bytes, and
    // materializing them (localCheckpoint or any persist level) next to
    // the LSH/contamination join execution memory destabilized the
    // 250k-doc smoke in an 8 GB harness (executor OOMs). Each consumer
    // recomputes the narrow shingle expression from the checkpointed
    // corpus text — cheap relative to the joins it feeds.
    val shf = Dedup.withHashedShingles(d, textCol, 3, "sh")
      .select(col(idCol).as("doc"), isBench.as("is_bench"), col("sh"))
      .filter(size(col("sh")) > 0)
    // stage 2 — near-dedup: LSH cluster non-representatives lose
    val losers = connectedComponents(
      Dedup.minhashLshPairsFromShingles(shf.select("doc", "sh"), 4, 4, 500),
      "a", "b")
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as(idCol))
    // stage 3 — decontamination: benchmark docs and their leaks drop
    val hits = contaminationPairsFromShingles(shf, maxShingleDf = 50, minContainMilli = 100)
      .select(col("doc_id").as(idCol)).distinct()
    // stage 4 — leakage-aware split of the surviving corpus
    val kept = d.filter(!isBench)
      .join(qual, Seq(idCol), "left_semi")
      .join(losers, Seq(idCol), "left_anti")
      .join(hits, Seq(idCol), "left_anti")
    datasetSplit(kept, textCol, 100, 50)
  }

  /** Sequence packing: assign documents (in deterministic `idCol` order
    * per stratum) to fixed token-budget bins by running token count —
    * the contiguous-packing layout used to build training batches. A doc
    * that straddles a boundary starts in the earlier bin (`bin` is where
    * its first token lands; `bin_offset` the position there).
    *
    * The per-stratum running sum is a partitioned window (one stratum =
    * one reducer's sort, same skew posture as sessionization — for a
    * single enormous stratum, pre-chunk by a coarse monotone id range
    * exactly like `CoreOps.sessionSummaryChunked`).
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      stratCol: String,
      textCol: String,
      budgetTokens: Int): DataFrame = {
    val w = Window.partitionBy(col(stratCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col(idCol), col(stratCol), col("n_tokens"),
        longDiv(col("cum_before"), budgetTokens).as("bin"),
        pmod(col("cum_before"), lit(budgetTokens.toLong)).as("bin_offset"))
  }

  /** Exact integral division on longs (SQL `div`, Catalyst
    * `IntegralDivide`), matching the oracle's `//` — double `/` + cast is
    * only exact below 2^53, too small a ceiling for per-stratum cumulative
    * token counts at 100 TB.
    */
  private def longDiv(c: Column, divisor: Long): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
    ColumnBridge.column(
      IntegralDivide(ColumnBridge.expression(c.cast("long")), Literal(divisor)))
  }

  /** [[packSequences]] for a skewed/hot stratum: the same output, but the
    * running token sum is the chunked two-pass form (the pattern shared
    * with `CoreOps.lateDataSplit` and `sessionSummaryChunked`):
    * per-(stratum, chunk) token totals — a tiny summary — are prefix-
    * summed with a broadcast range self-join, and only the within-chunk
    * remainder uses a window PARTITIONED by (stratum, chunk). No reducer
    * ever sorts more than one chunk of one stratum.
    *
    * @param chunkCol coarse MONOTONE function of `idCol` within each
    *                 stratum (chunk(x) < chunk(y) must imply x < y), e.g.
    *                 `floor(col("doc_id") / 100000)`
    */
  def packSequencesChunked(
      df: DataFrame,
      idCol: String,
      stratCol: String,
      textCol: String,
      budgetTokens: Int,
      chunkCol: Column): DataFrame = {
    val base = df
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .withColumn("__chunk", chunkCol)
    val chunkSums = base.groupBy(col(stratCol), col("__chunk"))
      .agg(sum(col("n_tokens")).as("__csum"))
    val prevSums = chunkSums
      .join(
        broadcast(chunkSums.select(col(stratCol).as("__ps"), col("__chunk").as("__pc"),
          col("__csum").as("__psum"))),
        col("__ps") === col(stratCol) && col("__pc") < col("__chunk"), "left")
      .groupBy(col(stratCol), col("__chunk"))
      .agg(sum(col("__psum")).as("__prev_sum"))
    val w = Window.partitionBy(col(stratCol), col("__chunk")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .join(broadcast(prevSums), Seq(stratCol, "__chunk"))
      .withColumn("cum_before",
        coalesce(col("__prev_sum"), lit(0L)) +
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col(idCol), col(stratCol), col("n_tokens"),
        longDiv(col("cum_before"), budgetTokens).as("bin"),
        pmod(col("cum_before"), lit(budgetTokens.toLong)).as("bin_offset"))
  }

  /** Near-dup-aware sequence packing: [[packSequences]]' token-budget
    * bins, but no bin ever holds two members of one near-dup cluster —
    * consecutive near-dups in one training bin are the worst case for a
    * contiguous-packing dataloader (the model sees the same content
    * twice in one context window).
    *
    * Mechanism: each doc gets a WAVE = its dup index within its
    * (stratum, cluster), then each (stratum, wave) packs independently.
    * A bin belongs to exactly one wave and a cluster has at most one
    * member per wave by construction, so the exclusion is structural —
    * not a best-effort spreading heuristic. Singletons (the
    * overwhelming majority) all carry wave 0, so wave 0's packing IS
    * [[packSequences]]' layout over the deduplicated corpus and the
    * later waves are small.
    *
    * Scale shape: the wave window partitions by (stratum, cluster) —
    * dup-group-sized, bounded. The pack window partitions by
    * (stratum, wave); wave 0 is stratum-sized, the same posture as
    * [[packSequences]] with the same chunked escape
    * ([[packSequencesChunked]]'s two-pass prefix sum) if one stratum
    * outgrows a reducer.
    *
    * @param clusters (node, cluster_id) labels, e.g. from
    *                 [[connectedComponents]] over LSH pairs; unlabeled
    *                 docs are singletons (their own cluster).
    */
  def packSequencesDedupAware(
      docs: DataFrame,
      idCol: String,
      stratCol: String,
      textCol: String,
      budgetTokens: Int,
      clusters: DataFrame): DataFrame = {
    val lab = docs
      .join(clusters.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    val wWave = Window.partitionBy(col(stratCol), col("cluster_id"))
      .orderBy(col(idCol))
    val wPack = Window.partitionBy(col(stratCol), col("wave")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    lab
      .withColumn("wave", (row_number().over(wWave) - 1).cast("long"))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(wPack), lit(0L)))
      .select(
        col(idCol), col(stratCol), col("cluster_id"), col("wave"), col("n_tokens"),
        longDiv(col("cum_before"), budgetTokens).as("bin"),
        pmod(col("cum_before"), lit(budgetTokens.toLong)).as("bin_offset"))
  }

  /** Deterministic training-order shard assignment: every document gets a
    * `(shard, pos)` — a pseudo-random but reproducible global shuffle,
    * sharded for parallel dataloaders. `hkey` (48-bit salted md5 of the
    * id) IS the shuffle: ordering by it inside each shard is the
    * permutation, no RNG state anywhere.
    *
    * Dense positions are computed WITHOUT a per-shard global sort: hkey
    * ranges are pre-chunked (`chunkDiv` — a monotone function of hkey, so
    * chunk order = hkey order), per-(shard, chunk) counts — a SUMMARY of
    * <= 2^48/chunkDiv rows per shard — are prefix-summed by a window over
    * that summary (partition = one shard's chunk list; the
    * [[tokenBudgetSelect]] pattern — an earlier broadcast range self-join
    * was the O(chunks^2)-per-probe shape that op's comment documents),
    * and only the within-chunk remainder uses a window PARTITIONED by
    * (shard, chunk). `pos` is chunking-invariant (chunk order = hkey
    * order), so chunkDiv only sizes partitions: the default 2^32 gives
    * 65536 chunks — at 10B docs a raw-row partition is ~n/(shards*65536)
    * rows, and the summary window's partition is the 65536-row chunk
    * list. The same two-pass shape as [[packSequencesChunked]].
    */
  def shuffleShards(
      df: DataFrame,
      idCol: String,
      shards: Int,
      chunkDiv: Long = 1L << 32): DataFrame = {
    val base = df
      .withColumn("__hkey", hash48(concat(lit("shuffle:"), col(idCol).cast("string"))))
      .withColumn("shard", pmod(col("__hkey"), lit(shards.toLong)))
      .withColumn("__chunk", longDiv(col("__hkey"), chunkDiv))
    val chunkCounts = base.groupBy(col("shard"), col("__chunk"))
      .agg(count(lit(1)).as("__ccnt"))
    val wPrev = Window.partitionBy(col("shard")).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevCounts = chunkCounts
      .select(col("shard"), col("__chunk"),
        sum(col("__ccnt")).over(wPrev).as("__prev_cnt"))
    val w = Window.partitionBy(col("shard"), col("__chunk"))
      .orderBy(col("__hkey"), col(idCol))
    base
      .join(broadcast(prevCounts), Seq("shard", "__chunk"))
      .withColumn("pos", coalesce(col("__prev_cnt"), lit(0L)) + row_number().over(w))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** [[shuffleShards]] with the dedup graph composed in: members of one
    * near-dup cluster ROUND-ROBIN across shards (shard =
    * (hash(cluster) + dup_index) mod shards) instead of landing wherever
    * their individual id hashes — so a cluster's copies never co-locate
    * in one dataloader shard (structurally, for clusters up to `shards`
    * members; bigger clusters wrap by pigeonhole). The cluster hash keeps
    * placement pseudo-random ACROSS clusters; the dup index staggers
    * within one. Singletons behave like [[shuffleShards]] modulo the
    * keying (cluster id = own id).
    *
    * Scale shape: one cluster-label left join + a dup-index window over
    * cluster-sized partitions on top of [[shuffleShards]]' machinery
    * (dense per-shard positions via chunked prefix counts, never a
    * per-shard global sort).
    */
  def shuffleShardsDedupAware(
      df: DataFrame,
      idCol: String,
      shards: Int,
      clusters: DataFrame,
      chunkDiv: Long = 1L << 32): DataFrame = {
    val lab = df.select(col(idCol))
      .join(clusters.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    val wDup = Window.partitionBy(col("cluster_id")).orderBy(col(idCol))
    val base = lab
      .withColumn("__dup_idx", (row_number().over(wDup) - 1).cast("long"))
      .withColumn("__hkey", hash48(concat(lit("shuffle:"), col(idCol).cast("string"))))
      .withColumn("__ckey", hash48(concat(lit("shard:"), col("cluster_id").cast("string"))))
      .withColumn("shard", pmod(col("__ckey") + col("__dup_idx"), lit(shards.toLong)))
      .withColumn("__chunk", longDiv(col("__hkey"), chunkDiv))
    val chunkCounts = base.groupBy(col("shard"), col("__chunk"))
      .agg(count(lit(1)).as("__ccnt"))
    val wPrev = Window.partitionBy(col("shard")).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevCounts = chunkCounts
      .select(col("shard"), col("__chunk"),
        sum(col("__ccnt")).over(wPrev).as("__prev_cnt"))
    val w = Window.partitionBy(col("shard"), col("__chunk"))
      .orderBy(col("__hkey"), col(idCol))
    base
      .join(broadcast(prevCounts), Seq("shard", "__chunk"))
      .withColumn("pos", coalesce(col("__prev_cnt"), lit(0L)) + row_number().over(w))
      .select(col(idCol), col("cluster_id"), col("shard"), col("pos"))
  }

  /** Token-budget corpus selection by QUALITY RANK: per `srcCol` stratum,
    * keep the highest-quality documents whose running token total stays
    * within `budgetTokens` — rank by (quality_milli DESC, id ASC), keep
    * while the inclusive cumulative token count is <= budget.
    * ([[tokenBudgetSample]] is the arrival-order cousin — it fills each
    * stratum's budget in id order; this op SELECTS the best docs first,
    * which needs the rank order and therefore the bounded-prefix plan
    * below instead of a plain per-stratum running sum.)
    *
    * Scale shape: NO per-source global sort. quality_milli is an integer
    * in [0, 1000], so the rank order is two nested prefix sums over
    * bounded SUMMARY frames (never the raw rows):
    *   1. per-(source, quality) token totals (<= sources x 1001 rows)
    *      prefix-summed over strictly-better quality by a window
    *      partitioned by source — a partition is <= 1001 summary rows;
    *   2. within one (source, quality) cell, per-id-chunk totals
    *      (`chunkDiv` on the id) prefix-summed by a window partitioned
    *      by (source, quality) — a partition is that cell's chunk list,
    *      with only the within-chunk remainder in a window PARTITIONED
    *      by (source, quality, chunk) over the raw rows.
    * Every window partition is bounded; the widest raw-row partition is
    * one id-chunk of one quality cell. (An earlier form prefix-summed the
    * summaries via broadcast self-joins on an inequality — Spark plans
    * the `<` as a per-probe-row scan of the matching hash bucket, which
    * is O(chunks^2) per cell: measured 31 s at the 10x smoke vs linear
    * for this window form. The summaries are small; the windows over
    * them are the right tool.)
    */
  def tokenBudgetSelect(
      df: DataFrame,
      idCol: String,
      textCol: String,
      srcCol: String,
      budgetTokens: Long,
      chunkDiv: Long = 100000L): DataFrame =
    // quality_milli is a grouping/join/window key for every frame in the
    // selection core, and its stopword filter is an interpreted HOF —
    // left lazy it re-evaluates once per consumer (measured 3 s/pass at
    // the 10x smoke, ~5 passes). The core's checkpoint materializes the
    // 5 narrow columns once; the text column never leaves this scan.
    tokenBudgetSelectByQuality(
      df.withColumn("quality_milli", TextAnalysis.qualityMilli(col(textCol)))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)).cast("long")),
      idCol, srcCol, "quality_milli", "n_tokens", budgetTokens, chunkDiv)

  /** [[tokenBudgetSelect]] with a CALLER-SUPPLIED integer quality column
    * in [0, 1000] — the hook that lets any scorer drive the selection
    * (DSIR weights, NB confidence, LM surprisal buckets) while reusing
    * the bounded-prefix plan unchanged. `qualityCol` MUST be bounded:
    * the per-(source, quality) summary frame, and with it every window
    * partition below, is bounded BY the quality domain — an unbounded
    * score column would re-create the per-source global sort this plan
    * exists to avoid. `tokensCol` is the per-doc token count.
    */
  def tokenBudgetSelectByQuality(
      df: DataFrame,
      idCol: String,
      srcCol: String,
      qualityCol: String,
      tokensCol: String,
      budgetTokens: Long,
      chunkDiv: Long = 100000L): DataFrame = {
    val base = df
      .withColumn("__chunk", longDiv(col(idCol).cast("long"), chunkDiv))
      .select(col(idCol), col(srcCol), col(qualityCol),
        col(tokensCol), col("__chunk"))
      .checkpointed()
    // 1. tokens in strictly-better quality levels, per source: a window
    // over the <= 1001-row-per-source SUMMARY (quality values are unique
    // after the groupBy, so "rows up to the previous one" under a DESC
    // order is exactly the strictly-better set)
    val perQ = base.groupBy(col(srcCol), col(qualityCol))
      .agg(sum(col(tokensCol)).as("__qsum"))
    val wq = Window.partitionBy(col(srcCol))
      .orderBy(col(qualityCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val betterQ = perQ
      .select(col(srcCol), col(qualityCol),
        sum(col("__qsum")).over(wq).as("__better_sum"))
    // 2. tokens in earlier id-chunks of the SAME quality level: same
    // window shape over the per-cell chunk summary
    val perChunk = base.groupBy(col(srcCol), col(qualityCol), col("__chunk"))
      .agg(sum(col(tokensCol)).as("__csum"))
    val wc = Window.partitionBy(col(srcCol), col(qualityCol))
      .orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevChunk = perChunk
      .select(col(srcCol), col(qualityCol), col("__chunk"),
        sum(col("__csum")).over(wc).as("__prev_sum"))
    // 3. within-chunk inclusive running total, then the budget gate
    val w = Window.partitionBy(col(srcCol), col(qualityCol), col("__chunk"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .join(broadcast(betterQ), Seq(srcCol, qualityCol))
      .join(broadcast(prevChunk), Seq(srcCol, qualityCol, "__chunk"))
      .withColumn("cum_tokens",
        coalesce(col("__better_sum"), lit(0L)) +
          coalesce(col("__prev_sum"), lit(0L)) + sum(col(tokensCol)).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col(idCol), col(srcCol), col(qualityCol),
        col(tokensCol), col("cum_tokens"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much more likely its hashed n-gram features are under the TARGET
    * distribution (docs matching `targetPred` — the "looks like
    * Wikipedia" side) than under the RAW corpus distribution. Selection
    * is then a threshold/top-fraction filter on the weight — the
    * data-mixing primitive for "make the corpus look like the target".
    *
    * Per-occurrence contribution for a trigram hashing to bucket b:
    * `log2 p_tgt(b) - log2 p_raw(b)` with add-one smoothing over
    * `DsirBuckets` features; the per-doc weight is the sum over its trigram
    * occurrences. All integer Q10 log2 (see [[TextAnalysis.log2Q10Sql]]),
    * so the DuckDB oracle matches bit-for-bit. With `targetPred` true for
    * every doc the two models coincide and every weight is exactly 0 —
    * spec-gated.
    *
    * Scale shape: one corpus-sized trigram explode collapsed immediately
    * to per-(doc, bucket) multiplicities (lazily checkpointed — both
    * models and the scorer share it); the model frame is <= `DsirBuckets`
    * rows and the totals one row, both broadcast back; the weight is one
    * per-doc re-aggregate. Nothing scales worse than the corpus itself.
    *
    * Output: `(doc_id, n_tri, dsir_w_q10)`, one row per doc with >= 1
    * trigram.
    */
  def dsirWeights(
      df: DataFrame,
      textCol: String,
      idCol: String,
      targetPred: Column): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      targetPred.cast("boolean").as("__tgt"))
    val td = TextAnalysis.charTrigrams(base, "__text", "doc_id", carryCols = Seq("__tgt"))
      .withColumn("b", pmod(TextAnalysis.portableHash48(col("t")), lit(DsirBuckets)))
      .groupBy(col("doc_id"), col("__tgt"), col("b"))
      .agg(count(lit(1)).as("k"))
      .checkpointed(eager = false)
    // target and raw bucket models in ONE re-aggregate of the shared frame
    val model = td.groupBy(col("b"))
      .agg(sum(when(col("__tgt"), col("k")).otherwise(lit(0L))).as("ct"),
        sum(col("k")).as("cr"))
    val tot = model.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val l = TextAnalysis.log2Q10Sql _
    td.join(broadcast(model), "b")
      .crossJoin(broadcast(tot))
      .withColumn("t1",
        col("k") * expr(s"${l("(ct + 1)")} - ${l("(cr + 1)")}"))
      .groupBy(col("doc_id"), col("tt"), col("tr"))
      .agg(sum(col("t1")).as("s1"), sum(col("k")).as("n_tri"))
      .withColumn("dsir_w_q10", expr(
        s"cast(s1 + n_tri * (${l(s"(tr + $DsirBuckets)")} - ${l(s"(tt + $DsirBuckets)")}) as bigint)"))
      .select(col("doc_id"), col("n_tri"), col("dsir_w_q10"))
  }

  /** Hashed trigram buckets of every DSIR model (the feature width). */
  private val DsirBuckets = 4096

  /** Train-half of [[dsirWeights]]: the frozen target/raw bucket model
    * `(b, ct, cr)` — at most `DsirBuckets` rows, broadcastable — plus its
    * totals via [[dsirModelTotals]].
    */
  def dsirTrainModel(
      df: DataFrame,
      textCol: String,
      idCol: String,
      targetPred: Column): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      targetPred.cast("boolean").as("__tgt"))
    TextAnalysis.charTrigrams(base, "__text", "doc_id", carryCols = Seq("__tgt"))
      .withColumn("b", pmod(TextAnalysis.portableHash48(col("t")), lit(DsirBuckets)))
      .groupBy(col("b"))
      .agg(sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("ct"),
        count(lit(1)).as("cr"))
  }

  /** Totals of a [[dsirTrainModel]] frame — a bounded driver read BY
    * CONSTRUCTION (the model is one row per bucket, the agg is 1 row).
    */
  def dsirModelTotals(model: DataFrame): (Long, Long) = {
    val r = model.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr")).head()
    (r.getAs[Long]("tt"), r.getAs[Long]("tr"))
  }

  /** Frozen-DSIR-model staleness monitor: train the (b, ct, cr) bucket
    * model ([[dsirTrainModel]]) on the `isFrozen` slice, then report
    * against the rest. The appended side is one trigram extraction that
    * feeds the appended model, the share-drift comparison, and both
    * scoring arms; the fresh model is the count-monoid MERGE of two
    * bounded bucket tables, never a corpus retrain. One integer-exact row:
    *
    *   - `max/mean_share_delta_q6` — per-bucket RAW trigram-mass share
    *     drift, frozen vs appended distribution (the "did the data
    *     move" arm);
    *   - `n_flips` / `flip_q3` — appended docs whose DSIR weight SIGN
    *     (target-like vs raw-like, the selection threshold) differs
    *     between the frozen and the merged-fresh model — the actionable
    *     signal: each flip is a doc the stale model would mis-route
    *     through [[dsirWeights]]-driven selection;
    *   - `mean_abs_w_gap_q10` — mean absolute weight disagreement.
    *
    * Both arms use the [[dsirWeights]] scoring formula term-for-term, so
    * the DuckDB oracle replays every integer.
    */
  def dsirModelStalenessReport(
      df: DataFrame,
      textCol: String,
      idCol: String,
      targetPred: Column,
      isFrozen: Column): DataFrame = Checkpoints.scoped {
    val frozenDocs = df.filter(isFrozen)
    val mF = dsirTrainModel(frozenDocs, textCol, idCol, targetPred)
      .checkpointed()
    val (ttF, trF) = dsirModelTotals(mF)
    val nFrozen = frozenDocs.count()
    val appended = df.filter(!isFrozen)
    val spark = appended.sparkSession
    val base = appended.select(col(idCol).as("doc_id"),
      col(textCol).as("__text"), targetPred.cast("boolean").as("__tgt"))
    val nAppended = base.count()
    val tdA = TextAnalysis.charTrigrams(base, "__text", "doc_id",
      carryCols = Seq("__tgt"))
      .withColumn("b", pmod(TextAnalysis.portableHash48(col("t")), lit(DsirBuckets)))
      .groupBy(col("doc_id"), col("__tgt"), col("b"))
      .agg(count(lit(1)).as("k"))
      .checkpointed() // consumed by the appended model AND the scorer
    val mA = tdA.groupBy(col("b"))
      .agg(sum(when(col("__tgt"), col("k")).otherwise(lit(0L))).as("ct"),
        sum(col("k")).as("cr"))
      .checkpointed() // bounded (<= DsirBuckets rows); merge + drift + totals
    val (ttA, trA) = dsirModelTotals(mA)
    // the fresh model is merge(frozen, appended) — the additive
    // monoid the r14 directive named; two bounded tables, no retrain
    val mN = mF.unionByName(mA).groupBy(col("b"))
      .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))
    val (ttN, trN) = (ttF + ttA, trF + trA)
    val l = TextAnalysis.log2Q10Sql _
    val cF = TextAnalysis.log2Q10(trF + DsirBuckets) -
      TextAnalysis.log2Q10(ttF + DsirBuckets)
    val cN = TextAnalysis.log2Q10(trN + DsirBuckets) -
      TextAnalysis.log2Q10(ttN + DsirBuckets)
    // both arms in ONE pass over the shared per-(doc, bucket) counts
    // — term-for-term the dsirWeights formula per arm, unseen buckets counting 0
    val scored = tdA
      .join(broadcast(mF.select(col("b"),
        col("ct").as("ctf"), col("cr").as("crf"))), Seq("b"), "left")
      .join(broadcast(mN.select(col("b"),
        col("ct").as("ctn"), col("cr").as("crn"))), Seq("b"), "left")
      .withColumn("s1f", col("k") * expr(
        s"${l("(coalesce(ctf, 0) + 1)")} - ${l("(coalesce(crf, 0) + 1)")}"))
      .withColumn("s1n", col("k") * expr(
        s"${l("(coalesce(ctn, 0) + 1)")} - ${l("(coalesce(crn, 0) + 1)")}"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tri"),
        sum(col("s1f")).as("sf"), sum(col("s1n")).as("sn"))
      .select(col("doc_id"),
        expr(s"cast(sf + n_tri * $cF as bigint)").as("wf"),
        expr(s"cast(sn + n_tri * $cN as bigint)").as("wn"))
    val ero = scored.agg(count(lit(1)).as("n_scored"),
      sum(when((col("wf") >= 0) =!= (col("wn") >= 0), lit(1L))
        .otherwise(lit(0L))).as("n_flips"),
      expr("sum(abs(wf - wn)) div count(1)").as("mean_abs_w_gap_q10"))
      .head()
    require(ero.getAs[Long]("n_scored") > 0L,
      "dsirModelStalenessReport: the appended slice has no scorable " +
        "docs (no >= 3-char texts, or isFrozen matched every doc)")
    // per-bucket RAW-mass share drift, frozen vs appended — the
    // nbModelStalenessReport block over the models' own cr columns
    val share = mF.select(col("b"), col("cr").as("k"))
      .withColumn("__fr", lit(true))
      .unionByName(mA.select(col("b"), col("cr").as("k"))
        .withColumn("__fr", lit(false)))
    val drift = share
      .join(share.groupBy(col("__fr")).agg(sum(col("k")).as("tk")), "__fr")
      .select(col("__fr"), col("b"), expr("k * 1000000 div tk").as("s_q6"))
      .groupBy(col("b"))
      .agg(sum(when(col("__fr"), col("s_q6"))).as("sf"),
        sum(when(!col("__fr"), col("s_q6"))).as("sa"))
      .select(abs(coalesce(col("sa"), lit(0L)) -
        coalesce(col("sf"), lit(0L))).as("ad"))
      .agg(max(col("ad")).as("max_share_delta_q6"),
        expr("sum(ad) div count(1)").as("mean_share_delta_q6"))
      .head()
    spark.range(1).select(
      lit(nFrozen).as("n_frozen"),
      lit(nAppended).as("n_appended"),
      lit(drift.getAs[Long]("max_share_delta_q6")).as("max_share_delta_q6"),
      lit(drift.getAs[Long]("mean_share_delta_q6")).as("mean_share_delta_q6"),
      lit(ero.getAs[Long]("n_scored")).as("n_scored"),
      lit(ero.getAs[Long]("n_flips")).as("n_flips"),
      lit(ero.getAs[Long]("n_flips") * 1000L /
        ero.getAs[Long]("n_scored")).as("flip_q3"),
      lit(ero.getAs[Long]("mean_abs_w_gap_q10")).as("mean_abs_w_gap_q10"))
  }

  /** Gopher-style composite quality gate (Rae et al. 2021, Table A1):
    * the named per-document rules a web-scale pipeline applies before
    * any model-based scoring, each an INTEGER-EXACT flag (ratio bounds
    * are cross-multiplied, never divided, so the oracle agrees
    * bit-for-bit):
    *
    *   - `r_nwords`:  50 <= word count <= 100000
    *   - `r_wordlen`: mean word length in [3, 10]  (3n <= chars <= 10n)
    *   - `r_alpha`:   >= 80% of words contain an alphabetic character
    *   - `r_stop`:    >= 2 distinct stopwords from the Gopher list
    *   - `r_rep`:     most frequent word <= 20% of all words
    *
    * (The bullet-line / ellipsis-line rules need line structure the
    * corpus doesn't carry — one line per doc makes them vacuous — so
    * they are deliberately absent rather than always-true.)
    *
    * Scale shape: every flag except `r_rep` is a narrow per-row
    * projection; `r_rep` is one explode collapsed to per-(doc, term)
    * counts and a per-doc max — the `repetitionStats` shape, linear.
    * Output: (doc_id, n_words, r_nwords, r_wordlen, r_alpha, r_stop,
    * r_rep, keep), flags as 0/1 BIGINTs.
    */
  def gopherRules(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // case-fold before tokenizing: the stopword and top-word-repetition
    // rules are case-insensitive in Rae et al. ("The"/"the" are the same
    // word); n_words / n_alpha / sum_chars are unaffected by case
    val words = TextAnalysis.tokens(lower(col("__text")))
    val flag = (c: Column) => when(c, lit(1L)).otherwise(lit(0L))
    val base = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("n_words", size(words).cast("long"))
      // sum of word lengths == non-whitespace chars: a codegen'd regex
      // strip, not a per-element lambda fold
      .withColumn("sum_chars",
        length(regexp_replace(col("__text"), "\\s", "")).cast("long"))
      .withColumn("n_alpha",
        size(filter(words, t => t.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("n_stop",
        stopwords.map(w => flag(array_contains(words, w))).reduce(_ + _))
    val topTf = base
      .select(col("doc_id"), explode(words).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("k"))
      .groupBy(col("doc_id")).agg(max(col("k")).as("top_tf"))
    base.join(topTf, Seq("doc_id"), "left")
      .withColumn("top_tf", coalesce(col("top_tf"), lit(0L)))
      .select(
        col("doc_id"), col("n_words"),
        flag(col("n_words") >= 50 && col("n_words") <= 100000).as("r_nwords"),
        flag(lit(3) * col("n_words") <= col("sum_chars") &&
          col("sum_chars") <= lit(10) * col("n_words")).as("r_wordlen"),
        flag(lit(5) * col("n_alpha") >= lit(4) * col("n_words")).as("r_alpha"),
        flag(col("n_stop") >= 2).as("r_stop"),
        flag(lit(5) * col("top_tf") <= col("n_words")).as("r_rep"))
      .withColumn("keep",
        col("r_nwords") * col("r_wordlen") * col("r_alpha") *
          col("r_stop") * col("r_rep"))
  }

  /** The (doc_id, src, s) per-doc surprisal frame the buckets derive
    * from.
    */
  private def surprisalFrame(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String): DataFrame =
    TextAnalysis.lmSurprisalScore(docs, textCol, idCol)
      .join(docs.select(col(idCol).as("doc_id"), col(srcCol).as("src")), "doc_id")
      .select(col("doc_id"), col("src"), col("avg_surprisal_q10").as("s"))

  /** CCNet perplexity buckets (Wenzek et al. 2020): split each source's
    * documents into head / middle / tail thirds by corpus-LM surprisal
    * ([[TextAnalysis.lmSurprisalScore]]) — the mixture knob web-scale
    * pipelines tune ("train on head+middle, drop tail").
    *
    * Terciles are VALUE thresholds, not ranks: per source,
    * `t_i = min { s : |{docs with surprisal <= s}| >= i*n/3 }` (integer
    * floor division), docs with surprisal <= t1 are `head`, <= t2
    * `middle`, else `tail`. Ties at a threshold all land in the earlier
    * bucket — the histogram-percentile convention, deterministic in any
    * engine, and the form that stays sort-free at scale: a rank-based
    * tercile would need a per-source GLOBAL sort (one fat partition per
    * source — the skew trap), whereas thresholds need only bounded
    * prefix sums, the `tokenBudgetSelect` pattern:
    *
    * Scale shape: surprisal frame checkpointed once (thresholds +
    * assignment share it); per-(source, surprisal-value) counts collapse
    * to per-(source, 64-wide cell) counts; ONE window over cells per
    * source (partition <= surprisal-range/64 rows, a few hundred) plus
    * ONE window inside each (source, cell) (partition <= 64 distinct
    * values); thresholds are a 2-column-per-source broadcast back.
    * Output: (doc_id, source, avg_surprisal_q10, ppl_bucket).
    */
  def ccnetBuckets(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String): DataFrame = {
    val sc = surprisalFrame(docs, textCol, idCol, srcCol).checkpointed(eager = false)
    sc.join(broadcast(surprisalTerciles(sc)), "src")
      .select(col("doc_id"), col("src").as("source"),
        col("s").as("avg_surprisal_q10"),
        when(col("s") <= col("t1"), lit("head"))
          .when(col("s") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Per-source tercile value-cuts over a `(doc_id, src, s)` surprisal
    * frame: `t_i = min { s : |{docs with s' <= s}| >= i*n/3 }` — the
    * sort-free two-level bounded prefix-sum shape documented at
    * [[ccnetBuckets]]. Output: (src, t1, t2), one row per source.
    */
  private def surprisalTerciles(sc: DataFrame): DataFrame = {
    val perVal = sc.groupBy(col("src"), col("s")).agg(count(lit(1)).as("n_s"))
      .withColumn("cell", expr("s div 64"))
    val perCell = perVal.groupBy(col("src"), col("cell"))
      .agg(sum(col("n_s")).as("n_cell"))
    val wCell = Window.partitionBy(col("src")).orderBy(col("cell"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellPre = perCell
      .withColumn("pre", coalesce(sum(col("n_cell")).over(wCell), lit(0L)))
      .select(col("src"), col("cell"), col("pre"))
    val wVal = Window.partitionBy(col("src"), col("cell")).orderBy(col("s"))
    val cum = perVal.join(cellPre, Seq("src", "cell"))
      .withColumn("cum", col("pre") + sum(col("n_s")).over(wVal))
    val tot = sc.groupBy(col("src")).agg(count(lit(1)).as("n"))
    cum.join(broadcast(tot), "src")
      .groupBy(col("src"))
      .agg(
        min(when(col("cum") >= expr("n div 3"), col("s"))).as("t1"),
        min(when(col("cum") >= expr("(2 * n) div 3"), col("s"))).as("t2"))
  }

  /** CCNet cuts staleness monitor: freeze the LM and the per-source
    * tercile cuts on the `isFrozen` slice, report against the rest.
    *
    * ONE corpus trigram extraction feeds BOTH slices — the per-(doc, src,
    * frozen-flag, trigram) multiplicities collapse to the frozen LM, the
    * frozen per-doc surprisal (and its tercile cuts), and the appended
    * per-doc surprisal under that LM.
    */
  def ccnetCutsStaleness(
      df: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String,
      isFrozen: Column): DataFrame = Checkpoints.scoped {
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      col(srcCol).as("src"), isFrozen.as("__fr"))
    val td = TextAnalysis.charTrigrams(base, "__text", "doc_id",
      carryCols = Seq("src", "__fr"))
      .groupBy(col("doc_id"), col("src"), col("__fr"), col("t"))
      .agg(count(lit(1)).as("k"))
      .checkpointed() // consumed by the LM, the frozen surprisal, and sA
    val tdF = td.filter(col("__fr"))
    val lm = tdF.groupBy(col("t")).agg(sum(col("k")).as("cnt"))
      .checkpointed()
    val totalRow = lm.agg(sum(col("cnt")).as("t")).head()
    require(!totalRow.isNullAt(0) && totalRow.getAs[Long]("t") > 0L,
      "ccnetCutsStaleness: the frozen slice has no trigrams")
    val total = totalRow.getAs[Long]("t")
    def docSurprisal(slice: DataFrame, frozenSide: Boolean): DataFrame =
      (if (frozenSide) slice.join(lm, "t") // every frozen t is in lm
      else slice.join(broadcast(lm), Seq("t"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(1L)))) // unseen: 1
        .withColumn("s_q10", TextAnalysis.surprisalQ10("cnt", total))
        .groupBy(col("doc_id"), col("src"))
        .agg(sum(col("k")).as("n_tri"),
          sum(col("k") * col("s_q10")).as("sum_s"))
        .select(col("doc_id"), col("src"),
          expr("cast(sum_s div n_tri as bigint)").as("s"))
    val cutsF = surprisalTerciles(docSurprisal(tdF, frozenSide = true))
      .checkpointed()
    // the report: fresh terciles of the appended surprisal, both
    // bucketings, the per-source flip row
    val sA = docSurprisal(td.filter(!col("__fr")), frozenSide = false)
      .checkpointed() // consumed by the terciles AND the bucketing
    val cutsN = surprisalTerciles(sA)
    def bucketOf(t1: Column, t2: Column): Column =
      when(col("s") <= t1, lit(0L)).when(col("s") <= t2, lit(1L))
        .otherwise(lit(2L))
    sA
      .join(broadcast(cutsF.select(col("src"),
        col("t1").as("t1f"), col("t2").as("t2f"))), Seq("src"), "left")
      .join(broadcast(cutsN.select(col("src"),
        col("t1").as("t1n"), col("t2").as("t2n"))), Seq("src"))
      .withColumn("bf", when(col("t1f").isNull, lit(-1L))
        .otherwise(bucketOf(col("t1f"), col("t2f"))))
      .withColumn("bn", bucketOf(col("t1n"), col("t2n")))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_appended"),
        max(col("t1f")).as("t1_frozen"), max(col("t2f")).as("t2_frozen"),
        max(col("t1n")).as("t1_fresh"), max(col("t2n")).as("t2_fresh"),
        sum(when(col("bf") =!= col("bn"), lit(1L)).otherwise(lit(0L)))
          .as("n_flips"))
      .select(col("src").as("source"), col("n_appended"),
        col("t1_frozen"), col("t2_frozen"), col("t1_fresh"), col("t2_fresh"),
        (col("t1_fresh") - col("t1_frozen")).as("d_t1_q10"),
        (col("t2_fresh") - col("t2_frozen")).as("d_t2_q10"),
        col("n_flips"),
        expr("n_flips * 1000 div n_appended").as("flip_q3"))
  }

  /** Connected components over an undirected pair list (the
    * duplicate-CLUSTER resolution step after any pairwise dedup): every
    * node is labelled with the minimum id reachable from it.
    *
    * Hash-to-min label propagation: each iteration joins current labels
    * across edges and keeps the per-node minimum — O(component diameter)
    * iterations, each one bounded-size shuffle on node ids (never
    * materializing pairs-of-pairs). Near-dup graphs are overwhelmingly
    * star/clique shaped (diameter 2-3), so the loop converges in a few
    * rounds; a 20-round cap only guards pathological chains. Iterations are
    * `localCheckpoint`ed so lineage stays flat.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = Checkpoints.scoped {
    val maxIters = 20
    // checkpoint the HALF pair frame, not the symmetric union: the union
    // reads `pairs` twice, and for the common caller shape
    // connectedComponents(minhashLshPairs(...)) that re-executed the
    // whole LSH build once per direction (measured ~17% of
    // contrastive_pairs' wall). The mirror is a narrow map over the
    // materialized blocks, recomputed per iteration for free.
    val edges = Checkpoints.scoped {
      val half = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .checkpointed()
      // r18 (guide §2.4, remove shuffles outright): every propagation
      // round joins the SYMMETRIC edge frame on `dst` — left as a lazy
      // union it re-shuffles edge-sized bytes once per round. Materialize
      // it ONCE, hash-partitioned on the join key with a DATA-SIZED
      // partition count (actual checkpoint bytes / 64 MB, floor 1 — never
      // the core count), so no round ever exchanges the edge side again:
      // a localCheckpoint preserves the physical plan's outputPartitioning
      // through LogicalRDD, and per round only the node-sized label frame
      // shuffles to it. The half pin is released (its scope exits) once the
      // symmetric copy is materialized (one resident edge copy, not two).
      val p = math.max(1L,
        (2L * Checkpoints.storageBytes(half) + (64L << 20) - 1) / (64L << 20))
      half
        .union(half.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(p.toInt, col("dst"))
        .checkpointed()
    }
    // the state is (labels, converged); the changed-count materializes
    // the round, so the previous one goes and storage stays flat
    val ((labels, converged), _) = Checkpoints.iterate(
        (edges.select(col("src").as("node")).distinct()
          .withColumn("label", col("node"))
          .checkpointed(), false),
        maxIters)(_._2) { case ((labels, _), round) =>
      val prop = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      // carry the previous label through the checkpoint so convergence is
      // read off the materialized frame instead of re-joining both label
      // generations (one fewer job per iteration)
      val merged = labels.join(prop, labels("node") === prop("src"), "left")
        .select(labels("node"),
          least(labels("label"), coalesce(col("nlabel"), labels("label"))).as("label"),
          labels("label").as("__old"))
      // pointer-jump (path compression) after round 3: also adopt the
      // label OF the current label — every label value is itself a node
      // id in the same component, so each jump round halves remaining
      // chain depth, bounding total rounds at ~3 + log2(diameter). Dup
      // graphs from LSH pairs are near-cliques (diameter 2-3) that
      // converge before the jump ever runs, so the common case pays
      // nothing; the jump's extra join only spends where a chain-shaped
      // component would otherwise need O(diameter) rounds.
      val next = (if (round <= 3) merged else {
        val m = merged.checkpointed(eager = false)
        val byNode = m.select(col("node").as("pn"), col("label").as("plabel"))
        m.join(byNode, m("label") === byNode("pn"), "left")
          .select(m("node"),
            least(m("label"), coalesce(col("plabel"), m("label"))).as("label"),
            col("__old"))
      }).checkpointed(eager = false)
      val changed = next.filter(col("label") =!= col("__old")).count()
      (next.drop("__old"), changed == 0)
    }
    // A silent exit via the iteration cap would hand the caller unmerged
    // (wrong) cluster labels; a chain-shaped component longer than
    // maxIters must fail loudly, not quietly.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: labels still changing after $maxIters " +
        "iterations (component diameter exceeds ~2^maxIters with " +
        "pointer-jumping)")
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Incremental connected-components refresh: merge a batch of NEW edges
    * into an existing `(node, cluster_id)` labelling without re-running
    * CC over the whole graph. The continuous-ingest companion of
    * [[connectedComponents]]: an appended near-dup must update the keep
    * list at a cost bounded by the batch and the clusters it touches,
    * never the corpus.
    *
    * The trick is that an existing cluster collapses to ONE binding edge
    * per member (`member -> cluster_id`): since every `cluster_id` is
    * itself the min member id of its component, the binding edges plus
    * the new pairs form a graph whose CC has exactly the merged
    * components' min-id labels — identical to full CC over (old pairs ∪
    * new pairs), because min-label propagation only ever needs SOME
    * spanning connection, not the original edge set. Only clusters
    * containing a node touched by a new pair enter the merge graph
    * (semi-join on cluster_id); everything else passes through untouched
    * — so the CC rounds run over |new pairs| + |affected members| rows.
    *
    * Invariant required of `existing`: labels are min-member ids (what
    * [[connectedComponents]] emits); the refreshed output preserves it.
    * Nodes appearing only in `existing` keep their rows; nodes appearing
    * in new pairs join the state. Output: the complete new
    * `(node, cluster_id)` state.
    *
    * `mergeEdgesOut` (introspection, spec-bound): receives the merge
    * graph's edge count — the "no full recompute" proof is this number
    * staying batch-sized while the corpus grows.
    */
  def refreshClusters(
      existing: DataFrame,
      newPairs: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      mergeEdgesOut: Option[java.util.concurrent.atomic.AtomicLong] = None)
      : DataFrame = Checkpoints.scoped {
    // ONE scan of newPairs (r18): the union form read the (often
    // expensive — a derived pair pipeline) frame twice; the explode is
    // the same row set from a single pass
    val touched = newPairs
      .select(explode(array(col(aCol), col(bCol))).as("node")).distinct()
    val affectedClusters = existing.join(touched, "node")
      .select(col("cluster_id")).distinct()
    // membership of ONLY the affected clusters; cluster_id is the min
    // member id, so its own row is among these (no phantom super-nodes)
    val affectedMembers = existing.join(affectedClusters, "cluster_id")
      .select(col("node"), col("cluster_id"))
      .checkpointed()
    val mergeEdges = newPairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .unionByName(affectedMembers.select(col("node").as("a"), col("cluster_id").as("b")))
      .checkpointed()
    mergeEdgesOut.foreach(_.set(mergeEdges.count()))
    val relabeled = connectedComponents(mergeEdges, "a", "b")
    val untouched = existing.join(affectedClusters, Seq("cluster_id"), "left_anti")
    // the relabeled checkpoint passes to the caller with the result
    untouched.select(col("node"), col("cluster_id"))
      .unionByName(relabeled.select(col("node"), col("cluster_id")))
  }

  /** The DELETION direction of [[refreshClusters]]: retract a batch of
    * deleted doc ids from an existing `(node, cluster_id)` labelling —
    * the cluster-state half of a GDPR delete, completing what
    * [[graft.functions.Dedup.deleteFromLshIndex]] starts (an index
    * delete alone leaves stale labels, possibly a DELETED doc serving as
    * a cluster representative in keep-best and the dedup-aware
    * pack/shard/split family).
    *
    * Removing a node is NON-LOCAL within its cluster (the deleted doc may
    * have been the bridge holding two sub-groups together, or the min-id
    * label itself), so affected clusters are re-solved exactly:
    *   - affected clusters = those holding a deleted member (everything
    *     else passes through untouched — cost is affected clusters'
    *     members, never the corpus);
    *   - their SURVIVING members' pair evidence is re-read via
    *     `pairsAmong` (hand it
    *     [[graft.functions.Dedup.pairsAmongFromIndex]] over the
    *     POST-delete LSH index — the index delete must land first);
    *   - re-CC + min-id relabel; survivors left with no pairs drop out of
    *     the state entirely, exactly like full [[connectedComponents]]
    *     over the surviving pair set (keep-best already treats stateless
    *     docs as singletons).
    *
    * Invariants: `existing` labels are min-member ids reflecting the SAME
    * pair evidence `pairsAmong` reads (the [[connectedComponents]] /
    * [[refreshClusters]] output contract) — that is what guarantees no
    * surviving pair can straddle an affected and an untouched cluster, so
    * restricting the re-solve to affected survivors loses nothing.
    * Output: the complete new `(node, cluster_id)` state, bit-identical
    * to full CC over the surviving pairs (spec-pinned). Replay-safe: once
    * applied, the deleted ids are absent from the state, so a re-applied
    * retraction finds no affected clusters and is a no-op.
    *
    * `mergeEdgesOut` (introspection, spec-bound): the re-solve graph's
    * edge count — the "never the corpus" proof is this number staying
    * affected-cluster-sized while the corpus grows.
    */
  def refreshClustersRetract(
      existing: DataFrame,
      deletedIds: DataFrame,
      pairsAmong: DataFrame => DataFrame,
      mergeEdgesOut: Option[java.util.concurrent.atomic.AtomicLong] = None)
      : DataFrame = Checkpoints.scoped {
    val dead = Similarity.oneIdCol(deletedIds, "node")
    val affectedClusters = existing
      .join(broadcast(dead), Seq("node"), "left_semi")
      .select(col("cluster_id")).distinct()
    val survivors = existing
      .join(broadcast(affectedClusters), Seq("cluster_id"), "left_semi")
      .join(broadcast(dead), Seq("node"), "left_anti")
      .select(col("node"))
      .checkpointed()
    val mergeEdges = pairsAmong(survivors)
      .select(col("a"), col("b"))
      .checkpointed()
    mergeEdgesOut.foreach(_.set(mergeEdges.count()))
    val relabeled = connectedComponents(mergeEdges, "a", "b")
    val untouched = existing
      .join(broadcast(affectedClusters), Seq("cluster_id"), "left_anti")
    untouched.select(col("node"), col("cluster_id"))
      .unionByName(relabeled.select(col("node"), col("cluster_id")))
  }

  /** Per-source dataset card — the corpus-stats bundle a pipeline
    * publishes with every snapshot (doc/token volume, exact-dup rate via
    * distinct content digests, integer quality mass, language spread).
    * One partial-aggregating groupBy; the two count-distincts expand
    * rows 3x map-side but stay fully distributed. Used by the
    * `corpus_datasheet` gate query.
    */
  def datasheet(
      docs: DataFrame,
      textCol: String,
      srcCol: String,
      langCol: String): DataFrame =
    docs.groupBy(col(srcCol).as("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
      countDistinct(md5(col(textCol))).as("n_uniq_texts"),
      sum(TextAnalysis.qualityMilli(col(textCol))).as("sum_quality_milli"),
      countDistinct(col(langCol)).as("n_langs"))

  /** Quality-aware duplicate resolution over a given cluster state: per
    * near-dup cluster keep the HIGHEST-quality member (tie-break min id);
    * singletons are their own cluster. One row_number window PARTITIONED
    * BY cluster_id — partitions are dup-group-sized, never global.
    * Used by the `dedup_keep_best` gate query; feed it
    * [[connectedComponents]] or an incrementally
    * [[refreshClusters]]-maintained state.
    */
  def keepBestFromClusters(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      clusters: DataFrame): DataFrame = {
    val q = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.qualityMilli(col(textCol)).as("quality_milli"))
    val lab = q.join(clusters.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_milli").desc, col("doc_id").asc)
    lab.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
        col("quality_milli"))
  }

  /** Rarity-weighted keyword extraction (TF-IDF family, rational form):
    * per-document top-k terms by `tf * N / df`, integer-quantized
    * (`floor(tf * 1000 * N / df)`) so the score is bit-identical in any
    * engine — a plain `ln`-based IDF differs in the last ulp across libm
    * implementations and would break hash parity.
    *
    * Plan: one explode + two aggregations; the term-df table is vocabulary
    * -sized — deliberately NOT hint-broadcast, because a web-scale corpus
    * has an unbounded vocabulary and a pinned broadcast would OOM the
    * driver. AQE picks broadcast when the table fits (it does at test
    * scale) and falls back to a shuffled join when it doesn't. Top-k per
    * doc is a partitioned window.
    */
  def keywordScores(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): DataFrame = {
    val ex = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = ex.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = ex.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf
      .join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score_milli",
        floor(col("tf") * lit(1000.0) * col("n") / col("df")).cast("long"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_milli").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score_milli"), col("rank"))
  }

  /** Temperature-scaled mixture sampling (alpha = 1/2, the multilingual
    * up-weighting exponent): per-source sampling rates are derived from
    * the corpus itself — source weight `w_s = floor(sqrt(tokens_s))`, so
    * expected sampled tokens from source s are
    * `budget * w_s / sum(w)` — small sources are up-weighted relative
    * to proportional sampling, the standard temperature knob for "don't
    * let the biggest crawl drown the small high-quality domains". The
    * keep decision is the [[stratifiedSample]] content-hash rule
    * (`hash48(id) mod 10^6 < rate_micro`) — deterministic, no RNG.
    *
    * `rate_micro = min(10^6, floor(budget * 10^6 * w_s / (sum_w * t_s)))`
    * computed in DOUBLES in this exact operation order (IEEE semantics
    * match across engines, the repo's floor-quantized-double convention)
    * because the integer product overflows Long at 100 TB token totals.
    * Sources with zero tokens can't contribute and are dropped.
    *
    * Scale shape: one narrow tokenize pass (checkpointed), a per-source
    * bounded aggregate, a 1-row total, a broadcast rate table, and a
    * narrow hash filter — no shuffle beyond the per-source summary.
    * Output: (doc_id, source, n_tokens, rate_micro) for kept docs.
    */
  def temperatureMixtureSample(
      df: DataFrame,
      idCol: String,
      srcCol: String,
      textCol: String,
      budgetTokens: Long): DataFrame = {
    val tok = df.select(col(idCol), col(srcCol),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .checkpointed()
    val st = tok.groupBy(col(srcCol)).agg(sum(col("n_tokens")).as("t"))
      .filter(col("t") > 0)
      .withColumn("w", floor(sqrt(col("t"))).cast("long"))
    val sw = st.agg(sum(col("w")).as("sw"))
    val rates = st.crossJoin(broadcast(sw))
      .withColumn("rate_micro", least(lit(1000000L),
        floor(lit(budgetTokens.toDouble) * lit(1000000.0) * col("w") /
          (col("sw").cast("double") * col("t"))).cast("long")))
      .select(col(srcCol), col("rate_micro"))
    tok.join(broadcast(rates), srcCol)
      .filter(pmod(hash48(col(idCol)), lit(1000000L)) < col("rate_micro"))
      .select(col(idCol), col(srcCol), col("n_tokens"), col("rate_micro"))
  }

  /** Token-budget mixture sampling: build a training mix by taking each
    * stratum's documents in deterministic `idCol` order until that
    * stratum's token budget is exhausted ("2B tokens of web, 500M of
    * code"). A document is kept iff the running token count BEFORE it is
    * still under budget, so the boundary document is included and every
    * budget is reached (never silently undershot). Same per-stratum
    * prefix-sum plan as [[packSequences]] (and the same chunked escape
    * hatch applies to a single enormous stratum).
    */
  def tokenBudgetSample(
      df: DataFrame,
      idCol: String,
      stratCol: String,
      textCol: String,
      budgets: Map[String, Long],
      defaultBudget: Long): DataFrame = {
    val w = Window.partitionBy(col(stratCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val budget = budgets.foldLeft(lit(defaultBudget)) { case (acc, (k, v)) =>
      when(col(stratCol) === k, lit(v)).otherwise(acc)
    }
    df
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col(idCol), col(stratCol), col("n_tokens"), col("cum_before"))
  }

  /** Repetition/diversity quality signals per document (the Gopher-rule
    * family, adapted to whitespace tokens): most-frequent-token share,
    * distinct-token ratio and duplicate-bigram share, each integer-milli
    * quantized. High top-token or duplicate-bigram share flags the
    * degenerate boilerplate/spam a pretraining corpus filters out.
    *
    * Plan: one posexplode; token stats are two keyed aggregations; the
    * bigram join of each token to its successor is a lead() over a window
    * PARTITIONED by doc (never a single-task window). Zero-token docs are
    * kept with all-zero metrics (left joins + coalesce).
    */
  def repetitionStats(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val ex = docs.select(col(idCol).as("doc_id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "term")))
    val tf = ex.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val tok = tf.groupBy(col("doc_id")).agg(
      sum(col("tf")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max(col("tf")).as("top_tf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = ex
      .withColumn("nxt", lead(col("term"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("term"), col("nxt")).as("bigram"))
    val bgs = bg.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_bigrams"),
      countDistinct(col("bigram")).as("n_bigrams_distinct"))
    docs.select(col(idCol).as("doc_id"))
      .join(tok, Seq("doc_id"), "left")
      .join(bgs, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(
          floor(col("top_tf") * lit(1000.0) / col("n_tokens")).cast("long"),
          lit(0L)).as("top_token_milli"),
        coalesce(
          floor(col("n_distinct") * lit(1000.0) / col("n_tokens")).cast("long"),
          lit(0L)).as("distinct_milli"),
        coalesce(
          floor((col("n_bigrams") - col("n_bigrams_distinct")) * lit(1000.0) /
            col("n_bigrams")).cast("long"),
          lit(0L)).as("dup_bigram_milli"))
  }

  /** PII scrubbing: redact emails, URLs and long digit runs (in that
    * order — order matters, URLs can contain digit runs), counting each.
    * Pure codegen'd regexp built-ins; the patterns avoid constructs whose
    * semantics differ between regex engines (no backrefs, no lookaround).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val DigitsRe = "[0-9]{6,}"

  /** Sliding token-window chunking — the "split long documents into
    * training sequences" step of an LLM data pipeline. Each document
    * yields windows of `window` tokens starting every `stride` tokens
    * (stride < window = overlapping context windows); the final windows
    * truncate at the document end, empty documents yield nothing.
    *
    * Output per chunk: `chunk_idx` (0-based), `chunk_start` (1-based
    * token offset), `chunk_tokens` (= `window` except at the tail) and
    * `chunk_fp48` (portable 48-bit digest of the space-rejoined window —
    * chunk-level exact dedup keys come for free).
    *
    * Plan shape for 100 TB: tokenize once (staged `withColumn` — the
    * CollapseProject/HOF pitfall), one `explode` over ~n/stride indices
    * per doc, `slice` per chunk. Narrow end to end: no shuffle, no state;
    * scales linearly with corpus bytes and parallelizes per input split.
    */
  def chunkTokenWindows(
      df: DataFrame,
      textCol: String,
      idCol: String,
      window: Int,
      stride: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1 (got $window)")
    require(stride >= 1, s"stride must be >= 1 (got $stride)")
    df.withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("chunk_idx", explode(
        when(col("__n") > 0,
          sequence(lit(0L), expr(s"(__n - 1) div $stride")))
          .otherwise(array().cast("array<bigint>"))))
      .withColumn("chunk_start", col("chunk_idx") * stride + 1L)
      .withColumn("__chunk",
        slice(col("__toks"), col("chunk_start").cast("int"), lit(window)))
      .select(
        col(idCol),
        col("chunk_idx"),
        col("chunk_start"),
        size(col("__chunk")).cast("long").as("chunk_tokens"),
        TextAnalysis.portableHash48(concat_ws(" ", col("__chunk"))).as("chunk_fp48"))
  }

  def piiScrub(df: DataFrame, textCol: String): DataFrame =
    df
      .withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)).cast("long"))
      .withColumn("__t1", regexp_replace(col(textCol), EmailRe, "<EMAIL>"))
      .withColumn("n_urls", regexp_count(col("__t1"), lit(UrlRe)).cast("long"))
      .withColumn("__t2", regexp_replace(col("__t1"), UrlRe, "<URL>"))
      .withColumn("n_ids", regexp_count(col("__t2"), lit(DigitsRe)).cast("long"))
      .withColumn("scrubbed", regexp_replace(col("__t2"), DigitsRe, "<ID>"))
      .drop("__t1", "__t2")
}
