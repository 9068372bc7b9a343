package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.VectorExpressions.{dotProduct, dotProductL, l2Norm, squaredL2Q6}
import graft.functions.Checkpoints.Owned

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *   Scale shape: broadcast the (small) query set, score the corpus with a
  *   narrow per-row loop (no shuffle), then two-phase top-k (per-partition
  *   prune before the per-query global sort) so the shuffle carries
  *   O(queries x k x partitions) rows, not O(queries x corpus).
  * - [[ivfTopK]]: IVF-style ANN — corpus is clustered to deterministic
  *   centroids; queries probe only the closest `nprobe` cells. At 100 TB
  *   the cell assignment is the partition key, so a probe touches a
  *   bounded fraction of the corpus.
  *
  * The inner loops are native codegen'd Catalyst expressions
  * (`graft.expressions.DotProductD` / `L2NormD`) with strict sequential
  * summation, so scores are bit-identical to a fold-based reference
  * implementation in any engine. Norms are computed once per vector, never
  * per pair.
  */
object Similarity {

  // Cast, not transform(_.cast): Cast on arrays is a native codegen'd
  // element loop; the HOF form is interpreted per element (float->double
  // widening is exact either way).
  private def toDouble(a: Column): Column = a.cast("array<double>")

  private def q4(dotCol: Column, na: Column, nb: Column): Column =
    floor(dotCol / (na * nb) * 10000).cast("long")

  /** (vec_id-col, vec-col) -> adds `<prefix>d` (double vector) and
    * `<prefix>n` (its norm), computed once per row.
    *
    * Zero-norm vectors (dead rows from a failed embed job) are DROPPED:
    * their cosine is 0/0 = NaN, which `floor(...)` would silently turn
    * into score 0 — ranking garbage mid-pack and diverging from the
    * oracle (DuckDB keeps the NaN). A malformed row must never rank
    * (the `TopKSmallestPairs` null-skip convention); excluding it here
    * makes every cosine consumer (top-k, cell assign, near-dup,
    * SemDeDup) agree.
    */
  private def withNorm(df: DataFrame, vecCol: String, prefix: String): DataFrame =
    df.withColumn(prefix + "d", toDouble(col(vecCol)))
      .withColumn(prefix + "n", l2Norm(col(prefix + "d")))
      .filter(col(prefix + "n") > 0.0)

  /** Deterministic centroid seeds of a withNorm'd corpus: every
    * `centroidEvery`-th vector as (cid, cd, cn). One definition shared
    * by build, append, direct and from-index paths, so seeding can
    * never desynchronize them.
    */
  private def seedCentroids(c: DataFrame, centroidEvery: Int): DataFrame =
    c.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("cid"), col("vd").as("cd"), col("vn").as("cn"))

  /** The `nprobe` closest cells per query (rows keep qd/qn for callers
    * that score afterwards): probe ranking and its (score desc, cid)
    * tie-break live HERE and only here — the direct and from-index
    * rankings are spec-claimed identical, which only holds while they
    * share this exact probe rule.
    */
  private def probeCells(q: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("p_score_q4").desc, col("cid"))
    q.join(broadcast(centroids))
      .withColumn("p_score_q4", q4(dotProduct(col("cd"), col("qd")), col("cn"), col("qn")))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nprobe)
  }

  /** Exact top-k neighbours for each query vector.
    *
    * @param queries  (qid, qvec) — small enough to broadcast
    * @param corpus   (vec_id, vec)
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int): DataFrame = {
    val c = withNorm(corpus, "vec", "v")
    val q = withNorm(queries, "qvec", "q")
    val scored = c
      .join(broadcast(q), col("qid") =!= col("vec_id"))
      .withColumn("score_q4", q4(dotProduct(col("qd"), col("vd")), col("qn"), col("vn")))
    // bounded k-heap aggregate: (score desc, id asc) == smallest (-score, id)
    topKByPair(scored, negate = true, "score_q4", k)
  }

  /** Shared top-k tail: the k best (vec_id, score) rows per qid with a
    * dense `rank`, via the bounded-heap aggregate
    * ([[graft.expressions.TopKSmallestPairs]]). `negate = true` ranks by
    * (score desc, vec_id asc) — encoded as smallest (-score, vec_id);
    * `negate = false` ranks by (score asc, vec_id asc). Identical rows to
    * the two-phase row_number window form, but nothing is sorted except
    * the final k pairs per query: the scored rows hash-aggregate into
    * queries x k heap state per partition and only those partials
    * shuffle. (The window form sorts every scored row per partition even
    * with WindowGroupLimit pruning.)
    */
  private def topKByPair(
      scored: DataFrame,
      negate: Boolean,
      scoreCol: String,
      k: Int): DataFrame = {
    import graft.expressions.TopKExpressions.topKSmallestPairs
    val a = if (negate) -col(scoreCol) else col(scoreCol)
    scored
      .groupBy(col("qid"))
      .agg(topKSmallestPairs(struct(a.as("a"), col("vec_id").as("b")), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("r0", "s")))
      .select(col("qid"), col("s.b").as("vec_id"),
        (if (negate) -col("s.a") else col("s.a")).as(scoreCol),
        (col("r0") + 1).cast("long").as("rank"))
  }

  /** Top-k inner-product search over the int8-QUANTIZED corpus — search
    * the compressed index directly, the memory-bound regime's standard
    * move (the codes are 4x smaller than float32; at 100 TB the scan is
    * the cost, so scanning codes instead of floats is a 4x win before
    * any pruning).
    *
    * Scoring is integer-exact then one deterministic double multiply:
    * `ip = sum(code_i * floor(q_i * 10^4))` (pure BIGINT),
    * `score = floor(ip * scale)` — `scale` is the corpus vector's max-abs
    * (a comparison-free reduction, bit-identical in any engine), so
    * rankings reproduce everywhere. Estimates the true inner product
    * times 127*10^4/scale; recall vs the float index is spec-measured.
    * Same broadcast + two-phase top-k shape as [[bruteForceTopK]].
    */
  def int8TopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q8 = quantizeInt8(col("vec"))
    int8TopKOverCodes(
      corpus.select(col("vec_id"),
        q8.getField("scale").as("scale"), q8.getField("q").as("code")),
      queries, k)
  }

  /** The int8 scoring tail over an already-encoded codes table
    * (vec_id, scale, code) — shared by the one-shot form and the
    * materialized-index path, so rankings agree by construction.
    */
  private def int8TopKOverCodes(
      codes: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qq = queries.select(col("qid"),
      transform(toDouble(col("qvec")), x => floor(x * lit(10000.0)).cast("long"))
        .as("qq"))
    val scored = codes
      .join(broadcast(qq), col("qid") =!= col("vec_id"))
      .withColumn("ip", dotProductL(col("code"), col("qq")))
      .withColumn("score_q", floor(col("ip").cast("double") * col("scale")).cast("long"))
    topKByPair(scored, negate = true, "score_q", k)
  }

  /** Materialize the int8 index: one (vec_id, scale, code) row per corpus
    * vector, written as plain parquet under `batch=<id>` partitions. This
    * is what makes the compressed-scan argument REAL at serving time: the
    * one-shot [[int8TopK]] still reads the float corpus to quantize it per
    * query batch; searching the stored codes ([[int8TopKFromIndex]]) never
    * opens the float table, and the codes scan bit-packs to a fraction of
    * the float bytes (values in [-127, 127] dictionary/bit-pack in
    * parquet). Unlike IVF/PQ there is no frozen global codebook — the
    * per-vector max-abs scale makes every row self-contained, so appends
    * are chunking-invariant by construction.
    */
  def writeInt8Index(corpus: DataFrame, path: String): Unit = {
    val q8 = quantizeInt8(col("vec"))
    corpus.select(col("vec_id"),
        q8.getField("scale").as("scale"), q8.getField("q").as("code"))
      .withColumn("batch", lit(IndexLayout.BaseBatch))
      .write.mode("overwrite").partitionBy("batch").parquet(path)
  }

  /** Append new vectors' codes to a [[writeInt8Index]] layout —
    * IDEMPOTENT per batch id (same `batch=<id>` dynamic-overwrite rule as
    * the other index families, see [[IndexLayout]]).
    */
  def appendToInt8Index(
      newVecs: DataFrame,
      path: String,
      batchId: Option[Long] = None): Unit = {
    val q8 = quantizeInt8(col("vec"))
    val id = batchId.getOrElse(
      IndexLayout.maxBatchId(newVecs.sparkSession, path) + 1)
    // a compaction consumed batches <= through: a replay would duplicate
    // its rows beside the compacted copy — fail loudly instead
    IndexLayout.compactedThrough(newVecs.sparkSession, s"$path.meta/compacted")
      .foreach(t => require(id > t,
        s"batch $id was consumed by a compaction (through=$t) — a replay " +
          "here would duplicate its rows; appends must resume above it"))
    IndexLayout.overwriteBatchPartitions(
      newVecs.select(col("vec_id"),
          q8.getField("scale").as("scale"), q8.getField("q").as("code"))
        .withColumn("batch", lit(id)),
      path, Seq("batch"))
  }

  /** Compact an int8 codes index's batch tree into one batch — the
    * lifecycle operator of the index family (see
    * [[graft.functions.TextAnalysis.compactInvertedIndex]]); markers
    * live in the `.meta` SIBLING (a subdir under the table root would
    * break its batch-partition discovery). STOP-THE-WORLD for the swap
    * window; rerunning after a crash finishes a half-done swap.
    */
  def compactInt8Index(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFiles: Int = 32): Unit = {
    IndexLayout.resumeCompaction(spark, path)
    val through = IndexLayout.maxBatchId(spark, path)
    // marker FIRST (the index-family convention — see
    // compactInvertedIndex): a crash between the destructive fold and a
    // trailing marker would leave a compacted table with no replay
    // guard, so a replayed pre-compaction append silently duplicates
    // rows beside the compacted copy. Early is safe under the
    // documented stop-the-world quiesce: every id <= through is landed.
    IndexLayout.writeCompactedThrough(spark, s"$path.meta/compacted", through)
    // collapse INTO the max consumed id so auto-id allocation resumes
    // above the replay guard instead of colliding with it
    IndexLayout.compactTable(spark, path, Seq("batch"),
      toBatch = through, keep = identity,
      repartitionCols = Nil, targetFiles = targetFiles)
  }

  /** [[compactInt8Index]] for the IVF+PQ layout (cell-pruned codes). */
  def compactIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFiles: Int = 64): Unit = {
    IndexLayout.resumeCompaction(spark, path)
    val through = IndexLayout.maxBatchId(spark, path)
    // marker FIRST — same crash-window rationale as [[compactInt8Index]]
    IndexLayout.writeCompactedThrough(spark, s"$path.meta/compacted", through)
    IndexLayout.compactTable(spark, path, Seq("cell", "batch"),
      toBatch = through, keep = identity,
      repartitionCols = Seq("cell"), targetFiles = targetFiles)
  }

  /** GDPR-style delete from a [[writeInt8Index]] layout: copy-on-write
    * rewrite of exactly the `batch=<id>` partitions holding the deleted
    * vec_ids' code rows ([[graft.sinks.Lake.deleteMatchingNested]] —
    * untouched batch directories stay byte-identical, fully-emptied ones
    * are dropped). Post-delete [[int8TopKFromIndex]] ranks IDENTICALLY
    * to a one-shot rebuild without the deleted vectors (spec-pinned):
    * every code row is self-contained (per-vector max-abs scale, no
    * frozen global artifact), so removing rows IS the rebuild. Re-running
    * the same delete is a natural no-op (no matching rows → no rewrites).
    * Batch pending ids into ONE call per maintenance window — each
    * call pays its own corpus-proportional discovery scan (measured
    * 7x for 10 calls vs 1; SCALING "Delete-family pricing").
    */
  def deleteFromInt8Index(
      spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame,
      path: String): graft.sinks.Lake.DeleteStats =
    graft.sinks.Lake.deleteMatchingNested(spark, path, Seq("batch"),
      "vec_id", oneIdCol(ids, "vec_id"))

  /** [[deleteFromInt8Index]] with an inline id list. */
  def deleteFromInt8Index(
      spark: org.apache.spark.sql.SparkSession,
      ids: Seq[Long],
      path: String): graft.sinks.Lake.DeleteStats = {
    import spark.implicits._
    deleteFromInt8Index(spark, ids.toDF("vec_id"), path)
  }

  /** GDPR-style delete from a [[writeIvfPqIndex]] layout: copy-on-write
    * rewrite of exactly the `cell=<c>/batch=<id>` partitions holding the
    * deleted vec_ids' code rows. The frozen centroids/codebooks (trained
    * on the BASE corpus and deliberately NOT retrained — retraining would
    * re-key every surviving code) are untouched, so post-delete
    * [[ivfPqTopKFromIndex]] ranks IDENTICALLY to an index rebuilt from
    * the same base corpus minus the deleted vectors' rows (spec-pinned);
    * probe-time cell pruning is unchanged. No shape parameters are taken
    * because deletion never buckets or encodes anything — there is
    * nothing to mismatch. Re-running the same delete is a natural no-op.
    * Batch pending ids into ONE call per maintenance window — each
    * call pays its own corpus-proportional discovery scan (measured
    * 7x for 10 calls vs 1; SCALING "Delete-family pricing").
    */
  def deleteFromIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame,
      path: String): graft.sinks.Lake.DeleteStats =
    graft.sinks.Lake.deleteMatchingNested(spark, path, Seq("cell", "batch"),
      "vec_id", oneIdCol(ids, "vec_id"))

  /** [[deleteFromIvfPqIndex]] with an inline id list. */
  def deleteFromIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      ids: Seq[Long],
      path: String): graft.sinks.Lake.DeleteStats = {
    import spark.implicits._
    deleteFromIvfPqIndex(spark, ids.toDF("vec_id"), path)
  }

  /** Normalize a caller's delete set to one long column named `name` —
    * fails loudly on a multi-column frame instead of guessing.
    */
  private[functions] def oneIdCol(ids: DataFrame, name: String): DataFrame = {
    require(ids.columns.length == 1,
      s"delete set must be a one-column id frame, got ${ids.columns.mkString(",")}")
    ids.select(col(ids.columns.head).cast("long").as(name))
  }

  /** [[int8TopK]] against the MATERIALIZED codes table: identical ranking
    * (shared scoring tail), but the scan is the stored codes — the float
    * corpus is never read at query time.
    */
  def int8TopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      indexPath: String,
      k: Int): DataFrame =
    int8TopKOverCodes(
      spark.read.parquet(indexPath).select(col("vec_id"), col("scale"), col("code")),
      queries, k)

  /** Product-quantization encode (Jegou et al. 2011): split each
    * `dim`-dimensional vector into `m` subvectors and replace every
    * subvector with the id of its nearest codebook entry (L2, ties to
    * the lower centroid id). Codebooks are deterministic per subspace:
    * the subvectors of the seed vectors (`vec_id % centroidEvery == 0`)
    * — the same seeding rule as [[ivfTopK]], engine-reproducible.
    *
    * Output: (vec_id, j, code, d_q6) — one row per subspace, `code` the
    * chosen centroid id, `d_q6` the quantized squared L2 residual
    * (`floor(||sub - c||^2 * 10^6)`, left-to-right fold, bit-portable).
    * The codes table IS the compressed index: m BIGINTs per vector
    * instead of `dim` floats (8 codes vs 64 floats here), and
    * [[adcTopK]] searches it without ever touching the original floats.
    *
    * Plan shape for 100 TB: codebooks are a tiny broadcast (m x k rows);
    * encoding is explode(m) + broadcast-join + map-side-combinable
    * arg-min — one narrow pass over the corpus, no wide shuffle.
    */
  def pqEncode(
      corpus: DataFrame,
      centroidEvery: Int,
      m: Int,
      dim: Int): DataFrame = pqEncodeWith(corpus, corpus, centroidEvery, m, dim)

  /** [[pqEncode]] with the codebook FROZEN from a separate source: encode
    * `vectors` against codebooks derived from `codebookSource` (the base
    * corpus). This is how a PQ index grows incrementally — codebooks
    * train once, later arrivals encode against them unchanged (retraining
    * per append would silently re-key every existing code).
    */
  def pqEncodeWith(
      vectors: DataFrame,
      codebookSource: DataFrame,
      centroidEvery: Int,
      m: Int,
      dim: Int): DataFrame = {
    import graft.expressions.VectorExpressions.pqArgMin
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val v = vectors.select(col("vec_id"), toDouble(col("vec")).as("e"))
    val subs = v
      .select(col("vec_id"), explode(sequence(lit(0L), lit(m - 1L))).as("j"), col("e"))
      .withColumn("sv", expr(s"slice(e, j * $sub + 1, $sub)"))
      .drop("e")
    val cents = codebookSource
      .select(col("vec_id"), toDouble(col("vec")).as("e"))
      .filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("cid"), explode(sequence(lit(0L), lit(m - 1L))).as("j"), col("e"))
      .withColumn("cv", expr(s"slice(e, j * $sub + 1, $sub)"))
      .drop("e")
    // Codebook ranks (cid ascending) — bounded driver read BY
    // CONSTRUCTION: one value per codebook entry. The rank order makes
    // the flattened-codebook scan reproduce min(struct(d_q6, cid))
    // tie-breaking exactly (first strict minimum = lowest cid).
    val cids = cents.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    val kEntries = cids.length
    val rank = typedLit(cids.zipWithIndex.map { case (c, r) => c -> r.toLong }.toMap)
    val rankToCid = typedLit(cids)
    // the WHOLE codebook as ONE broadcast row, flattened in
    // (subspace-major, rank-minor, dim-minor) order
    val centsOne = cents
      .withColumn("pos", col("j") * lit(kEntries.toLong) + element_at(rank, col("cid")))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("pos"), col("cv")))).as("pc"))
      .select(flatten(transform(col("pc"), e => e.getField("cv"))).as("centsFlat"))
    // arg-min over all k candidates inside ONE native expression per
    // subvector row: no corpus x m x k join, no struct-min SortAggregate
    // (which cannot hash-aggregate and sorted 16M rows at the 10x smoke)
    subs.crossJoin(broadcast(centsOne)) // 1-row side
      .withColumn("am", pqArgMin(col("sv"), col("centsFlat"), col("j"), kEntries))
      .select(col("vec_id"), col("j"),
        element_at(rankToCid, col("am.code").cast("int") + 1).as("code"),
        col("am.d_q6").as("d_q6"))
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-coded corpus: the query
    * stays in float space; per (subspace, codebook entry) squared-L2
    * partials are precomputed into a tiny distance table, and each
    * corpus vector's estimated distance is the INTEGER sum of its m
    * table lookups. Returns the k nearest (smallest estimated distance,
    * ties to the lower vec_id) per query.
    *
    * Plan shape for 100 TB: scans ONLY the codes table (m BIGINTs per
    * vector), broadcast-joins the queries x m x k distance table, and
    * partial-aggregates the integer sums — the float corpus is never
    * read at query time. That is the PQ payoff: the hot scan shrinks
    * from dim floats to m codes per vector.
    */
  /** Per-subspace PQ codebook `(cid, j, cv)` — the seed vectors'
    * subvectors, shared by [[pqEncode]]'s callers ([[adcTopK]],
    * [[ivfPqTopK]]).
    */
  private def pqCodebook(
      corpus: DataFrame, centroidEvery: Int, m: Int, sub: Int): DataFrame =
    corpus.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("cid"),
        explode(sequence(lit(0L), lit(m - 1L))).as("j"),
        toDouble(col("vec")).as("e"))
      .withColumn("cv", expr(s"slice(e, j * $sub + 1, $sub)"))
      .drop("e")

  /** Per-query ADC distance table `(qid, j, code, pd_q6)`: quantized
    * squared L2 from each query subvector to every codebook entry —
    * queries x m x k rows, broadcastable by construction.
    */
  private def pqDistanceTable(queries: DataFrame, cents: DataFrame, sub: Int): DataFrame =
    queries
      .select(col("qid"), toDouble(col("qvec")).as("qe"))
      .crossJoin(cents)
      .withColumn("qv", expr(s"slice(qe, j * $sub + 1, $sub)"))
      .withColumn("pd_q6", squaredL2Q6(col("qv"), col("cv")))
      .select(col("qid"), col("j"), col("cid").as("code"), col("pd_q6"))

  private def adcRank(scored: DataFrame, k: Int): DataFrame =
    topKByPair(scored, negate = false, "adc_q6", k)

  def adcTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      centroidEvery: Int,
      m: Int,
      dim: Int): DataFrame = {
    import graft.expressions.VectorExpressions.adcSumsAll
    val sub = dim / m
    val cents = pqCodebook(corpus, centroidEvery, m, sub)
    // dense codebook ranks: cid -> position, so each query's distance
    // table flattens to one m*k long array and each vector's codes to m
    // positions — the classic ADC layout. Bounded driver read BY
    // CONSTRUCTION: one row per codebook entry (corpus/centroidEvery).
    val cids = cents.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    val rank = typedLit(cids.zipWithIndex.map { case (c, r) => c -> r.toLong }.toMap)
    val kEntries = cids.length
    // one row per vector: its m codes as dense ranks, ordered by subspace
    val codesWide = pqEncode(corpus, centroidEvery, m, dim)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("j"), col("code")))).as("jc"))
      .select(col("vec_id"),
        transform(col("jc"), e => element_at(rank, e.getField("code"))).as("codes"))
    // ONE row carrying every query's flattened table (qid-sorted): Q*m*k
    // longs — broadcastable by construction (queries are the small side)
    val dtabOne = pqDistanceTable(queries, cents, sub)
      .withColumn("pos", col("j") * lit(kEntries.toLong) + element_at(rank, col("code")))
      .groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(col("pos"), col("pd_q6")))).as("pd"))
      .select(col("qid"), transform(col("pd"), e => e.getField("pd_q6")).as("dtab"))
      .agg(sort_array(collect_list(struct(col("qid"), col("dtab")))).as("qd"))
      .select(
        transform(col("qd"), e => e.getField("qid")).as("qids"),
        flatten(transform(col("qd"), e => e.getField("dtab"))).as("dtabs"))
    // per corpus VECTOR (not per pair): one native loop computes all Q
    // sums against the broadcast row; the (query, vector) rows only exist
    // as the narrow posexplode output. A per-pair join here fabricates a
    // row carrying the m*k table per pair — measured slower than the
    // (j, code)-join it replaced; this shape does the identical integer
    // adds with zero per-pair row width.
    val scored = codesWide
      .crossJoin(broadcast(dtabOne)) // 1-row side
      .select(col("vec_id"), col("qids"),
        posexplode(adcSumsAll(col("codes"), col("dtabs"), kEntries)).as(Seq("qidx", "adc_q6")))
      .select(element_at(col("qids"), col("qidx") + 1).as("qid"),
        col("vec_id"), col("adc_q6"))
      .filter(col("qid") =!= col("vec_id"))
    adcRank(scored, k)
  }

  /** IVF + PQ composite (the FAISS-style big-corpus index): each query
    * probes its `nprobe` max-cosine cells (same deterministic centroids
    * and tie-breaks as [[ivfTopK]]) and ADC-scores ONLY the PQ codes of
    * vectors assigned to those cells. The two prunings compose: the scan
    * is m codes per vector instead of dim floats (PQ), over the probed
    * fraction of the corpus instead of all of it (IVF).
    *
    * Plan shape for 100 TB: the probes and the distance table are tiny
    * broadcasts, the codes scan is partition-prunable when the codes
    * table is WRITTEN partitioned by cell id (each probe touches only
    * its cells' files — the LayoutSpec story applied to the index), and
    * the ADC sums stay integer partial aggregates.
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      centroidEvery: Int,
      nprobe: Int,
      m: Int,
      dim: Int): DataFrame = {
    val sub = dim / m
    val c = withNorm(corpus, "vec", "v")
    val centroids = seedCentroids(c, centroidEvery)
    val cells = cellAssign(c, centroids) // (vec_id, cid)
    val q = withNorm(queries, "qvec", "q")
    val probes = probeCells(q, centroids, nprobe)
      .select(col("qid"), col("cid").as("cell"))
    val codes = pqEncode(corpus, centroidEvery, m, dim)
      .select(col("vec_id"), col("j"), col("code"))
      .join(cells.withColumnRenamed("cid", "cell"), "vec_id")
    val dtable = pqDistanceTable(queries, pqCodebook(corpus, centroidEvery, m, sub), sub)
    val scored = codes
      .join(broadcast(probes), "cell")
      .join(broadcast(dtable), Seq("qid", "j", "code"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pd_q6")).as("adc_q6"))
    adcRank(scored, k)
  }

  /** Materialize the IVF+PQ index to disk: the PQ codes joined with the
    * cell assignment, WRITTEN PARTITIONED BY CELL ID. Probing then reads
    * only the probed cells' directories — partition pruning (LayoutSpec)
    * applied to the index itself, which is how a 100 TB corpus serves
    * queries without scanning even the codes of unprobed cells.
    * The written layout is (vec_id, j, code) under `cell=<cid>/`.
    */
  def writeIvfPqIndex(
      corpus: DataFrame,
      path: String,
      centroidEvery: Int,
      m: Int,
      dim: Int): Unit = {
    // sibling .meta dir: a params SUBdir would break the code table's
    // cell=/batch= partition discovery
    IndexLayout.writeParams(corpus.sparkSession, s"$path.meta", Map(
      "centroidEvery" -> centroidEvery.toLong, "m" -> m.toLong, "dim" -> dim.toLong))
    val c = withNorm(corpus, "vec", "v")
    val centroids = seedCentroids(c, centroidEvery)
    val cells = cellAssign(c, centroids).withColumnRenamed("cid", "cell")
    pqEncode(corpus, centroidEvery, m, dim)
      .select(col("vec_id"), col("j"), col("code"))
      .join(cells, "vec_id")
      .withColumn("batch", lit(IndexLayout.BaseBatch))
      .write.mode("overwrite").partitionBy("cell", "batch").parquet(path)
  }

  /** Staleness-triggered REBUILD of a [[writeIvfPqIndex]] layout — the
    * action [[indexStalenessReport]]'s alarm calls for, closing the
    * monitor→refresh loop: centroids and PQ codebooks are re-derived
    * FRESH from `corpus` (the new base — post-delete survivors, or
    * survivors plus the appended drift that tripped the alarm), every
    * vector is re-encoded against them into a staging dir, and the live
    * table is swapped via the [[IndexLayout.stageAndSwap]]
    * delete-then-rename protocol (a crash in the swap window is a
    * deterministic resume; rerunning this function finishes or
    * reproduces it byte-for-byte — contents are deterministic in
    * (corpus, params)).
    *
    * Post-rebuild [[ivfPqTopKFromIndex]] — with `corpus` as the codebook
    * source — ranks IDENTICALLY to [[writeIvfPqIndex]] from scratch over
    * the same corpus (spec-pinned), and on a planted-drift fixture the
    * rebuilt index's recall matches the fresh arm of the staleness
    * report (the alarm's actionable fix, demonstrated in RecallSpec).
    *
    * Batch-id accounting mirrors the compaction family: the rebuild
    * CONSUMES every stored batch, so the consumed-through marker is
    * written FIRST (a replayed pre-rebuild append would encode against
    * the OLD codebooks — it must fail loudly), the rebuilt rows land at
    * that max consumed id, and fresh appends resume above it —
    * encoding against the NEW `corpus` from then on (the
    * [[appendToIvfPqIndex]] `baseCorpus` contract).
    *
    * STOP-THE-WORLD maintenance: quiesce appenders/deleters/searchers
    * for the swap window, like the compactors.
    */
  def rebuildIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame,
      path: String,
      centroidEvery: Int,
      m: Int,
      dim: Int): Unit = {
    // a rebuild never changes the layout's shape (that would re-key
    // every consumer's probe/encode path) — fail loudly on a mismatch
    IndexLayout.requireParams(spark, s"$path.meta", Map(
      "centroidEvery" -> centroidEvery.toLong, "m" -> m.toLong,
      "dim" -> dim.toLong))
    IndexLayout.resumeCompaction(spark, path)
    val through = math.max(
      IndexLayout.maxBatchId(spark, path), IndexLayout.BaseBatch)
    IndexLayout.writeCompactedThrough(spark, s"$path.meta/compacted", through)
    IndexLayout.stageAndSwap(spark, path) { staging =>
      val c = withNorm(corpus, "vec", "v")
      val centroids = seedCentroids(c, centroidEvery)
      val cells = cellAssign(c, centroids).withColumnRenamed("cid", "cell")
      pqEncode(corpus, centroidEvery, m, dim)
        .select(col("vec_id"), col("j"), col("code"))
        .join(cells, "vec_id")
        .withColumn("batch", lit(through))
        .write.partitionBy("cell", "batch").parquet(staging)
    }
  }

  /** [[rebuildIvfPqIndex]] for the flat int8 layout: every corpus
    * vector re-quantized (per-vector max-abs rescale) into a staged
    * replacement, swapped with the same crash-resume protocol and the
    * same consumed-through marker discipline. Nothing global is frozen
    * in this layout, so the rebuild's value is shrinking to exactly
    * `corpus` (post-delete survivors) in ONE bounded-file table.
    */
  def rebuildInt8Index(
      spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame,
      path: String,
      targetFiles: Int = 32): Unit = {
    IndexLayout.resumeCompaction(spark, path)
    val through = math.max(
      IndexLayout.maxBatchId(spark, path), IndexLayout.BaseBatch)
    IndexLayout.writeCompactedThrough(spark, s"$path.meta/compacted", through)
    IndexLayout.stageAndSwap(spark, path) { staging =>
      val q8 = quantizeInt8(col("vec"))
      corpus.select(col("vec_id"),
          q8.getField("scale").as("scale"), q8.getField("q").as("code"))
        .withColumn("batch", lit(through))
        .repartition(targetFiles)
        .write.partitionBy("batch").parquet(staging)
    }
  }

  /** Incremental index maintenance: encode `newVecs` against the BASE
    * corpus's frozen centroids + codebooks and append their codes to the
    * materialized index at `path`. Appended rows land in their cells'
    * partition directories, so probe-time partition pruning keeps working
    * unchanged, and searching the index ([[ivfPqTopKFromIndex]] with the
    * base corpus as the codebook source) now covers base + appended
    * vectors. Chunking-invariant: appending in any number of batches
    * yields the same index contents as one batch (spec-proven) — which is
    * what makes the streaming wrapper (`StreamOps.indexAppendStream`)
    * exactly the batch operator per micro-batch.
    *
    * IDEMPOTENT per batch id: rows land under `cell=<c>/batch=<id>`
    * partitions and a repeated call with the same `batchId` (foreachBatch
    * at-least-once replay) overwrites exactly its own partitions instead
    * of appending duplicate codes (see [[IndexLayout]]). Without an
    * explicit `batchId` the next free id is allocated from the layout.
    */
  def appendToIvfPqIndex(
      baseCorpus: DataFrame,
      newVecs: DataFrame,
      path: String,
      centroidEvery: Int,
      m: Int,
      dim: Int,
      batchId: Option[Long] = None): Unit = {
    IndexLayout.requireParams(newVecs.sparkSession, s"$path.meta", Map(
      "centroidEvery" -> centroidEvery.toLong, "m" -> m.toLong, "dim" -> dim.toLong))
    val c = withNorm(newVecs, "vec", "v")
    val base = withNorm(baseCorpus, "vec", "v")
    val centroids = seedCentroids(base, centroidEvery)
    val cells = cellAssign(c, centroids).withColumnRenamed("cid", "cell")
    val id = batchId.getOrElse(
      IndexLayout.maxBatchId(newVecs.sparkSession, path) + 1)
    IndexLayout.compactedThrough(newVecs.sparkSession, s"$path.meta/compacted")
      .foreach(t => require(id > t,
        s"batch $id was consumed by a compaction (through=$t) — a replay " +
          "here would duplicate its rows; appends must resume above it"))
    IndexLayout.overwriteBatchPartitions(
      pqEncodeWith(newVecs, baseCorpus, centroidEvery, m, dim)
        .select(col("vec_id"), col("j"), col("code"))
        .join(cells, "vec_id")
        .withColumn("batch", lit(id)),
      path, Seq("cell", "batch"))
  }

  /** ADC top-k against a MATERIALIZED index (see [[writeIvfPqIndex]]):
    * the probed cells become a partition filter on the codes read —
    * unprobed cells' files are never opened. Returns the same ranking as
    * [[ivfPqTopK]] on the same corpus/parameters (spec-proven).
    */
  def ivfPqTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      corpus: DataFrame,
      indexPath: String,
      k: Int,
      centroidEvery: Int,
      nprobe: Int,
      m: Int,
      dim: Int): DataFrame = {
    IndexLayout.requireParams(spark, s"$indexPath.meta", Map(
      "centroidEvery" -> centroidEvery.toLong, "m" -> m.toLong, "dim" -> dim.toLong))
    val sub = dim / m
    val c = withNorm(corpus, "vec", "v")
    val centroids = seedCentroids(c, centroidEvery)
    val q = withNorm(queries, "qvec", "q")
    val probes = probeCells(q, centroids, nprobe)
      .select(col("qid"), col("cid").as("cell"))
    // the probed cell ids collapse to a partition filter on the index
    // read — bounded driver read BY CONSTRUCTION: probes has exactly
    // nprobe rows per query (row_number <= nprobe), so this collects
    // <= queries x nprobe cell ids regardless of corpus size
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val codes = spark.read.parquet(indexPath)
      .filter(col("cell").isin(probedCells: _*))
    val dtable = pqDistanceTable(queries, pqCodebook(corpus, centroidEvery, m, sub), sub)
    val scored = codes
      .join(broadcast(probes), "cell")
      .join(broadcast(dtable), Seq("qid", "j", "code"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pd_q6")).as("adc_q6"))
    adcRank(scored, k)
  }

  /** Deterministic IVF: centroids are the corpus vectors whose id is
    * divisible by `centroidEvery`; each corpus vector is assigned to its
    * max-cosine centroid (ties to the lower centroid id); each query
    * probes its `nprobe` closest cells and ranks exactly within them.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      centroidEvery: Int,
      nprobe: Int): DataFrame = {
    val c = withNorm(corpus, "vec", "v")
    val centroids = c
      .filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("cid"), col("vd").as("cd"), col("vn").as("cn"))
    ivfTopKWithCentroids(queries, corpus, centroids, k, nprobe)
  }

  /** Nearest-centroid cell assignment for normed vectors `(vec_id, vd,
    * vn)` against centroids `(cid, cd, cn)` → `(vec_id, cid)`.
    *
    * Scoring against broadcast centroids is narrow, and the per-vector
    * argmax is a map-side-combinable max(struct) — the shuffle carries
    * one thin row per corpus vector, not corpus x centroids (a
    * row_number window here would shuffle the full scored cross join).
    * Tie-break matches (score desc, cid asc) via the negated cid. The
    * aggregate stays narrow (no array columns through the hash agg:
    * complex-typed aggregates fall off the fast HashAggregate path);
    * vectors re-attach via a join on vec_id afterwards.
    */
  private def cellAssign(c: DataFrame, centroids: DataFrame): DataFrame =
    c.join(broadcast(centroids))
      .withColumn("a_score_q4", q4(dotProduct(col("cd"), col("vd")), col("cn"), col("vn")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("a_score_q4"), (-col("cid")).as("neg_cid"))).as("best"))
      .select(col("vec_id"), (-col("best.neg_cid")).as("cid"))

  /** Public nearest-centroid cell assignment for a raw `(vec_id, vec)`
    * corpus against `(cid, cd, cn)` centroids (e.g. from
    * [[kmeansCentroids]]) → `(vec_id, cid)` — the semantic-cell label
    * that [[diversitySample]] / [[semDedupKeep]] use internally, exposed
    * for cell-structured downstream layout (semantic packing: bins of
    * related documents, the In-Context Pretraining idea). Same plan as
    * [[cellAssign]]: broadcast centroids, narrow argmax aggregate.
    */
  def semanticCells(corpus: DataFrame, centroids: DataFrame): DataFrame =
    cellAssign(withNorm(corpus, "vec", "v"), centroids)

  /** IVF probe/rank core with caller-supplied centroids `(cid, cd, cn)` —
    * lets the index quality (modulo-sampled vs k-means-refined centroids,
    * [[kmeansCentroids]]) vary without touching the probe plan. Measured
    * recall@k vs [[bruteForceTopK]] is tracked in SCALING.md and floored
    * by `RecallSpec`.
    */
  def ivfTopKWithCentroids(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    val c = withNorm(corpus, "vec", "v")
    val q = withNorm(queries, "qvec", "q")
    val cells = cellAssign(c, centroids)
    val assigned = c.join(cells, "vec_id")
      .select(col("vec_id"), col("vd"), col("vn"), col("cid"))
    // query probes
    val probes = probeCells(q, centroids, nprobe)
      .select(col("qid"), col("qd"), col("qn"), col("cid"))
    val scored = probes
      .join(assigned, "cid")
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("score_q4", q4(dotProduct(col("qd"), col("vd")), col("qn"), col("vn")))
    topKByPair(scored, negate = true, "score_q4", k)
  }

  /** Deterministic Lloyd refinement of the modulo-sampled centroids:
    * fixed seed set (`vec_id % centroidEvery == 0`), fixed iteration
    * count, cosine assignment with the same (score desc, cid asc)
    * tie-break as the probe path — no RNG anywhere, so the index is
    * reproducible run-to-run. Refinement balances cells on clustered
    * corpora (the VERDICT-noted weakness of pure modulo sampling).
    *
    * The Lloyd means are EXACT, engine-portable integers, not raw double
    * `avg()`s: each component is quantized to `floor(x * 10^6)` (a single
    * IEEE multiply + floor, identical everywhere), summed as longs
    * (order-independent), integer-divided by the cell size, and scaled
    * back. Raw double means depend on summation order in the last ulp,
    * which can flip an assignment argmax between engines and break the
    * oracle's hash parity.
    *
    * Plan shape per iteration: assignment is the same narrow
    * broadcast + max(struct) argmax as the probe path (one thin row per
    * vector through the shuffle); the new means shuffle (cid, pos, xq)
    * triples — O(vectors x dim) thin rows, grouped twice. Empty cells
    * keep their previous centroid (left join + coalesce).
    */
  def kmeansCentroids(
      corpus: DataFrame,
      centroidEvery: Int,
      iters: Int): DataFrame = Checkpoints.scoped {
    // materialize the normalized working set once: every Lloyd iteration
    // reads it twice (assignment + means) and recomputing norms + the
    // scan per pass dominates the index build (iterative-kmeans caching,
    // same practice as MLlib's)
    val c = withNorm(corpus, "vec", "v").checkpointed()
    var cent = c
      .filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("cid"), col("vd").as("cd"), col("vn").as("cn"))
    for (_ <- 0 until iters) {
      val cells = cellAssign(c, cent)
      val means = c.join(cells, "vec_id")
        .select(col("cid"), posexplode(col("vd")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(
          sum(floor(col("x") * lit(1000000.0)).cast("long")).as("sq"),
          count(lit(1)).as("nv"))
        .withColumn("m", longDiv(col("sq"), col("nv")).cast("double") / lit(1000000.0))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cd"))
        .withColumn("cn", l2Norm(col("cd")))
      val prev = cent
      cent = cent.select(col("cid"), col("cd").as("cd0"), col("cn").as("cn0"))
        .join(means, Seq("cid"), "left")
        .select(
          col("cid"),
          coalesce(col("cd"), col("cd0")).as("cd"),
          coalesce(col("cn"), col("cn0")).as("cn"))
        .checkpointed() // cut the per-iteration lineage growth
      Checkpoints.unpersist(prev) // release the previous iteration's blocks
    }
    cent
  }

  /** Exact integral division on longs (Catalyst `IntegralDivide`, SQL
    * `div`): truncation toward zero, matching DuckDB's `//`.
    */
  private def longDiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    ColumnBridge.column(
      IntegralDivide(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Max-abs int8 quantization of an embedding — the standard vector-
    * compression step before an ANN index ships (4x smaller than float32,
    * 8x than float64). Per vector: scale = max |x_i|; q_i =
    * floor(x_i / scale * 127) in [-127, 127] (the max-abs element itself
    * hits exactly ±127: x_i/scale is exactly ±1.0); a zero vector
    * quantizes to zeros. Engine-portable: two IEEE ops + floor per element, identical
    * everywhere. Returns a struct (scale, q) so the caller keeps the
    * dequantization factor next to the codes.
    *
    * Native `QuantizeInt8` expression, not the
    * `struct(array_max(...), transform(...))` composition: the optimizer
    * inlines the scale sub-expression into the per-element lambda, making
    * the interpreted cost O(dim^2) per row — measured as the dominant
    * term of `sim_topk_int8` (round-6 plan audit).
    */
  def quantizeInt8(vec: Column): Column =
    graft.expressions.VectorExpressions.quantizeInt8(vec)

  /** Signed random projection (Achlioptas/SimHash-style dimensionality
    * reduction): project an `inDim`-dimensional embedding onto `outDim`
    * deterministic ±1 hyperplanes ([[planeSign]], md5-derived — any
    * engine reproduces the matrix). Returns one column per output
    * component, integer-exact: elements are quantized
    * `floor(x * 10^4)` BIGINTs BEFORE the signed sum, so the result is
    * order-independent and bit-identical everywhere.
    *
    * Plan shape for 100 TB: the sign matrix folds into the plan as
    * `outDim` literal arrays (zero per-row hashing) and each component
    * is one `zip_with` + `aggregate` over the row's own vector — a pure
    * narrow map, no shuffle, no driver state. The input must have
    * exactly `inDim` elements (shorter vectors zip against null and
    * poison the sum by design — fail loudly, not silently wrong).
    */
  def randomProjectionQ4(vec: Column, inDim: Int, outDim: Int): Seq[Column] = {
    require(inDim >= 1 && outDim >= 1, "dims must be >= 1")
    val vd = toDouble(vec)
    (0 until outDim).map { j =>
      val signs = typedLit((0 until inDim).map(i => planeSign(j, i).toLong))
      aggregate(
        zip_with(vd, signs, (v, s) => floor(v * lit(10000.0)).cast("long") * s),
        lit(0L), (acc, x) => acc + x).as(s"c$j")
    }
  }

  /** Deterministic ±1 hyperplane component (md5-derived, reproducible in
    * any engine): sign_ij = lowest bit of the 48-bit md5-prefix hash of
    * "i:j".
    */
  private[functions] def planeSign(i: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$i:$j".getBytes("UTF-8"))
    var h = 0L
    var b = 0
    while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    if ((h & 1L) == 1L) 1.0 else -1.0
  }

  /** Random-hyperplane (sign) LSH near-duplicate pairs — the scale path
    * for [[cosineNearDupPairs]]. Each vector gets `bands` bucket keys
    * (one per band of `rowsPerBand` hyperplane sign bits); only vectors
    * sharing a (band, bucket) are paired, then verified with the exact
    * quantized cosine. Shuffle cost O(vectors x bands) instead of
    * O(vectors^2); recall < 1 by design (governed by bands x rows).
    *
    * SCALE TUNING: random pairs collide with prob 2^-rowsPerBand per
    * band, so fixed-width bands make candidate volume quadratic as the
    * corpus grows. Set rowsPerBand ~ ceil(log2(corpus size)) to keep the
    * expected random-collision volume O(bands x n) — measured flat at
    * ~9-12 candidates/vector up to 2M vectors (SCALING.md, candidate-
    * volume curve). The 4-bit default fits the sf-scale oracle corpora.
    */
  def signLshNearDupPairs(
      corpus: DataFrame,
      minScoreQ4: Long,
      dim: Int,
      bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame = {
    val c = withNorm(corpus, "vec", "v")
    // plane i dotted with the vector, as a native dot product against a
    // literal ±1 vector
    def planeDot(i: Int): Column =
      dotProduct(typedLit((0 until dim).map(j => planeSign(i, j)).toArray), col("vd"))
    val bucketCols: Seq[Column] = (0 until bands).map { k =>
      val bucket = (0 until rowsPerBand).map { r =>
        when(planeDot(k * rowsPerBand + r) > 0, lit(1 << r)).otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(k).as("band"), bucket.as("bucket"))
    }
    // ids-only self-join on bucket keys; vectors re-attached after pair
    // dedup so the shuffle carries 3 small columns, not the embeddings
    val banded = c
      .withColumn("bb", explode(array(bucketCols: _*)))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val candIds = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .dropDuplicates("a", "b")
    val vecs = c.select(col("vec_id"), col("vd"), col("vn"))
    candIds
      .join(vecs.select(col("vec_id").as("a"), col("vd").as("da"), col("vn").as("na")), "a")
      .join(vecs.select(col("vec_id").as("b"), col("vd").as("db"), col("vn").as("nb")), "b")
      .withColumn("score_q4", q4(dotProduct(col("da"), col("db")), col("na"), col("nb")))
      .filter(col("score_q4") >= minScoreQ4)
      .select(col("a"), col("b"), col("score_q4"))
  }

  /** All embedding pairs above a cosine threshold (near-duplicate
    * detection). Quadratic — at scale, gate behind LSH/IVF blocking; the
    * exact version is the oracle baseline. Norms are computed once per
    * vector before the pair join; each pair costs one dot product.
    */
  def cosineNearDupPairs(
      corpus: DataFrame,
      minScoreQ4: Long): DataFrame = {
    val c = withNorm(corpus, "vec", "v")
    val a = c.select(col("vec_id").as("a"), col("vd").as("da"), col("vn").as("na"))
    val b = c.select(col("vec_id").as("b"), col("vd").as("db"), col("vn").as("nb"))
    a.join(b, col("a") < col("b"))
      .withColumn("score_q4", q4(dotProduct(col("da"), col("db")), col("na"), col("nb")))
      .filter(col("score_q4") >= minScoreQ4)
      .select(col("a"), col("b"), col("score_q4"))
  }

  /** Reciprocal-rank fusion of two ranked lists `(id, rank)` (rank
    * starting at 1): contribution = `floor(10^6 / (kRrf + rank))`,
    * summed per id — the standard hybrid-retrieval combiner (Cormack et
    * al., SIGIR 2009), in integer arithmetic so both engines agree
    * bit-for-bit (the usual 1/(k+r) doubles differ in the last ulp once
    * summed in different orders). Ids present in only one list get that
    * list's contribution, the RRF convention. Top-k plans as
    * `TakeOrderedAndProject` — no global sort.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, kRrf: Int, topK: Int): DataFrame =
    a.select(col("id"), col("rank"))
      .unionByName(b.select(col("id"), col("rank")))
      .withColumn("c", expr(s"cast(1000000 div ($kRrf + rank) as bigint)"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("id"))
      .limit(topK)

  /** SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic dedup by
    * clustering the embedding space and pruning near-duplicates ONLY
    * within each cluster — the trick that makes embedding-level dedup
    * tractable at corpus scale. The all-pairs form is O(n^2) in the
    * corpus; here the pairwise join is confined to cluster cells, so the
    * cost is sum over clusters of |cell|^2 — with k-means-balanced cells
    * (cell ~ n/k), that is n^2/k, and k grows with the corpus.
    *
    * Per vector: assign to its nearest centroid (same broadcast +
    * max(struct) argmax as the IVF probe path — one thin shuffled row per
    * vector), self-join within the cell on (cid, a < b), and mark the
    * LARGER id of every pair scoring >= `minScoreQ4` as a duplicate. The
    * kept set is then the per-group minimum representative, matching the
    * exact-dedup keep-min convention. Output: (vec_id, cid, keep 0/1) —
    * one row per input vector, so downstream filters compose.
    */
  /** D4-style semantic diversity sampling (Tirumala et al. 2023,
    * arXiv:2308.12284 — after SemDeDup, drop the most PROTOTYPICAL
    * points per cluster, i.e. those closest to their centroid, to
    * de-duplicate semantic regions and up-weight the long tail): per
    * k-means cell, keep the `keepPermille` fraction with the LOWEST
    * quantized cosine to their own centroid (most diverse first,
    * vec_id tie-break), always retaining at least one vector per cell.
    *
    * Scale shape: one broadcast-centroid assignment pass (narrow,
    * argmax over longs — no array ever enters an aggregate), a
    * cell-sized count, and one row_number window over cell-sized
    * partitions. The keep threshold is cross-multiplied
    * (`rank * 1000 <= keepPermille * n_cell`) — integer-exact in any
    * engine, no division.
    */
  def diversitySample(
      corpus: DataFrame,
      centroids: DataFrame,
      keepPermille: Int): DataFrame = {
    val c = withNorm(corpus, "vec", "v")
    val assigned = c.join(broadcast(centroids))
      .withColumn("a_score_q4", q4(dotProduct(col("cd"), col("vd")), col("cn"), col("vn")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("a_score_q4"), (-col("cid")).as("neg_cid"))).as("best"))
      .select(col("vec_id"), (-col("best.neg_cid")).as("cid"),
        col("best.a_score_q4").as("proto_q4"))
    val counts = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_cell"))
    val wCell = Window.partitionBy(col("cid"))
      .orderBy(col("proto_q4").asc, col("vec_id").asc)
    assigned
      .join(counts, "cid") // cells-sized side; AQE broadcasts when it fits
      .withColumn("rn", row_number().over(wCell).cast("long"))
      .select(col("vec_id"), col("cid"), col("proto_q4"),
        when(col("rn") * lit(1000L) <= lit(keepPermille.toLong) * col("n_cell") ||
            col("rn") === 1L, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  /** Frozen per-cell diversity cuts — the broadcastable serving side of
    * [[graft.streaming.StreamingCuration.diversityAssignStream]]: for
    * each cell, the max prototypicality among KEPT rows and the min
    * among DROPPED rows of a [[diversitySample]] pass. One row per cell
    * (bounded by the centroid count at any corpus size).
    */
  def diversityCuts(
      corpus: DataFrame,
      centroids: DataFrame,
      keepPermille: Int): DataFrame =
    diversitySample(corpus, centroids, keepPermille)
      .groupBy(col("cid"))
      .agg(
        max(when(col("keep") === 1L, col("proto_q4"))).as("keep_max_q4"),
        min(when(col("keep") === 0L, col("proto_q4"))).as("drop_min_q4"))

  /** Score a batch of vectors against FROZEN centroids + [[diversityCuts]]
    * — the stateless serving form of [[diversitySample]]: same argmax
    * assignment, then a per-cell threshold compare instead of the
    * batch-relative rank. Verdicts: `keep` (proto strictly below the
    * cell's first dropped value, or the cell dropped nothing), `drop`
    * (at or above it), and `boundary` for the one undecidable case — the
    * kept/dropped frontier sat ON a prototypicality tie at freeze time,
    * where the batch decision was id-rank-dependent and a stateless twin
    * must route the row explicitly rather than guess (vanishingly rare
    * on real embeddings; zero on the fixture corpus, spec-pinned). A
    * cell with no cut row (a centroid that owned nothing at freeze)
    * keeps its first occupant — most diverse by definition.
    */
  def diversityAssign(
      batch: DataFrame,
      centroids: DataFrame,
      cuts: DataFrame): DataFrame = {
    val c = withNorm(batch, "vec", "v")
    val assigned = c.join(broadcast(centroids))
      .withColumn("a_score_q4", q4(dotProduct(col("cd"), col("vd")), col("cn"), col("vn")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("a_score_q4"), (-col("cid")).as("neg_cid"))).as("best"))
      .select(col("vec_id"), (-col("best.neg_cid")).as("cid"),
        col("best.a_score_q4").as("proto_q4"))
    assigned
      .join(broadcast(cuts), Seq("cid"), "left")
      .select(col("vec_id"), col("cid"), col("proto_q4"),
        when(col("drop_min_q4").isNull || col("proto_q4") < col("drop_min_q4"),
          lit("keep"))
          .when(col("proto_q4") === col("drop_min_q4") &&
            col("keep_max_q4") === col("drop_min_q4"), lit("boundary"))
          .otherwise(lit("drop")).as("verdict"))
  }

  def semDedupKeep(
      corpus: DataFrame,
      centroids: DataFrame,
      minScoreQ4: Long): DataFrame = {
    val c = withNorm(corpus, "vec", "v")
    val assigned = c.join(cellAssign(c, centroids), "vec_id")
      .select(col("vec_id"), col("vd"), col("vn"), col("cid"))
    val dups = assigned.as("x").join(assigned.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .filter(q4(dotProduct(col("x.vd"), col("y.vd")),
        col("x.vn"), col("y.vn")) >= minScoreQ4)
      .select(col("y.vec_id").as("vec_id"))
      .distinct()
    assigned.select(col("vec_id"), col("cid"))
      .join(dups.withColumn("d", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("d").isNotNull, lit(0L)).otherwise(lit(1L)).as("keep"))
  }

  /** Frozen-artifact staleness monitor for the ANN/index serving tier
    * (r14 verdict #7): centroids, codebooks, and LSH bands are
    * frozen-by-design across appends ([[appendToInt8Index]],
    * [[appendToIvfPqIndex]], `Dedup.appendToLshIndex` — the
    * exactly-once append contract REQUIRES frozen quantizers), but
    * nothing told a serving tier WHEN corpus drift has eroded them.
    * This composes the two signals the repo already measures into one
    * bounded report row:
    *
    *  - distribution drift ([[Profiling.embeddingDrift]]): per-dimension
    *    quantized mean shift of the appended slice vs the frozen base,
    *    summarized to max/mean absolute shift;
    *  - retrieval erosion (the RecallSpec machinery): a SAMPLE of
    *    appended vectors queries the full corpus through the FROZEN
    *    modulo centroids (the index as it stands) and through the
    *    centroids a fresh rebuild would pick, both scored against the
    *    exact [[bruteForceTopK]] truth. The recall GAP is the staleness
    *    signal — drift alone can be benign (a shifted but
    *    well-clustered corpus retrieves fine); a widening frozen-vs-
    *    fresh gap is the actionable "rebuild the index" trigger.
    *
    * Integer-exact throughout (counts + floor-divided milli-recall), so
    * the whole report sits behind the DuckDB hash gate
    * (`index_staleness_report`). Cost honesty: independent of append
    * BATCH COUNT, not of corpus volume — the drift posexplode and each
    * retrieval arm's cell assignment are one corpus-linear pass; the
    * query side is the small sample (the serving-cadence knob at the
    * 100 TB posture).
    *
    * Output, one row: (n_frozen, n_appended, n_queries,
    * max_abs_drift_q6, mean_abs_drift_q6, truth_pairs, frozen_hits,
    * fresh_hits, recall_frozen_q3, recall_fresh_q3, recall_gap_q3).
    */
  def indexStalenessReport(
      emb: DataFrame,
      isFrozen: Column,
      queries: DataFrame,
      centroidEvery: Int,
      k: Int,
      nprobe: Int): DataFrame = {
    def cents(slice: DataFrame): DataFrame =
      withNorm(slice, "vec", "v")
        .filter(col("vec_id") % centroidEvery === 0)
        .select(col("vec_id").as("cid"), col("vd").as("cd"), col("vn").as("cn"))
    val frozenCent = cents(emb.filter(isFrozen))
    val freshCent = cents(emb)
    // exact truth, consumed by both intersection counts
    val truth = bruteForceTopK(queries, emb, k)
      .select(col("qid"), col("vec_id")).checkpointed()
    val frozenHits = ivfTopKWithCentroids(queries, emb, frozenCent, k, nprobe)
      .select(col("qid"), col("vec_id"))
    val freshHits = ivfTopKWithCentroids(queries, emb, freshCent, k, nprobe)
      .select(col("qid"), col("vec_id"))
    val drift = Profiling.embeddingDrift(emb, "vec", isFrozen)
      .agg(
        max(col("n_ref")).as("n_frozen"),
        max(col("n_cand")).as("n_appended"),
        max(abs(col("delta_q6"))).as("max_abs_drift_q6"),
        expr("sum(abs(delta_q6)) div count(1)").as("mean_abs_drift_q6"))
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    val tp = truth.agg(count(lit(1)).as("truth_pairs"))
    val fh = truth.join(frozenHits, Seq("qid", "vec_id"))
      .agg(count(lit(1)).as("frozen_hits"))
    val rh = truth.join(freshHits, Seq("qid", "vec_id"))
      .agg(count(lit(1)).as("fresh_hits"))
    drift
      .crossJoin(broadcast(nq))
      .crossJoin(broadcast(tp))
      .crossJoin(broadcast(fh))
      .crossJoin(broadcast(rh))
      .select(col("n_frozen"), col("n_appended"), col("n_queries"),
        col("max_abs_drift_q6"), col("mean_abs_drift_q6"),
        col("truth_pairs"), col("frozen_hits"), col("fresh_hits"),
        expr("frozen_hits * 1000 div truth_pairs").as("recall_frozen_q3"),
        expr("fresh_hits * 1000 div truth_pairs").as("recall_fresh_q3"),
        (expr("fresh_hits * 1000 div truth_pairs") -
          expr("frozen_hits * 1000 div truth_pairs")).as("recall_gap_q3"))
  }
}
