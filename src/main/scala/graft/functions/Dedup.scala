package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextAnalysis.{normalize, tokens}
import graft.functions.Checkpoints.Owned

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash group-by), n-gram Jaccard (exact set
  * similarity, blocked), MinHash+LSH (the 100 TB scale path), SimHash.
  *
  * Scale design:
  *  - Exact dedup groups on a 128-bit digest, never on the full document,
  *    so shuffle width is O(32 bytes/doc) regardless of document size.
  *  - MinHash/LSH turns the quadratic all-pairs problem into
  *    shuffle-by-band-bucket: each doc emits `bands` keys; only docs
  *    sharing a bucket are ever paired. Candidate verification re-computes
  *    exact Jaccard on the candidates only.
  *  - All hashing is engine-portable (md5-prefix), all built-ins, no UDFs.
  */
object Dedup {

  /** Exact duplicate groups keyed by md5 of the raw text. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Exact duplicate groups over normalized text (case/punct-insensitive). */
  def normalizedGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(normalizedFingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Source-priority duplicate resolution: within each exact-dup group,
    * keep the copy from the most-trusted source (smallest priority rank;
    * unlisted sources get `defaultRank`), tie-broken by smallest id —
    * the "prefer the curated edition over the crawl copy" rule every
    * real corpus merge applies, rather than keep-any.
    *
    * One map-side-combinable aggregate: the arg-min travels as a
    * `min(struct(rank, id, source))` — a single thin row per group
    * through the shuffle, no window, no self-join, no skew exposure
    * (a million-copy boilerplate group still reduces via partial min).
    * Output: (fp, keep_id, keep_source, n).
    */
  def priorityResolvedGroups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sourceCol: String,
      priority: Map[String, Int],
      defaultRank: Int): DataFrame =
    priorityResolvedGroupsByKey(df, md5(col(textCol)), idCol, sourceCol,
      priority, defaultRank)

  /** [[priorityResolvedGroups]] with an explicit dedup-key expression —
    * pass a normalized fingerprint (e.g. [[normalizedFingerprint]]) to
    * collapse case/whitespace variants instead of raw-byte duplicates.
    */
  def priorityResolvedGroupsByKey(
      df: DataFrame,
      keyExpr: Column,
      idCol: String,
      sourceCol: String,
      priority: Map[String, Int],
      defaultRank: Int): DataFrame = {
    val rank = priority.foldLeft(lit(defaultRank)) { case (acc, (s, r)) =>
      when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    df.groupBy(keyExpr.as("fp"))
      .agg(
        min(struct(rank.as("r"), col(idCol).as("id"), col(sourceCol).as("src")))
          .as("best"),
        count(lit(1)).as("n"))
      .select(col("fp"), col("best.id").as("keep_id"),
        col("best.src").as("keep_source"), col("n"))
  }

  /** Normalized-text digest — the dedup key of [[normalizedGroups]], also
    * usable as a per-row column (e.g. streaming dedup on a doc stream).
    */
  def normalizedFingerprint(text: Column): Column = md5(normalize(text))

  /** Distinct word n-gram shingles from a *materialized* token-array
    * column (empty array if fewer than `n` tokens; guarded so the sequence
    * never runs backwards).
    *
    * PERF: the tokens argument must be a plain column reference, not an
    * expression like `tokens(text)` — Catalyst does not share
    * subexpressions into higher-order-function lambdas, so an inline
    * tokenizer would re-run its regexp split for every `element_at` call
    * (3 splits per shingle). Stage the token array with `withColumn`
    * first; [[withHashedShingles]] does exactly that.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array()))
  }

  /** Convenience single-expression form — fine for small inputs, use the
    * staged [[withHashedShingles]] on hot paths (see perf note above).
    */
  def shingles(text: Column, n: Int): Column = shinglesFromTokens(tokens(text), n)

  /** text -> distinct 48-bit hashed shingles in `outCol`, via the native
    * single-pass expression (`graft.expressions.HashedShinglesExpr`).
    * Hashes (8-byte longs) rather than shingle strings flow into
    * downstream set ops (joins, intersections, MinHash) — at scale this is
    * the difference between shuffling shingle text and shuffling
    * fixed-width keys.
    */
  def withHashedShingles(df: DataFrame, textCol: String, n: Int, outCol: String): DataFrame =
    df.withColumn(outCol, graft.expressions.TextExpressions.hashedShingles(col(textCol), n))

  /** Exact n-gram Jaccard similarity pairs within a blocking key.
    *
    * Docs are exploded to (shingle, doc) rows; the self-join on
    * (block, shingle) yields only pairs that share at least one shingle.
    * Two fan-out bounds make this scale:
    *  - the blocking column (e.g. source/domain/bucket) partitions the
    *    candidate space, and
    *  - shingles with document frequency > `maxShingleDf` inside a block
    *    are dropped BEFORE the join (a stop-shingle shared by most of a
    *    block would otherwise re-create the all-pairs quadratic join) —
    *    worst-case fan-out per shingle is maxShingleDf^2. Jaccard is then
    *    computed over the capped shingle universe, the standard
    *    stopword-removal semantics for near-dup mining.
    * Plan shape: the df-filter is a groupBy(block, shingle) count — which
    * PARTIAL-aggregates map-side before its shuffle, unlike the unordered
    * window count it replaces (that form buffered every (block, shingle)
    * partition's rows in full) — semi-joined back onto the exploded rows
    * on the same (block, shingle) key the pair join then reuses; per-doc
    * set sizes re-attach to the (small) surviving pair list, AQE choosing
    * broadcast when it fits.
    * Output: (a, b, inter, uni, jaccard_milli).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: String,
      n: Int,
      minJaccardMilli: Int,
      maxShingleDf: Int): DataFrame = {
    val sh = withHashedShingles(df, textCol, n, "sh")
      .select(col(idCol).as("doc"), col(blockCol).as("blk"), col("sh"))
      .filter(size(col("sh")) > 0)
    val exploded = sh.select(col("doc"), col("blk"), explode(col("sh")).as("s"))
    val rareKeys = exploded.groupBy(col("blk"), col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
      .select(col("blk"), col("s"))
    val rare = exploded.join(rareKeys, Seq("blk", "s"), "left_semi")
    // rare-shingle set size per doc (docs whose shingles are all capped
    // out never become candidates)
    val docSizes = rare.groupBy(col("doc")).agg(count(lit(1)).as("nd"))
    val pairs = rare.select(col("blk"), col("s"), col("doc").as("a"))
      .join(rare.select(col("blk"), col("s"), col("doc").as("b")), Seq("blk", "s"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(docSizes.select(col("doc").as("a"), col("nd").as("na")), "a")
      .join(docSizes.select(col("doc").as("b"), col("nd").as("nb")), "b")
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard_milli",
        floor(col("inter") * lit(1000.0) / col("uni")).cast("long"))
      .filter(col("jaccard_milli") >= minJaccardMilli)
      .select(col("a"), col("b"), col("inter"), col("uni"), col("jaccard_milli"))
  }

  /** COMPLETE exact-Jaccard similarity join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al., WWW'07): every pair with
    * Jaccard >= t is returned, with NO blocking column and NO df-cap
    * recall loss (the price [[ngramJaccardPairs]] pays for its bound).
    *
    * Candidate generation: order each doc's shingle set by global
    * document frequency ascending (rarest first, ties by hash) and keep
    * only the first `|S| - ceil(t*|S|) + 1` shingles — the PREFIX. Two
    * docs with Jaccard >= t MUST share a prefix shingle: their smallest
    * common shingle w (in the global order) sits in both prefixes, else
    * all `inter >= t*|S|` common shingles would fit in a suffix of size
    * `ceil(t*|S|) - 1 < t*|S|`. So the prefix-x-prefix self-join loses
    * nothing, while the quadratic mass of stop-shingles (which sort
    * LAST) never enters the join. A size-ratio filter
    * (`min*1000 >= max*t_milli`, integer-exact) prunes length-mismatched
    * candidates the threshold already excludes.
    *
    * Verification is exact and local: surviving candidate pairs re-join
    * the full sorted hash arrays and compute `|A∩B|` per row
    * (`array_intersect` over fixed-width longs) — no second explode.
    *
    * Scale shape: one groupBy(shingle) df count (map-side partial), one
    * per-doc re-group to sort the array, the prefix self-join (fan-out
    * per shingle = |docs holding it in their PREFIX|^2 — df-ordering
    * makes hot shingles almost never prefix members), then a
    * candidate-sized verify. At t=0.5 the prefix halves per-doc join
    * keys; higher thresholds prune harder. Wide arrays ride the verify
    * join only (candidate-bounded rows, not corpus-bounded).
    * Output: (a, b, inter, uni, jaccard_milli) — a complete result the
    * df-capped form cannot promise.
    */
  def jaccardPrefixPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      minJaccardMilli: Int): DataFrame = {
    require(minJaccardMilli >= 1 && minJaccardMilli <= 1000,
      s"minJaccardMilli must be in [1, 1000] (got $minJaccardMilli)")
    val sh = withHashedShingles(df, textCol, n, "sh")
      .select(col(idCol).as("doc"), col("sh"))
      .filter(size(col("sh")) > 0)
    val ex = sh.select(col("doc"), explode(col("sh")).as("s"))
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // per-doc shingles in global rare-first order; prefix length
    // |S| - ceil(t*|S|) + 1 (integer ceil: (nd*t + 999) div 1000)
    val ordered = ex.join(dfreq, "s")
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("oset"))
      .withColumn("nd", size(col("oset")).cast("long"))
      .withColumn("plen",
        expr(s"cast(nd - ((nd * $minJaccardMilli + 999) div 1000) + 1 as int)"))
      .withColumn("set", expr("transform(oset, x -> x.s)"))
      .drop("oset")
      // consumed three times (prefix probe + both verify sides): pay the
      // shingle hash + df join + per-doc sort once, not per consumer
      .checkpointed()
    val probe = ordered
      .select(col("doc"), col("nd"),
        posexplode(slice(col("set"), lit(1), col("plen"))).as(Seq("pos", "s")))
    // PPJoin position filter (completeness-preserving): a true pair is
    // discoverable through its SMALLEST common shingle w, and every
    // common shingle sorts at-or-after w — so inter <= min(na-posA,
    // nb-posB) on w's row, while Jaccard >= t forces
    // inter >= ceil(t*(na+nb)/(1+t)). Rows violating the bound can be
    // dropped BEFORE the pair aggregate without losing any result.
    val cands = probe.select(col("s"), col("doc").as("a"),
        col("nd").as("na"), col("pos").as("pa"))
      .join(probe.select(col("s"), col("doc").as("b"),
        col("nd").as("nb"), col("pos").as("pb")), Seq("s"))
      .filter(col("a") < col("b"))
      .filter(least(col("na"), col("nb")) * 1000L >=
        greatest(col("na"), col("nb")) * minJaccardMilli)
      .filter(least(col("na") - col("pa"), col("nb") - col("pb")) *
        (1000L + minJaccardMilli) >= (col("na") + col("nb")) * minJaccardMilli)
      .select(col("a"), col("b")).distinct()
    // verify-tail spread: pin the two verify exchanges — which the joins
    // pay regardless — at the compute-slot count. The candidate frame is
    // byte-small but each row costs an array_intersect over full shingle
    // sets, so AQE's byte-based coalescing would otherwise collapse each
    // verify stage to ONE task; an explicit count AQE cannot coalesce
    val vp = df.sparkSession.sparkContext.defaultParallelism
    cands.repartition(vp, col("a"))
      .join(ordered.select(col("doc").as("a"), col("set").as("sa"), col("nd").as("na")), "a")
      .repartition(vp, col("b"))
      .join(ordered.select(col("doc").as("b"), col("set").as("sb"), col("nd").as("nb")), "b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard_milli",
        floor(col("inter") * lit(1000.0) / col("uni")).cast("long"))
      .filter(col("jaccard_milli") >= minJaccardMilli)
      .select(col("a"), col("b"), col("inter"), col("uni"), col("jaccard_milli"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs — the quote/subset relation
    * symmetric Jaccard can't see: a short doc wholly embedded in a long
    * one scores inter/min-side containment 1000 but a near-zero Jaccard
    * (the union is dominated by the long side). The signal behind
    * boilerplate detection and sub-document duplication diagnostics.
    *
    * Same scale machinery as [[ngramJaccardPairs]] minus the blocking
    * key (containment is exactly the cross-block relation blocking
    * hides): global document frequency caps each shingle's fan-out at
    * maxShingleDf^2 before the pair join, the join carries (shingle, id)
    * pairs only, and per-doc set sizes re-attach to the surviving pair
    * list. One unordered row per pair carries BOTH directions
    * (`contain_a_milli` = inter/|sh(a)|: how much of a lives inside b).
    * Thresholded on max(contain_a, contain_b) so either direction
    * qualifies the pair.
    */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      minContainMilli: Int,
      maxShingleDf: Int): DataFrame = {
    val sh = withHashedShingles(df, textCol, n, "sh")
      .select(col(idCol).as("doc"), col("sh"))
      .filter(size(col("sh")) > 0)
    val exploded = sh.select(col("doc"), explode(col("sh")).as("s"))
    val rareKeys = exploded.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
      .select(col("s"))
    val rare = exploded.join(rareKeys, Seq("s"), "left_semi")
    val docSizes = rare.groupBy(col("doc")).agg(count(lit(1)).as("nd"))
    val pairs = rare.select(col("s"), col("doc").as("a"))
      .join(rare.select(col("s"), col("doc").as("b")), Seq("s"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(docSizes.select(col("doc").as("a"), col("nd").as("na")), "a")
      .join(docSizes.select(col("doc").as("b"), col("nd").as("nb")), "b")
      .withColumn("contain_a_milli",
        floor(col("inter") * lit(1000.0) / col("na")).cast("long"))
      .withColumn("contain_b_milli",
        floor(col("inter") * lit(1000.0) / col("nb")).cast("long"))
      .filter(greatest(col("contain_a_milli"), col("contain_b_milli")) >= minContainMilli)
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
        col("contain_a_milli"), col("contain_b_milli"))
  }

  /** MinHash permutation modulus / seed constants. One real hash per
    * shingle ([[hashedShingles]]); the `numHashes` permutations are affine
    * maps `(A_i * h + B_i) mod P` over it — integer-exact, portable, and
    * ~numHashes x cheaper than hashing every shingle per permutation.
    */
  val MinhashPrime = 2147483647L // 2^31 - 1
  def minhashA(i: Int): Long = 1234567L + 2L * i
  def minhashB(i: Int): Long = 987654L + i

  /** MinHash signature over hashed shingles. */
  def minhashSignature(hashedShinglesCol: Column, numHashes: Int): Column = {
    val reduced = transform(hashedShinglesCol, h => h % MinhashPrime)
    array((0 until numHashes).map { i =>
      array_min(transform(reduced,
        h => (lit(minhashA(i)) * h + lit(minhashB(i))) % MinhashPrime))
    }: _*)
  }

  /** Per-document LSH band keys: one (doc, band, bh) row per band, plus
    * the shingle set (`sh`). The shared
    * core of batch [[minhashLshPairs]] and the maintained LSH index —
    * works on a static frame or a stream (stateless narrow transform).
    */
  def bandKeys(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int): DataFrame =
    bandKeysFromShingles(
      withHashedShingles(df, textCol, n, "sh")
        .select(col(idCol).as("doc"), col("sh"))
        .filter(size(col("sh")) > 0),
      bands, rowsPerBand)

  /** [[bandKeys]] over a PRE-SHINGLED frame (`doc`, `sh`):
    * lets a multi-stage pipeline (e.g. `Curation.curationKeep`) shingle
    * the corpus once and feed the same checkpointed frame to LSH banding,
    * contamination, and anything else shingle-shaped — the shingle
    * expression is the single most expensive narrow transform in the
    * dedup family, so at 100 TB running it once instead of three times is
    * a third of the corpus-pass cost.
    */
  def bandKeysFromShingles(
      sh: DataFrame,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    sh.withColumn("sig", minhashSignature(col("sh"), numHashes))
      .withColumn("bb",
        explode(transform(sequence(lit(0), lit(bands - 1)), k =>
          struct(
            k.as("band"),
            md5(array_join(
              transform(slice(col("sig"), k * rowsPerBand + 1, lit(rowsPerBand)),
                x => x.cast("string")), ",")).as("bh")))))
      .select(col("doc"), col("sh"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** [[minhashLshPairs]] plus the SIGNATURE-estimated Jaccard next to the
    * exact one: `est_milli = matching signature positions / numHashes`.
    * The estimator is the point of MinHash — at web scale the exact
    * verify (set intersection over full shingle sets) is the expensive
    * step, and a pipeline can rank/threshold on the estimate first and
    * verify only near the decision boundary. Shipping both columns makes
    * the estimator's accuracy inspectable query-side (and spec-gated).
    */
  def minhashEstimatedPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      minJaccardMilli: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigs = withHashedShingles(df, textCol, n, "sh")
      .select(col(idCol).as("doc"), col("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
    val banded = bandKeys(df, textCol, idCol, n, bands, rowsPerBand)
      .select(col("doc"), col("band"), col("bh"))
    val candIds = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"))
      .dropDuplicates("a", "b")
    candIds
      .join(sigs.select(col("doc").as("a"), col("sh").as("sha"), col("sig").as("siga")), "a")
      .join(sigs.select(col("doc").as("b"), col("sh").as("shb"), col("sig").as("sigb")), "b")
      .withColumn("matches",
        size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y), m => m)))
      .withColumn("est_milli",
        floor(col("matches") * lit(1000.0) / numHashes).cast("long"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
      .withColumn("jaccard_milli",
        floor(col("inter") * lit(1000.0) / col("uni")).cast("long"))
      .filter(col("jaccard_milli") >= minJaccardMilli)
      .select(col("a"), col("b"), col("est_milli"), col("jaccard_milli"))
  }

  /** MinHash + LSH candidate pairs with exact-Jaccard verification.
    *
    * `bands` bands of `rowsPerBand` signature rows each; docs colliding in
    * any band become candidates; candidates are verified with exact
    * Jaccard over their shingle sets. This is the scale path: shuffle
    * cost is O(docs x bands), never O(docs^2).
    * Output: (a, b, jaccard_milli).
    */
  def minhashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      minJaccardMilli: Int): DataFrame =
    minhashLshPairsFromShingles(
      withHashedShingles(df, textCol, n, "sh")
        .select(col(idCol).as("doc"), col("sh"))
        .filter(size(col("sh")) > 0),
      bands, rowsPerBand, minJaccardMilli)

  /** [[minhashLshPairs]] over a PRE-SHINGLED (`doc`, `sh`) frame — see
    * [[bandKeysFromShingles]] for why the split exists. Checkpoint the
    * input when it feeds multiple stages; this operator alone reads it
    * twice (banding + exact-verify re-attach).
    */
  def minhashLshPairsFromShingles(
      sh: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      minJaccardMilli: Int): DataFrame = {
    // ids-only band keys; the shingle arrays are re-attached after
    // candidate dedup so the self-join shuffles 3 small columns instead
    // of the full shingle sets
    val banded = bandKeysFromShingles(sh, bands, rowsPerBand)
      .select(col("doc"), col("band"), col("bh"))
    verifiedPairsFrom(banded, sh, minJaccardMilli)
  }

  /** Candidate self-join + exact-Jaccard verification over a band-key
    * frame (`doc`, `band`, `bh`) and a shingle frame (`doc`, `sh`) —
    * shared by [[minhashLshPairsFromShingles]] (fresh keys) and
    * [[pairsAmongFromIndex]] (stored keys), so the retraction path's
    * bit-identical-to-fresh contract is structural, not two copies that
    * must be kept in sync (r17 review).
    */
  private def verifiedPairsFrom(
      banded: DataFrame,
      sh: DataFrame,
      minJaccardMilli: Int): DataFrame = {
    val candIds = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"))
      .dropDuplicates("a", "b")
    val cand = candIds
      .join(sh.select(col("doc").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("doc").as("b"), col("sh").as("shb")), "b")
    cand
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
      .withColumn("jaccard_milli",
        floor(col("inter") * lit(1000.0) / col("uni")).cast("long"))
      .filter(col("jaccard_milli") >= minJaccardMilli)
      .select(col("a"), col("b"), col("jaccard_milli"))
  }

  /** Cross-source duplicate matrix: for every unordered source pair,
    * how many verified near-dup pairs ([[minhashLshPairs]]) straddle it
    * and their mean similarity — the diagnostic a corpus owner reads
    * before deciding blocking keys ("is src2 a mirror of src0?") and
    * exactly what source-BLOCKED dedup cannot see by construction.
    *
    * Scale shape: pair volume is the candidate-volume bound (measured
    * flat per item in SCALING.md); the two source lookups join the
    * small verified-pair list back to an id->source table (AQE
    * broadcasts the pair side), and the final aggregate is at most
    * |sources|^2 rows. Output: (src_a, src_b, n_pairs,
    * avg_jaccard_milli) with src_a <= src_b.
    */
  def crossSourceDupMatrix(
      df: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      minJaccardMilli: Int): DataFrame = {
    val pairs = minhashLshPairs(df, textCol, idCol, n, bands, rowsPerBand,
      minJaccardMilli)
    val srcs = df.select(col(idCol).as("__pid"), col(srcCol).as("__psrc"))
    pairs
      .join(srcs.select(col("__pid").as("a"), col("__psrc").as("sa")), "a")
      .join(srcs.select(col("__pid").as("b"), col("__psrc").as("sb")), "b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("jaccard_milli"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("cast(sum(jaccard_milli) div count(1) as bigint)")
          .as("avg_jaccard_milli"))
  }

  /** Blocked EDIT-DISTANCE near-dup pairs — the record-linkage modality
    * the shingle family can't see: two prefixes a couple of character
    * EDITS apart (typo mirrors, OCR variants) can share almost no
    * word-level shingles, but are levenshtein-close. All-pairs
    * levenshtein is O(n^2 · len^2) and never runs at corpus scale; this
    * is the standard blocked form:
    *
    *   1. normalize a fixed-length prefix of each doc (non-printable /
    *      non-ASCII stripped so cross-engine character semantics are
    *      exact);
    *   2. cut it into `maxDist + 1` ALIGNED segments — by pigeonhole,
    *      two prefixes within `maxDist` SUBSTITUTIONS share at least one
    *      untouched aligned segment (indels shift alignment, so
    *      indel-heavy pairs are best-effort: the standard
    *      blocking-recall trade, stated not hidden);
    *   3. candidate pairs meet on a (segment-index, segment-text) block
    *      key — blocks larger than `maxBlockDf` docs are dropped
    *      wholesale (a segment shared by thousands of docs is boilerplate,
    *      and an uncapped block costs df^2 pairs; same honesty-first cap
    *      as [[containmentPairs]]);
    *   4. the exact levenshtein verify runs ONLY on candidates, behind a
    *      free length-difference gate (|len a - len b| > maxDist can
    *      never pass).
    *
    * Cost: sum over surviving blocks of df^2 verifies, each O(prefixLen^2)
    * — bounded by maxBlockDf^2 per block, never all-pairs. One shuffle on
    * the block key, one on the pair dedup.
    *
    * Output: (a, b, dist) with a < b, dist <= maxDist.
    */
  def editDistancePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      prefixLen: Int = 48,
      maxDist: Int = 2,
      maxBlockDf: Int = 200): DataFrame = {
    require(prefixLen % (maxDist + 1) == 0,
      s"prefixLen=$prefixLen must divide into maxDist+1=${maxDist + 1} segments")
    val segLen = prefixLen / (maxDist + 1)
    val prefix = regexp_replace(
      substring(col(textCol), 1, prefixLen), "[^ -~]", "")
    val p = df.select(col(idCol).as("doc"), prefix.as("p"))
    // substring() needs literal offsets — build the segment structs
    // explicitly rather than via transform over a sequence
    val segs = (0 to maxDist).map { i =>
      struct(lit(i).as("seg"),
        substring(col("p"), 1 + i * segLen, segLen).as("sg"))
    }
    val keyed = p.select(col("doc"), col("p"), explode(array(segs: _*)).as("bk"))
      .select(col("doc"), col("p"), col("bk.seg").as("seg"), col("bk.sg").as("sg"))
      .filter(length(col("sg")) === segLen)
    // df cap per block key — groupBy + semi-join, not a window: a
    // boilerplate segment shared by 100k docs must die in a partial
    // aggregate, never be buffered by one WindowExec partition
    val smallKeys = keyed.groupBy(col("seg"), col("sg"))
      .agg(count(lit(1)).as("__bdf"))
      .filter(col("__bdf") <= maxBlockDf)
      .select(col("seg"), col("sg"))
    val small = keyed.join(smallKeys, Seq("seg", "sg"), "left_semi")
    val cand = small.as("x")
      .join(small.as("y"),
        col("x.seg") === col("y.seg") && col("x.sg") === col("y.sg") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"),
        col("x.p").as("pa"), col("y.p").as("pb"))
      .dropDuplicates("a", "b")
    cand
      .filter(abs(length(col("pa")) - length(col("pb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("pa"), col("pb")))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
  }

  private def bandBucket(bh: Column, buckets: Int): Column =
    pmod(conv(substring(bh, 1, 12), 16, 10).cast("long"), lit(buckets.toLong))

  /** Materialize an LSH dedup index: the corpus's MinHash band keys
    * (partitioned by a hash bucket of the band key) plus its shingle
    * sets. Built once; afterwards every NEW batch of documents checks
    * for near-dups against the whole corpus via
    * [[nearDupsAgainstIndex]] WITHOUT re-shingling or re-signing a
    * single corpus document — the incremental-dedup shape a production
    * ingest runs on every arrival, and the dedup member of the
    * materialized-index family (IVF+PQ cells, BM25 term buckets, LSH
    * band buckets).
    */
  def writeLshIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      buckets: Int = 64): Unit = {
    IndexLayout.writeParams(df.sparkSession, path, Map(
      "n" -> n.toLong, "bands" -> bands.toLong,
      "rowsPerBand" -> rowsPerBand.toLong, "buckets" -> buckets.toLong))
    val spark = df.sparkSession
    def writeBands(keys: DataFrame): Unit = keys
      .select(col("doc"), col("band"), col("bh"))
      .withColumn("bucket", bandBucket(col("bh"), buckets))
      .withColumn("batch", lit(IndexLayout.BaseBatch))
      .write.mode("overwrite").partitionBy("bucket", "batch").parquet(s"$path/bands")
    // ONE shingling pass: shingles land first and the band keys minhash
    // the WRITTEN longs, so the hashed-shingle expression — the most
    // expensive narrow transform in the dedup family — runs once, not
    // twice (same sh -> same minhash -> same bands). Shingles-first is
    // also the safer crash order: shingle rows without band rows are
    // unreachable (candidate generation starts from bands).
    withHashedShingles(df, textCol, n, "sh")
      .select(col(idCol).as("doc"), col("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("batch", lit(IndexLayout.BaseBatch))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$path/shingles")
    if (IndexLayout.hasBatchDirs(spark, s"$path/shingles"))
      writeBands(bandKeysFromShingles(
        IndexLayout.readTable(spark, s"$path/shingles").select(col("doc"), col("sh")),
        bands, rowsPerBand))
    else // all-token-less corpus: no shingle files to read back
      writeBands(bandKeys(df, textCol, idCol, n, bands, rowsPerBand))
  }

  /** Append a document batch's band keys + shingle sets into an existing
    * [[writeLshIndex]] layout (band rows land in their bucket partition
    * dirs, so later probes prune identically) — with
    * [[nearDupsAgainstIndex]] this is the maintenance half of continuous
    * dedup ingest (`StreamOps.dedupIngestStream`).
    *
    * IDEMPOTENT per batch id: rows land under `batch=<id>` partitions and
    * a repeated call with the same `batchId` (foreachBatch's at-least-once
    * replay) overwrites exactly those partitions instead of appending
    * duplicates (see [[IndexLayout]]). Without an explicit `batchId` the
    * next free id is allocated from the layout.
    */
  def appendToLshIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      buckets: Int = 64,
      batchId: Option[Long] = None): Unit = {
    // a mismatched append would band/bucket differently than the layout:
    // silently wrong probes forever after. Fail here instead.
    IndexLayout.requireParams(df.sparkSession, path, Map(
      "n" -> n.toLong, "bands" -> bands.toLong,
      "rowsPerBand" -> rowsPerBand.toLong, "buckets" -> buckets.toLong))
    val id = IndexLayout.allocateBatchId(df.sparkSession, batchId, s"$path/bands",
      s"$path/compacted", "compaction")
    val spark = df.sparkSession
    def writeBands(keys: DataFrame): Unit = IndexLayout.overwriteBatchPartitions(
      keys.select(col("doc"), col("band"), col("bh"))
        .withColumn("bucket", bandBucket(col("bh"), buckets))
        .withColumn("batch", lit(id)),
      s"$path/bands", Seq("bucket", "batch"))
    // ONE shingling pass per batch, shingles first (see writeLshIndex)
    IndexLayout.overwriteBatchPartitions(
      withHashedShingles(df, textCol, n, "sh")
        .select(col(idCol).as("doc"), col("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("batch", lit(id)),
      s"$path/shingles", Seq("batch"))
    if (IndexLayout.hasBatchDirs(spark, s"$path/shingles"))
      writeBands(bandKeysFromShingles(
        IndexLayout.readTable(spark, s"$path/shingles")
          .filter(col("batch").cast("long") === id)
          .select(col("doc"), col("sh")),
        bands, rowsPerBand))
    else writeBands(bandKeys(df, textCol, idCol, n, bands, rowsPerBand))
  }

  /** Per-table outcome of a [[deleteFromLshIndex]]: the band table's and
    * the shingle table's copy-on-write stats.
    */
  final case class LshDeleteStats(
      bands: graft.sinks.Lake.DeleteStats,
      shingles: graft.sinks.Lake.DeleteStats)

  /** GDPR-style delete from a [[writeLshIndex]] layout: copy-on-write
    * rewrite of exactly the `bucket=<k>/batch=<id>` band partitions and
    * `batch=<id>` shingle partitions holding the deleted docs' rows
    * ([[graft.sinks.Lake.deleteMatchingNested]] — untouched partition
    * directories stay byte-identical, fully-emptied ones are dropped).
    * Post-delete [[nearDupsAgainstIndex]] verdicts are IDENTICAL to an
    * index rebuilt without the deleted docs (spec-pinned): band keys and
    * shingle sets are per-document (nothing global is derived from the
    * corpus), so removing a doc's rows IS the rebuild.
    *
    * Crash ordering: bands first, shingles second — a crash in between
    * leaves orphan shingle rows that can never be REACHED (candidate
    * generation starts from the band table; a doc with no band rows is
    * never a candidate, and its shingles are only ever fetched for
    * candidates), so the half-deleted state is already invisible to
    * every probe; re-running the delete removes the orphans. No shape
    * parameters are taken — deletion never bands or shingles anything,
    * so there is nothing to mismatch. Re-running is a natural no-op.
    * Batch pending ids into ONE call per maintenance window — each
    * call pays its own corpus-proportional discovery scan (measured
    * 7x for 10 calls vs 1; SCALING "Delete-family pricing").
    */
  def deleteFromLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame,
      path: String): LshDeleteStats = {
    val docIds = Similarity.oneIdCol(ids, "doc")
    LshDeleteStats(
      bands = graft.sinks.Lake.deleteMatchingNested(
        spark, s"$path/bands", Seq("bucket", "batch"), "doc", docIds),
      shingles = graft.sinks.Lake.deleteMatchingNested(
        spark, s"$path/shingles", Seq("batch"), "doc", docIds))
  }

  /** [[deleteFromLshIndex]] with an inline id list. */
  def deleteFromLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      ids: Seq[Long],
      path: String): LshDeleteStats = {
    import spark.implicits._
    deleteFromLshIndex(spark, ids.toDF("doc"), path)
  }

  /** Compact an LSH index's batch tree (bands AND shingles) into one
    * batch — the [[graft.functions.TextAnalysis.compactInvertedIndex]]
    * lifecycle operator for the dedup family (no stats/visibility
    * protocol here, so the collapse is a plain staged swap per table
    * plus the consumed-id marker that makes a replayed pre-compaction
    * append fail loudly). STOP-THE-WORLD maintenance: quiesce the
    * ingest stream (checkpoint current — no uncommitted batch in
    * flight) for the swap window; rerunning after a crash finishes a
    * half-done swap.
    */
  def compactLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    IndexLayout.resumeCompaction(spark, s"$path/bands")
    IndexLayout.resumeCompaction(spark, s"$path/shingles")
    // bucket count comes from the layout's own params table (the one
    // compaction entry point must not take a trust-the-caller shape
    // parameter that can disagree with the stored layout)
    val buckets = IndexLayout.readParam(spark, path, "buckets")
      .getOrElse(64L).toInt
    val through = math.max(
      IndexLayout.maxBatchId(spark, s"$path/bands"),
      IndexLayout.maxBatchId(spark, s"$path/shingles"))
    // marker FIRST (the index-family convention — see
    // TextAnalysis.compactInvertedIndex): a crash between either
    // destructive fold and a trailing marker would leave a compacted
    // table with no replay guard, so a replayed pre-compaction append
    // silently duplicates rows. Early is safe under the documented
    // stop-the-world quiesce: every id <= through is landed.
    IndexLayout.writeCompactedThrough(spark, s"$path/compacted", through)
    // collapse INTO the max consumed id (not BaseBatch): maxBatchId then
    // still reads `through`, so auto-id allocation resumes above the
    // guard instead of colliding with it. The fold resolves LAST-WRITER
    // per doc first: collapsing an update re-append's two text versions
    // into one batch would otherwise destroy the max-batch distinction
    // pairsAmongFromIndex relies on, permanently (r17 second review);
    // for at-least-once copies this is also the natural dedup.
    IndexLayout.compactTable(spark, s"$path/bands", Seq("bucket", "batch"),
      toBatch = through, keep = lastWriterRows,
      repartitionCols = Seq("bucket"), targetFiles = math.max(1, buckets))
    IndexLayout.compactTable(spark, s"$path/shingles", Seq("batch"),
      toBatch = through, keep = lastWriterRows,
      repartitionCols = Nil, targetFiles = 32)
  }

  /** Near-dup pairs of a NEW document batch against an indexed corpus
    * ([[writeLshIndex]]). The new batch's band keys are computed fresh
    * (it is the small side by nature); the corpus side comes entirely
    * from the index — candidate generation joins the stored band table
    * (the new batch's band-key buckets become a partition filter, which
    * prunes hard exactly when the batch is small — the incremental
    * case), and exact-Jaccard verification fetches only the CANDIDATE
    * corpus docs' stored shingle sets. Intra-batch duplicates are
    * [[minhashLshPairs]] on the batch alone; appending the batch's own
    * keys/shingles to the index afterwards keeps it current (plain
    * parquet append into the same layout).
    * Output: (new_id, corpus_id, jaccard_milli).
    *
    * `excludeBatchId` makes the read replay-deterministic for a caller
    * that is about to append this batch under that id: a foreachBatch
    * replay after a committed-but-uncheckpointed attempt would otherwise
    * see the batch's OWN index rows and score against a different corpus
    * than attempt 1 did. Filtering `batch=<id>` out (a partition-pruned
    * predicate — `batch` is a partition column) means every attempt
    * scores against exactly the pre-batch index.
    */
  def nearDupsAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      minJaccardMilli: Int,
      buckets: Int = 64,
      excludeBatchId: Option[Long] = None): DataFrame = Checkpoints.scoped {
    // reader params must match the layout's, or the bucket partition
    // filter prunes the TRUE candidates away — zero errors, zero dups
    IndexLayout.requireParams(spark, indexPath, Map(
      "n" -> n.toLong, "bands" -> bands.toLong,
      "rowsPerBand" -> rowsPerBand.toLong, "buckets" -> buckets.toLong))
    // localCheckpoint: newBk feeds BOTH the driver-side bucket collect and
    // the candidate join — without it the batch is re-shingled twice
    val newBk = bandKeys(newDocs, textCol, idCol, n, bands, rowsPerBand)
      .select(col("doc"), col("band"), col("bh"))
      .withColumn("bucket", bandBucket(col("bh"), buckets))
      .checkpointed()
    val newSh = withHashedShingles(newDocs, textCol, n, "sh")
      .select(col(idCol).as("doc"), col("sh"))
      .filter(size(col("sh")) > 0)
    // bounded driver read BY CONSTRUCTION: bandBucket maps into
    // [0, buckets), so this collects <= `buckets` (default 64) rows no
    // matter how large the batch or the index is
    val qBuckets = newBk.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val notOwnBatch = excludeBatchId
      .map(id => col("batch") =!= lit(id))
      .getOrElse(lit(true))
    val idxBands = IndexLayout.readTable(spark, s"$indexPath/bands")
      .filter(col("bucket").isin(qBuckets: _*) && notOwnBatch)
    val candIds = newBk.as("x")
      .join(idxBands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc") =!= col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"))
      .dropDuplicates("a", "b")
      // candidate-volume-bounded pin: materializing the candidate ids
      // here lets the scope release newBk on return instead of it backing
      // the lazily returned frame (r17 fourth review)
      .checkpointed()
    val corpusSh = IndexLayout.readTable(spark, s"$indexPath/shingles").filter(notOwnBatch)
    candIds
      .join(newSh.select(col("doc").as("a"), col("sh").as("sha")), "a")
      .join(corpusSh.select(col("doc").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
      .withColumn("jaccard_milli",
        floor(col("inter") * lit(1000.0) / col("uni")).cast("long"))
      .filter(col("jaccard_milli") >= minJaccardMilli)
      .select(col("a").as("new_id"), col("b").as("corpus_id"), col("jaccard_milli"))
  }

  /** The complete NEW near-dup pair set an arriving batch adds to an
    * indexed corpus: batch-vs-index pairs ([[nearDupsAgainstIndex]] —
    * partition-pruned, the corpus is never re-shingled) plus intra-batch
    * pairs ([[minhashLshPairs]] on the batch alone). Both sides band and
    * verify with the same parameters, so this union is EXACTLY the pairs
    * a full-corpus LSH pass over (corpus ∪ batch) would emit beyond the
    * corpus's own — the input contract of
    * [[Curation.refreshClusters]]'s incremental cluster maintenance.
    * Output: (a, b) with a = the batch-side id for index pairs.
    */
  def newBatchPairs(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      minJaccardMilli: Int,
      buckets: Int = 64,
      excludeBatchId: Option[Long] = None): DataFrame =
    nearDupsAgainstIndex(spark, batch, textCol, idCol, indexPath,
      n, bands, rowsPerBand, minJaccardMilli, buckets, excludeBatchId)
      .select(col("new_id").as("a"), col("corpus_id").as("b"))
      .unionByName(
        minhashLshPairs(batch, textCol, idCol, n, bands, rowsPerBand,
          minJaccardMilli)
          .select(col("a"), col("b")))

  /** Verified near-dup pairs AMONG a given id set, regenerated entirely
    * from a materialized [[writeLshIndex]] layout — nothing is
    * re-shingled or re-banded: candidate generation self-joins the
    * STORED band keys of exactly these docs, and exact-Jaccard
    * verification reads their STORED shingle sets, so the result is
    * bit-identical to [[minhashLshPairs]] over the same documents
    * (spec-pinned; the append param guard pins the banding shape).
    *
    * This is the read [[graft.functions.Curation.refreshClustersRetract]]
    * needs: after [[deleteFromLshIndex]] removed the dead docs' rows, the
    * index holds exactly the SURVIVING pair evidence, and the retraction
    * re-derives an affected cluster's pairs from it without touching the
    * corpus. Cost: one column-pruned scan of each index table filtered by
    * a broadcast semi-join on the (affected-cluster-bounded) id set; the
    * self-join runs over only those docs' band rows.
    *
    * A doc id present in MULTIPLE batches resolves LAST-WRITER per
    * table (max batch id — a replayed at-least-once ingest holds copies,
    * an UPDATE re-append holds two text versions, and mixing one
    * version's band keys with the other's shingles would verify pairs a
    * fresh pass over the current corpus rejects, nondeterministically;
    * r17 review). A crashed half-append (new bands, old shingles) heals
    * when its batch replays, the layout's standing contract.
    */
  def pairsAmongFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame,
      indexPath: String,
      minJaccardMilli: Int): DataFrame = {
    val docs = Similarity.oneIdCol(ids, "doc")
    def latestOf(table: String, valCols: Seq[String]): DataFrame =
      lastWriterRows(IndexLayout.readTable(spark, s"$indexPath/$table")
        .join(broadcast(docs), Seq("doc"), "left_semi"))
        .select((col("doc") +: valCols.map(col)): _*)
    val banded = latestOf("bands", Seq("band", "bh"))
      .dropDuplicates("doc", "band", "bh")
    val sh = latestOf("shingles", Seq("sh")).dropDuplicates("doc")
    verifiedPairsFrom(banded, sh, minJaccardMilli)
  }

  /** Keep only each doc's MAX-batch rows — last-writer resolution for a
    * (doc, ..., batch) index table, as ONE pass (a per-doc window, never
    * a second corpus scan). Shared by [[pairsAmongFromIndex]]'s read and
    * [[compactLshIndex]]'s fold: the fold must resolve last-writer
    * BEFORE collapsing batches, or an update re-append's two text
    * versions merge into one batch and the distinction is destroyed
    * permanently (r17 second review).
    */
  private def lastWriterRows(rows: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc"))
    rows
      .withColumn("__mb", max(col("batch").cast("long")).over(w))
      .filter(col("batch").cast("long") === col("__mb"))
      .drop("__mb")
  }

  /** 60-bit portable token hashes (first 15 hex digits of md5). Compute
    * this once into a column, then fold with [[simhash60FromHashes]] —
    * avoids re-hashing the token list for every fingerprint bit.
    */
  def tokenHashes60(text: Column): Column =
    transform(tokens(text), t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))

  def simhash60FromHashes(hs: Column): Column =
    graft.expressions.TextExpressions.simhash60(hs)

  /** SimHash near-dup pairs within a blocking column, by Hamming distance.
    *
    * Candidate generation is multi-index Hamming banding, not all-pairs:
    * the 60-bit fingerprint is split into `maxHamming + 1` contiguous
    * bands, so by pigeonhole any pair within Hamming <= maxHamming agrees
    * EXACTLY on at least one band. Docs emit one (band, value) key per
    * band; only docs colliding on (block, band, value) are ever paired,
    * then verified with the exact `bit_count(xor)`. Shuffle is
    * O(docs x bands) thin rows — same output as the quadratic
    * within-block join, never its cost.
    */
  def simhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: String,
      maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    require(bands >= 1 && bands <= 60, s"maxHamming must be in [0, 59], got $maxHamming")
    val baseLen = 60 / bands
    val rem = 60 % bands
    val lens = Seq.tabulate(bands)(i => baseLen + (if (i < rem) 1 else 0))
    val offs = lens.scanLeft(0)(_ + _)
    val f = df
      .withColumn("hs", tokenHashes60(col(textCol)))
      .select(col(idCol).as("doc"), col(blockCol).as("blk"),
        simhash60FromHashes(col("hs")).as("sh"))
    // the fingerprint is a single long, so carrying it alongside the band
    // keys is cheaper than a re-attach join after candidate dedup
    val banded = f.select(col("doc"), col("blk"), col("sh"),
      explode(array((0 until bands).map { k =>
        struct(
          lit(k).as("band"),
          shiftright(col("sh"), offs(k)).bitwiseAND(lit((1L << lens(k)) - 1)).as("bv"))
      }: _*)).as("bb"))
      .select(col("doc"), col("blk"), col("sh"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    banded.as("x").join(banded.as("y"),
        col("x.blk") === col("y.blk") && col("x.band") === col("y.band") &&
          col("x.bv") === col("y.bv") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming) // verify BEFORE dedup: shrinks the shuffle
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Per-token 60-bit hashes for fingerprint half `half`: half 0 is the
    * unsalted [[tokenHashes60]] stream (so half 0 of the wide print IS
    * the 60-bit SimHash); half i >= 1 salts each token with `#i` before
    * hashing, giving an independent 60-bit draw per half.
    */
  private def saltedTokenHashes60(toks: Column, half: Int): Column =
    transform(toks, t =>
      conv(substring(md5(if (half == 0) t else concat(t, lit(s"#$half"))), 1, 15),
        16, 10).cast("long"))

  /** `array<long>` of `halves` 60-bit SimHash fingerprints — a
    * `60 * halves`-bit wide fingerprint. Takes a MATERIALIZED token-array
    * column (stage with `withColumn` first — see [[shinglesFromTokens]]'s
    * perf note on HOF subexpression sharing).
    */
  def simhashWideFromTokens(toks: Column, halves: Int): Column =
    array((0 until halves).map(h =>
      simhash60FromHashes(saltedTokenHashes60(toks, h))): _*)

  /** Scale-safe SimHash near-dup pairs over a WIDE fingerprint
    * (`60 * halves` bits, [[simhashWideFromTokens]]) — the fix for the
    * fixed-width banding trap of [[simhashPairs]].
    *
    * The trap: banding a 60-bit print for hamming <= 10 forces 11 bands
    * of ~5.5 bits (pigeonhole), so a RANDOM pair collides on some band
    * with probability ~11/2^5.5 — candidate volume grows as ~n^2/4 per
    * block, quadratic no matter how the corpus is blocked. Correct at
    * small blocks, a scale-killer at 100 TB. The escape is the same one
    * the sign-LSH path uses: keep the absolute hamming budget fixed and
    * WIDEN the fingerprint, so each of the `maxHamming + 1` pigeonhole
    * bands carries ~`60 * halves / (maxHamming + 1)` bits and random
    * band collisions die off as 2^-width. At `halves = 6` (360-bit print, 30-bit
    * bands) random collisions are ~2^-26 per band per pair.
    *
    * Banding: each 60-bit half is tiled by `ceil((maxHamming+1)/halves)`
    * contiguous bands (total bands >= maxHamming + 1 across halves, so by
    * pigeonhole any pair within the hamming budget agrees exactly on at
    * least one band — recall 1.0 by construction, spec-gated). Verified
    * hamming is `sum_h bit_count(xor(half_h))` over the full print.
    * Semantics note: hamming <= 10 over a wider print is a STRICTER
    * near-dup notion than over 60 bits (10/360 vs 10/60 of the bits) —
    * the wide form is the production dedup setting, the 60-bit form the
    * small-block/compat one.
    * Output: (a, b, hamming) — hamming over the full wide print.
    */
  def simhashPairsWide(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: String,
      maxHamming: Int,
      halves: Int): DataFrame = {
    require(halves >= 1 && halves <= 11, s"halves must be in [1, 11], got $halves")
    val bandsPerHalf = ((maxHamming + 1) + halves - 1) / halves
    require(bandsPerHalf >= 1 && bandsPerHalf <= 60,
      s"maxHamming=$maxHamming needs $bandsPerHalf bands/half, max 60")
    val baseLen = 60 / bandsPerHalf
    val rem = 60 % bandsPerHalf
    val lens = Seq.tabulate(bandsPerHalf)(i => baseLen + (if (i < rem) 1 else 0))
    val offs = lens.scanLeft(0)(_ + _)
    val f = df
      .withColumn("_toks", tokens(col(textCol)))
      .select(col(idCol).as("doc"), col(blockCol).as("blk"),
        simhashWideFromTokens(col("_toks"), halves).as("shs"))
    val bandStructs = for { h <- 0 until halves; k <- 0 until bandsPerHalf } yield
      struct(
        lit(h * bandsPerHalf + k).as("band"),
        shiftright(element_at(col("shs"), h + 1), offs(k))
          .bitwiseAND(lit((1L << lens(k)) - 1)).as("bv"))
    val banded = f.select(col("doc"), col("blk"), col("shs"),
      explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc"), col("blk"), col("shs"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val ham = (0 until halves).map { h =>
      bit_count(element_at(col("x.shs"), h + 1)
        .bitwiseXOR(element_at(col("y.shs"), h + 1)))
    }.reduce(_ + _).cast("long")
    banded.as("x").join(banded.as("y"),
        col("x.blk") === col("y.blk") && col("x.band") === col("y.band") &&
          col("x.bv") === col("y.bv") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"), ham.as("hamming"))
      .filter(col("hamming") <= maxHamming) // verify BEFORE dedup: shrinks the shuffle
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Per-document duplicated-substring profile: for every document, how
    * many of its distinct hashed n-gram shingles also occur in at least
    * one OTHER document (corpus document frequency > 1), and the
    * per-mille fraction of such shingles.
    *
    * This is the span-level duplication statistic behind suffix-style
    * training-data dedup ("what fraction of this document is boilerplate
    * repeated elsewhere?"): exact-duplicate detection misses documents
    * that are 90% template + 10% unique, while this surfaces them with a
    * near-1000 dup_frac_milli. Plan shape: one explode, one map-side-
    * combined df count, one join back keyed on the 8-byte shingle hash,
    * one per-doc aggregate — no pairwise join anywhere, so cost is linear
    * in total shingle volume and survives a 100x corpus unchanged.
    * Output: (doc_id, n_shingles, n_dup, dup_frac_milli).
    */
  def duplicateShingleProfile(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame = {
    val sh = withHashedShingles(df, textCol, n, "sh")
      .select(col(idCol).as("doc_id"), col("sh"))
      .filter(size(col("sh")) > 0)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    // shingles are distinct per doc, so count(*) per shingle == document
    // frequency; partial aggregation shrinks the shuffle to one row per
    // (partition, shingle)
    val freq = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    ex.join(freq, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup"))
      .withColumn("dup_frac_milli",
        floor(col("n_dup") * lit(1000.0) / col("n_shingles")).cast("long"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"), col("dup_frac_milli"))
  }

  /** Duplicated-span REMOVAL — the acting twin of
    * [[duplicateShingleProfile]]: rewrite each document with every
    * cross-document duplicated n-token span cut out, keeping exactly one
    * copy corpus-wide. This is the scalable shingle approximation of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): instead of building a
    * corpus suffix array (which needs a global sort of every byte), mark
    * every n-token window whose hash occurs in >= 2 distinct documents
    * and cut the covered tokens from every doc except the one with the
    * smallest id (the keeper — so one instance of each span survives, as
    * in the paper).
    *
    * Deterministic, engine-portable semantics:
    *  - positional n-gram windows (start s = 1..len-n+1, 48-bit md5 hash);
    *  - window s of doc d is a CUT window iff its hash occurs in >= 2
    *    distinct docs and d != min(doc_id) over those docs;
    *  - token p of doc d is dropped iff covered by a cut window
    *    (exists cut start s in [p-n+1, p]);
    *  - output text is the space-join of surviving tokens (whitespace
    *    normalizes under reconstruction — standard for token-level
    *    span dedup).
    *
    * Scale shape: one explode to (doc, start, hash) rows — the same
    * volume [[duplicateShingleProfile]] already shuffles; document
    * frequency + keeper come from one partially-aggregated groupBy on the
    * 8-byte hash; the cut itself is a positional ANTI JOIN — dup windows
    * explode to their covered (doc, position) rows, token positions that
    * survive the anti join rebuild the text with one per-doc aggregate.
    * Everything is keyed on (doc, position) or the doc id, so cost stays
    * linear in total token volume at 100x. Window hashes come from the
    * native single-pass `PositionalHashedShinglesExpr` — the
    * compositional `transform(sequence(...), i => md5(concat_ws(...)))`
    * is an interpreted per-element lambda measured at 37 s PER EVALUATION
    * at the 10x smoke scale, and a narrow per-row cut
    * (`filter(toks, (t, i) => !exists(cut_starts, ...))`) is O(tokens x
    * cuts) interpreted per row: the two together ran 108 s where this
    * form runs ~7 s (vs ~6 s for the read-only profile op).
    *
    * Output: (doc_id, n_tokens, n_kept, clean_text).
    */
  def removeDuplicateSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame = {
    // positional window hashes via the native single-pass expression
    // (empty when the doc is shorter than n tokens); `toks` tokenizes by
    // the same \s+ convention inside the expression and out
    val withHs = df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("toks"),
      graft.expressions.TextExpressions.positionalHashedShingles(col(textCol), n).as("hs"))
    val ex = withHs
      .select(col("doc_id"), posexplode(col("hs")))
      .select(col("doc_id"), (col("pos") + 1).as("s"), col("col").as("h"))
    val freq = ex.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"), min(col("doc_id")).as("keeper"))
    // every token position covered by a cut window (s <= L-n+1, so
    // s+n-1 never exceeds the doc length — no clamp needed)
    val cutPos = ex.join(freq, "h")
      .where(col("df") > 1 && col("doc_id") =!= col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + lit(n - 1))).as("p"))
      .distinct()
    val tokPos = withHs
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("t"))
    val kept = tokPos.join(cutPos, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_n"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("t")))),
          e => e.getField("t"))).as("kept_text"))
    withHs
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_n"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("clean_text"))
  }
}
