package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.functions.Checkpoints.Owned

/** LLM-data-pipeline operators wired into the driver's correctness gate:
  * dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding),
  * similarity search, text analysis, multimodal plumbing.
  *
  * Each query has a DuckDB-equivalent oracle built from the same portable
  * primitives (md5-prefix hashing, sequential left-fold double arithmetic,
  * integer-quantized scores), so the two engines agree bit-for-bit.
  */
object LlmQueries {

  // Shared SQL fragments (DuckDB dialect) -------------------------------
  private val toksSql =
    """list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"""

  /** Sequential left-fold dot product in DuckDB — same summation order as
    * `graft.expressions.DotProductD`, so doubles match bit-for-bit.
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series(1, len($a)), i -> $a[i]*$b[i])), (acc,x) -> acc+x)"

  /** Parametrized IVF retrieval CTE chain (k=5, nprobe=3) against a
    * centroid CTE `(cid, ce, cn)` and a query CTE `q(qid, qe, qn)`,
    * ending in `${p}hits(qid, vec_id)` — the `ivfProbeSql` rules with a
    * prefix so two centroid sets (frozen vs fresh) can retrieve in one
    * statement (the `index_staleness_report` oracle).
    */
  private def ivfHitsCtes(p: String, cent: String): String =
    s"""${p}assign AS (
          SELECT vec_id, e, n, cid FROM (
            SELECT vn.vec_id, vn.e, vn.n, c.cid,
                   row_number() OVER (PARTITION BY vn.vec_id
                     ORDER BY CAST(floor(${dotSql("c.ce", "vn.e")} / (c.cn * vn.n) * 10000) AS BIGINT) DESC,
                              c.cid) AS rn
            FROM vn CROSS JOIN $cent c) WHERE rn = 1),
        ${p}probes AS (
          SELECT qid, qe, qn, cid FROM (
            SELECT q.qid, q.qe, q.qn, c.cid,
                   row_number() OVER (PARTITION BY q.qid
                     ORDER BY CAST(floor(${dotSql("c.ce", "q.qe")} / (c.cn * q.qn) * 10000) AS BIGINT) DESC,
                              c.cid) AS rn
            FROM q CROSS JOIN $cent c) WHERE rn <= 3),
        ${p}hits AS (
          SELECT qid, vec_id FROM (
            SELECT p.qid, a.vec_id,
                   CAST(row_number() OVER (PARTITION BY p.qid
                     ORDER BY CAST(floor(${dotSql("p.qe", "a.e")} / (p.qn * a.n) * 10000) AS BIGINT) DESC,
                              a.vec_id) AS BIGINT) AS rank
            FROM ${p}probes p JOIN ${p}assign a USING (cid) WHERE p.qid <> a.vec_id)
          WHERE rank <= 5)"""

  /** Deterministic kNN label vote over any `(qid, vec_id, rank)` top-k
    * frame (brute or IVF): neighbours vote their label (count desc, then
    * closest-rank, then label asc); disagreement with the probe's own
    * label flags a candidate labeling error. The vote itself is scale-
    * free: a per-(probe,label) count plus one probe-partitioned
    * row_number over <= k rows per probe — cost is probes x k rows no
    * matter how the top-k was produced.
    */
  def knnLabelVote(topk: DataFrame, emb: DataFrame): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = topk
      .join(labels, "vec_id")
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("n_votes"), min(col("rank")).as("best_rank"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("n_votes").desc, col("best_rank").asc, col("label").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(labels.select(col("vec_id").as("qid"), col("label").as("own_label")),
        "qid")
      .select(col("qid"), col("own_label"), col("label").as("knn_label"),
        col("n_votes"),
        when(col("own_label") === col("label"), lit(1L)).otherwise(lit(0L))
          .as("agree"))
      .orderBy("qid")
  }

  /** IVF probe/rank CTE tail (nprobe=3, k=5, queries = vec_id < 20)
    * against a centroid CTE named `centCte` with columns (cid, ce, cn) —
    * same assignment, probing and ranking rules as
    * `Similarity.ivfTopKWithCentroids`, bit-identical quantized scores.
    * Prepend `v`/`vn` CTEs and the centroid CTE chain.
    */
  private def ivfProbeSql(centCte: String): String =
    s"""assign AS (
          SELECT vec_id, e, n, cid FROM (
            SELECT vn.vec_id, vn.e, vn.n, c.cid,
                   row_number() OVER (PARTITION BY vn.vec_id
                     ORDER BY CAST(floor(${dotSql("c.ce", "vn.e")} / (c.cn * vn.n) * 10000) AS BIGINT) DESC,
                              c.cid) AS rn
            FROM vn CROSS JOIN $centCte c) WHERE rn = 1),
        probes AS (
          SELECT qid, qe, qn, cid FROM (
            SELECT q.vec_id AS qid, q.e AS qe, q.n AS qn, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY CAST(floor(${dotSql("c.ce", "q.e")} / (c.cn * q.n) * 10000) AS BIGINT) DESC,
                              c.cid) AS rn
            FROM vn q CROSS JOIN $centCte c WHERE q.vec_id < 20) WHERE rn <= 3)
        SELECT qid, vec_id, score_q4, rank FROM (
          SELECT p.qid, a.vec_id,
                 CAST(floor(${dotSql("p.qe", "a.e")} / (p.qn * a.n) * 10000) AS BIGINT) AS score_q4,
                 CAST(row_number() OVER (PARTITION BY p.qid
                   ORDER BY CAST(floor(${dotSql("p.qe", "a.e")} / (p.qn * a.n) * 10000) AS BIGINT) DESC,
                            a.vec_id) AS BIGINT) AS rank
          FROM probes p JOIN assign a USING (cid) WHERE p.qid <> a.vec_id)
        WHERE rank <= 5 ORDER BY qid, rank"""

  private val vnCtes: String =
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings),
        vn AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS n FROM v)"""

  /** Cold 2-round sync LPA over the full mutual-kNN graph — shared by
    * `graph_communities` AND `graph_communities_incremental` (the
    * incremental Spark path must land on the identical cold labels).
    */
  private lazy val communitiesOracle: String =
    s"""WITH $vnCtes,
        $ivfNnAllCtes,
        mk AS (SELECT n1.qid AS a, n1.vec_id AS b
               FROM nn n1 JOIN nn n2
                 ON n2.qid = n1.vec_id AND n2.vec_id = n1.qid
               WHERE n1.qid < n1.vec_id),
        e AS (SELECT a AS src, b AS dst FROM mk
              UNION SELECT b AS src, a AS dst FROM mk),
        l0 AS (SELECT src AS node, src AS label FROM (SELECT DISTINCT src FROM e)),
        r1 AS (SELECT e.src AS node, l.label, count(*) AS n
               FROM e JOIN l0 l ON l.node = e.dst GROUP BY 1, 2),
        l1 AS (SELECT node, label FROM (
                 SELECT node, label, row_number() OVER (PARTITION BY node
                   ORDER BY n DESC, label ASC) AS rn FROM r1) WHERE rn = 1),
        r2 AS (SELECT e.src AS node, l.label, count(*) AS n
               FROM e JOIN l1 l ON l.node = e.dst GROUP BY 1, 2),
        l2 AS (SELECT node, label FROM (
                 SELECT node, label, row_number() OVER (PARTITION BY node
                   ORDER BY n DESC, label ASC) AS rn FROM r2) WHERE rn = 1)
        SELECT node, label AS community FROM l2 ORDER BY node"""

  /** Full-corpus IVF kNN edge CTE chain (probes = EVERY vector,
    * centroidEvery=25, nprobe=3, k=5) ending in `nn(qid, vec_id, rank)` —
    * the DuckDB replica of `Similarity.ivfTopK` with corpus-wide probes.
    * Prepend `vnCtes`; shared by the full-corpus mislabel sweep and
    * label propagation.
    */
  private lazy val ivfNnAllCtes: String =
    s"""cent AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn WHERE vec_id % 25 = 0),
        assign AS (
          SELECT vec_id, e, n, cid FROM (
            SELECT vn.vec_id, vn.e, vn.n, c.cid,
                   row_number() OVER (PARTITION BY vn.vec_id
                     ORDER BY CAST(floor(${dotSql("c.ce", "vn.e")} / (c.cn * vn.n) * 10000) AS BIGINT) DESC,
                              c.cid) AS rn
            FROM vn CROSS JOIN cent c) WHERE rn = 1),
        probes AS (
          SELECT qid, qe, qn, cid FROM (
            SELECT q.vec_id AS qid, q.e AS qe, q.n AS qn, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY CAST(floor(${dotSql("c.ce", "q.e")} / (c.cn * q.n) * 10000) AS BIGINT) DESC,
                              c.cid) AS rn
            FROM vn q CROSS JOIN cent c) WHERE rn <= 3),
        nn AS (SELECT qid, vec_id, score_q4, rank FROM (
                 SELECT p.qid, a.vec_id,
                        CAST(floor(${dotSql("p.qe", "a.e")} / (p.qn * a.n) * 10000) AS BIGINT) AS score_q4,
                        CAST(row_number() OVER (PARTITION BY p.qid
                          ORDER BY CAST(floor(${dotSql("p.qe", "a.e")} / (p.qn * a.n) * 10000) AS BIGINT) DESC,
                                   a.vec_id) AS BIGINT) AS rank
                 FROM probes p JOIN assign a USING (cid) WHERE p.qid <> a.vec_id)
               WHERE rank <= 5)"""

  /** One freeze-once label-propagation round as CTEs: unlabeled nodes
    * with a labeled neighbor in `lab$p` take the majority label (count
    * desc, closest rank, label asc) and freeze at hops = `r` — mirrors
    * `Graph.labelPropagation` exactly.
    */
  private def lpRoundSql(p: Int, r: Int): String =
    s"""v$r AS (SELECT nn.qid AS node, l.label, count(*) AS nv, min(nn.rank) AS br
               FROM nn JOIN lab$p l ON l.node = nn.vec_id
               GROUP BY 1, 2),
        p$r AS (SELECT node, label, CAST($r AS BIGINT) AS hops FROM (
                  SELECT node, label,
                         row_number() OVER (PARTITION BY node
                           ORDER BY nv DESC, br ASC, label ASC) AS rn
                  FROM v$r) x
                WHERE rn = 1 AND node NOT IN (SELECT node FROM lab$p)),
        lab$r AS (SELECT * FROM lab$p UNION ALL SELECT * FROM p$r)"""

  /** DuckDB replica of `Similarity.ivfTopK` (centroidEvery=25). */
  private lazy val ivfOracle: String =
    s"""WITH $vnCtes,
        cent AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn WHERE vec_id % 25 = 0),
        ${ivfProbeSql("cent")}"""

  /** One Lloyd iteration as CTEs: cosine-argmax assignment against
    * `$prev`, EXACT quantized means (floor(x*1e6) summed as BIGINT,
    * integer-divided by the cell size — the same order-independent
    * arithmetic as `Similarity.kmeansCentroids`, so both engines derive
    * bit-identical centroids), empty cells keeping the previous centroid.
    * Embedding dim is 64 (TESTDATA.md).
    */
  private def kmeansIterSql(prev: String, i: Int): String =
    s"""ka$i AS (
          SELECT vec_id, cid FROM (
            SELECT vn.vec_id, c.cid,
                   row_number() OVER (PARTITION BY vn.vec_id
                     ORDER BY CAST(floor(${dotSql("c.ce", "vn.e")} / (c.cn * vn.n) * 10000) AS BIGINT) DESC,
                              c.cid) AS rn
            FROM vn CROSS JOIN $prev c) WHERE rn = 1),
        km$i AS (
          SELECT a.cid, t.i AS pos,
                 CAST(sum(CAST(floor(vn.e[t.i] * 1000000) AS BIGINT)) AS BIGINT) AS sq,
                 count(*) AS nv
          FROM ka$i a JOIN vn USING (vec_id)
               CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY 1, 2),
        kn$i AS (
          SELECT cid, list(CAST(sq // nv AS DOUBLE) / 1000000 ORDER BY pos) AS ce
          FROM km$i GROUP BY cid),
        cent$i AS (
          SELECT p.cid, coalesce(n.ce, p.ce) AS ce,
                 sqrt(${dotSql("coalesce(n.ce, p.ce)", "coalesce(n.ce, p.ce)")}) AS cn
          FROM $prev p LEFT JOIN kn$i n USING (cid))"""

  /** DuckDB replica of `Similarity.ivfTopKWithCentroids` over
    * `Similarity.kmeansCentroids(centroidEvery=25, iters=2)` — the two
    * Lloyd iterations unrolled as CTE chains.
    */
  private lazy val ivfKmeansOracle: String =
    s"""WITH $vnCtes,
        cent0 AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn WHERE vec_id % 25 = 0),
        ${kmeansIterSql("cent0", 1)},
        ${kmeansIterSql("cent1", 2)},
        ${ivfProbeSql("cent2")}"""

  /** Product-quantization CTE chain (8 subspaces x 8 dims, codebooks =
    * the `vec_id % 25 = 0` seed subvectors) — mirrors
    * `Similarity.pqEncode` bit-for-bit (same left-to-right residual fold,
    * same `floor(x * 10^6)` quantization, ties to the lower centroid id).
    * Ends with `best`; the encoded codes are its `rn = 1` rows.
    */
  private val pqCtes: String =
    """v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
       svv AS (SELECT vec_id, j, e[(j*8+1):(j*8+8)] AS sv
               FROM (SELECT vec_id, unnest(range(0, 8)) AS j, e FROM v)),
       cvv AS (SELECT cid, j, e[(j*8+1):(j*8+8)] AS cv
               FROM (SELECT vec_id AS cid, unnest(range(0, 8)) AS j, e
                     FROM v WHERE vec_id % 25 = 0)),
       d AS (SELECT svv.vec_id, svv.j, cvv.cid,
               CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, 8),
                   i -> (svv.sv[i] - cvv.cv[i]) * (svv.sv[i] - cvv.cv[i]))),
                 (acc, x) -> acc + x) * 1000000) AS BIGINT) AS d_q6
             FROM svv JOIN cvv USING (j)),
       best AS (SELECT vec_id, j, cid, d_q6,
                  row_number() OVER (PARTITION BY vec_id, j ORDER BY d_q6, cid) AS rn
                FROM d)"""

  private def stopSql(lang: String): String =
    TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString("(", ",", ")")

  /** MinHash candidate-pair CTE chain (after `shinglesCte`): 16 affine
    * permutations, 4 bands x 4 rows — mirrors `Dedup.minhashLshPairs`.
    * Shared by the `dedup_minhash_lsh` and `dedup_clusters` oracles.
    */
  private val minhashCandCtes: String =
    """valid AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
          sig AS (SELECT doc_id, s,
                    list_transform(generate_series(0, 15), i ->
                      list_min(list_transform(s, h ->
                        ((1234567 + 2*i) * (h % 2147483647) + (987654 + i)) % 2147483647)))
                    AS sig
                  FROM valid),
          bands AS (SELECT doc_id, k,
                      md5(array_to_string(sig[k*4+1 : k*4+4], ',')) AS bh
                    FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) t(k)),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                   FROM bands x JOIN bands y
                     ON x.k = y.k AND x.bh = y.bh AND x.doc_id < y.doc_id)"""

  /** Parametrized NB classification CTE pair against model CTE `$m`
    * (c, b, n_cb) and class CTE `$cls` (c, n_c, d_c), over appended-doc
    * trigram counts `tda(doc_id, b, k)` — ends in `${p}p(doc_id, pred)`.
    * Same l1024 scoring as the `nb_langid` oracle.
    */
  private def nbPredCtes(p: String, m: String, cls: String): String =
    s"""${p}sc AS (SELECT t.doc_id, $cls.c,
            CAST(${l1024Sql("d_c")} +
                 sum(t.k * ${l1024Sql(s"(coalesce($m.n_cb, 0) + 1)")}) -
                 sum(t.k) * ${l1024Sql("(n_c + 4096)")} AS BIGINT) AS score_q10
          FROM tda t
          CROSS JOIN $cls
          LEFT JOIN $m ON $m.c = $cls.c AND $m.b = t.b
          GROUP BY t.doc_id, $cls.c, $cls.n_c, $cls.d_c),
        ${p}p AS (SELECT doc_id, pred FROM (
            SELECT doc_id, c AS pred, row_number() OVER (PARTITION BY doc_id
              ORDER BY score_q10 DESC, c) AS rn FROM ${p}sc) WHERE rn = 1)"""

  private def l1024Sql(x: String): String =
    s"((length(bin($x)) - 1) * 1024 + " +
      s"(($x << 10) // (CAST(1 AS BIGINT) << (length(bin($x)) - 1))) - 1024)"

  /** Per-doc char-trigram LM surprisal CTE chain ending in
    * `lm_perdoc(doc_id, n_tri, avg_surprisal_q10)` — shared by
    * `text_lm_surprisal` and the CCNet-style `quality_lm_gate`.
    */
  private val lmPerDocCtes: String =
    s"""lb AS (SELECT doc_id, lower(text) AS lt FROM documents),
        tri AS (SELECT doc_id, unnest(CASE WHEN length(lt) >= 3
                  THEN list_transform(generate_series(1, length(lt) - 2),
                         i -> substring(lt, i, 3))
                  ELSE [] END) AS t
                FROM lb),
        cnt AS (SELECT t, count(*) AS cnt FROM tri GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt),
        lm_perdoc AS (
          SELECT doc_id, count(*) AS n_tri,
                 CAST(sum(${l1024Sql("total")} - ${l1024Sql("cnt")}) // count(*) AS BIGINT)
                   AS avg_surprisal_q10
          FROM tri JOIN cnt USING (t) CROSS JOIN tot
          GROUP BY doc_id)"""

  /** DSIR weight CTE chain ending in `dsirw(doc_id, n_tri, dsir_w_q10)`
    * — shared by `dsir_weights` and the `dsir_budget_select` composition.
    */
  private val dsirCtes: String =
    s"""dsb AS (SELECT doc_id, lower(text) AS lt, lang = 'en' AS tg
             FROM documents),
        dstri AS (SELECT doc_id, tg, unnest(CASE WHEN length(lt) >= 3
                  THEN list_transform(generate_series(1, length(lt) - 2),
                         i -> substring(lt, i, 3))
                  ELSE [] END) AS t
                FROM dsb),
        dstd AS (SELECT doc_id, tg,
                 CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) % 4096 AS b,
                 count(*) AS k
               FROM dstri GROUP BY 1, 2, 3),
        dsm AS (SELECT b, CAST(sum(CASE WHEN tg THEN k ELSE 0 END) AS BIGINT) AS ct,
                CAST(sum(k) AS BIGINT) AS cr
              FROM dstd GROUP BY 1),
        dstot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
                  CAST(sum(cr) AS BIGINT) AS tr FROM dsm),
        dsirw AS (
          SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tri,
                 CAST(sum(k * (${l1024Sql("(ct + 1)")} - ${l1024Sql("(cr + 1)")})) +
                      sum(k) * (${l1024Sql("(tr + 4096)")} - ${l1024Sql("(tt + 4096)")})
                   AS BIGINT) AS dsir_w_q10
          FROM dstd JOIN dsm USING (b) CROSS JOIN dstot
          GROUP BY doc_id, tt, tr)"""

  /** doc_id + distinct hashed 3-gram shingle list (48-bit md5-prefix
    * hashes, mirroring `Dedup.hashedShingles`), docs with >=1 shingle.
    * `where` restricts the corpus slice (the retraction oracle replays
    * CC over a corpus that never contained the deleted docs).
    */
  private def shinglesCteWhere(where: String) =
    s"""base AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents $where),
        sh AS (SELECT doc_id, source,
                 list_distinct(list_transform(
                   list_distinct(CASE WHEN len(toks) >= 3
                     THEN list_transform(generate_series(1, len(toks)-2),
                            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
                     ELSE [] END),
                   g -> CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT))) AS s
               FROM base)"""

  private val shinglesCte = shinglesCteWhere("")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------- dedup
    "dedup_exact" -> { (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id").orderBy("fp")
    },
    "dedup_normalized" -> { (s, d) =>
      Dedup.normalizedGroups(Tables.documents(s, d), "text", "doc_id").orderBy("fp")
    },
    // Source-priority duplicate resolution: prefer src2 > src0 > rest,
    // tie-break min id — one arg-min aggregate, no window/self-join.
    "dedup_priority" -> { (s, d) =>
      Dedup.priorityResolvedGroups(Tables.documents(s, d), "text", "doc_id",
        "source", priority = Map("src2" -> 0, "src0" -> 1), defaultRank = 2)
        .orderBy("fp")
    },
    // Asymmetric containment: quote/subset pairs Jaccard can't see —
    // un-blocked (containment IS the cross-block relation), df-capped.
    "dedup_containment" -> { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "text", "doc_id",
        n = 3, minContainMilli = 300, maxShingleDf = 50)
        .orderBy("a", "b")
    },
    "dedup_ngram_jaccard" -> { (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "text", "doc_id",
        blockCol = "source", n = 3, minJaccardMilli = 10, maxShingleDf = 50)
        .orderBy("a", "b")
    },
    // PII scrubbing under the gate: the synthetic corpus carries no PII,
    // so the query PLANTS deterministic doc_id-derived PII (email, URL,
    // long id) identically in both engines — counts are nonzero and the
    // redacted text hash-compares, certifying cross-engine regex parity.
    "pii_scrub" -> { (s, d) =>
      val planted = Tables.documents(s, d).withColumn("text2",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or https://ex.org/d/"), col("doc_id").cast("string"),
          lit(" ref "), (col("doc_id") * 37L + 1000000L).cast("string")))
      Curation.piiScrub(planted, "text2")
        .select(col("doc_id"), col("n_emails"), col("n_urls"), col("n_ids"),
          col("scrubbed"))
        .orderBy("doc_id")
    },
    // COMPLETE exact-Jaccard join (PPJoin prefix filtering): the oracle
    // is the NAIVE all-pairs join, so this gate row certifies the pruned
    // plan loses nothing at the threshold — no blocking, no df cap.
    "dedup_jaccard_complete" -> { (s, d) =>
      Dedup.jaccardPrefixPairs(Tables.documents(s, d), "text", "doc_id",
        n = 3, minJaccardMilli = 500)
        .orderBy("a", "b")
    },
    // Character-EDIT near-dups (typo/OCR mirrors): blocked levenshtein
    // over normalized 48-char prefixes — the modality word-shingles miss.
    "dedup_edit_distance" -> { (s, d) =>
      Dedup.editDistancePairs(Tables.documents(s, d), "text", "doc_id",
        prefixLen = 48, maxDist = 2, maxBlockDf = 200)
        .orderBy("a", "b")
    },
    "dedup_minhash_lsh" -> { (s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d), "text", "doc_id",
        n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 0)
        .orderBy("a", "b")
    },
    "dedup_simhash" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("hs", Dedup.tokenHashes60(col("text")))
        .select(col("doc_id"), Dedup.simhash60FromHashes(col("hs")).as("simhash"))
        .orderBy("doc_id")
    },
    "dedup_simhash_pairs" -> { (s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "text", "doc_id",
        blockCol = "source", maxHamming = 10)
        .orderBy("a", "b")
    },
    // the scale-safe wide-fingerprint form (120-bit here; production picks
    // more halves for larger blocks). Run
    // UN-blocked — wide bands make whole-corpus candidate generation
    // affordable, which is the point: it also catches the cross-source
    // near-dups that source-blocking by construction misses.
    "dedup_simhash_wide" -> { (s, d) =>
      Dedup.simhashPairsWide(
        Tables.documents(s, d).withColumn("corpus", lit(0L)),
        "text", "doc_id", blockCol = "corpus", maxHamming = 10, halves = 2)
        .orderBy("a", "b")
    },
    "dedup_embedding_pairs" -> { (s, d) =>
      Similarity.cosineNearDupPairs(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("vec")),
        minScoreQ4 = 3500L)
        .orderBy("a", "b")
    },
    "dedup_embedding_lsh" -> { (s, d) =>
      Similarity.signLshNearDupPairs(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("vec")),
        minScoreQ4 = 3500L, dim = 64)
        .orderBy("a", "b")
    },
    // MinHash signature-estimated Jaccard NEXT TO the exact value on the
    // same LSH candidates — the web-scale move is rank/threshold on the
    // 16-long estimate and verify only near the boundary.
    "sim_est_minhash" -> { (s, d) =>
      Dedup.minhashEstimatedPairs(Tables.documents(s, d), "text", "doc_id",
        n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 300)
        .orderBy("a", "b")
    },
    // ------------------------------------------------- similarity search
    "sim_topk_brute" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(queries, corpus, k = 5)
        .orderBy("qid", "rank")
    },
    // kNN label agreement — the standard mislabel/outlier detector over
    // an embedded dataset: each probe vector's 5 nearest neighbors vote
    // a label (count desc, then closest-rank, then label asc — fully
    // deterministic); disagreement with the vector's own label flags a
    // candidate labeling error. Rides the same exact-cosine top-k core
    // as sim_topk_brute (broadcast queries + bounded k-heap aggregate);
    // the vote is a per-(probe,label) count and one probe-partitioned
    // row_number over <= k rows.
    "knn_label_agreement" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      knnLabelVote(Similarity.bruteForceTopK(probes, corpus, k = 5), emb)
    },
    // Full-corpus mislabel sweep: the same deterministic vote over the
    // partition-pruned IVF top-k instead of the brute core. Probes = the
    // ENTIRE corpus — the real use case the brute form can't reach (its
    // cost is probes x corpus = n^2; IVF's is probes x nprobe x cellsize
    // ~= nprobe x centroidEvery x n, LINEAR in the corpus for a fixed
    // index shape). Same index parameters as sim_topk_ivf
    // (centroidEvery=25, nprobe=3); deterministic, so oracle-exact —
    // agreement with the brute vote is recall-bounded in RecallSpec.
    "knn_label_agreement_ivf" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val probes = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      knnLabelVote(
        Similarity.ivfTopK(probes, corpus, k = 5, centroidEvery = 25, nprobe = 3),
        emb)
    },
    // Product-quantization encode: 64 floats -> 8 codebook ids per
    // vector (deterministic per-subspace codebooks); the codes table is
    // the compressed index adcTopK searches.
    "embedding_pq" -> { (s, d) =>
      Similarity.pqEncode(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("vec")),
        centroidEvery = 25, m = 8, dim = 64)
        .orderBy("vec_id", "j")
    },
    // ADC top-k over the PQ codes: per-query distance table to every
    // codebook entry, integer sums of 8 table lookups per corpus vector
    // — the float corpus is never read at query time.
    "sim_topk_pq" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      Similarity.adcTopK(queries, corpus, k = 5, centroidEvery = 25, m = 8, dim = 64)
        .orderBy("qid", "rank")
    },
    // IVF+PQ composite: probe nprobe max-cosine cells, ADC-score only
    // those cells' PQ codes — both prunings compose (probed fraction of
    // the corpus x m codes instead of dim floats).
    "sim_topk_ivfpq" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      Similarity.ivfPqTopK(queries, corpus, k = 5,
        centroidEvery = 25, nprobe = 3, m = 8, dim = 64)
        .orderBy("qid", "rank")
    },
    // Top-k search over the int8-QUANTIZED index (4x smaller scan at
    // 100 TB): integer code x quantized-query inner product, one
    // deterministic double multiply by the stored max-abs scale.
    "sim_topk_int8" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      Similarity.int8TopK(queries, corpus, k = 5)
        .orderBy("qid", "rank")
    },
    // Deletion through the materialized ANN index driven end-to-end at
    // the gate (r16): build + append + GDPR-style COW delete, then
    // search the maintained index — the oracle scores the int8 pipeline
    // over exactly the SURVIVING vectors, so the hash certifies that a
    // deleted index ranks identically to one never containing the docs.
    "index_delete_int8" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-i8-gate").toString
      org.apache.commons.io.FileUtils
        .forceDeleteOnExit(new java.io.File(idx))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      Similarity.writeInt8Index(
        corpus.filter(pmod(col("vec_id"), lit(4)) =!= 3), idx)
      Similarity.appendToInt8Index(
        corpus.filter(pmod(col("vec_id"), lit(4)) === 3), idx,
        batchId = Some(0L))
      // delete ids avoid the query range so every query still scores
      Similarity.deleteFromInt8Index(s,
        emb.filter(pmod(col("vec_id"), lit(9)) === 7 && col("vec_id") >= 20)
          .select(col("vec_id")), idx)
      Similarity.int8TopKFromIndex(s,
        emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        idx, k = 5)
        .orderBy("qid", "rank")
    },
    "sim_topk_ivf" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      Similarity.ivfTopK(queries, corpus, k = 5, centroidEvery = 25, nprobe = 3)
        .orderBy("qid", "rank")
    },
    // IVF over k-means-refined centroids (2 deterministic Lloyd
    // iterations, exact quantized means — see kmeansCentroids scaladoc).
    "sim_topk_ivf_kmeans" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val cent = Similarity.kmeansCentroids(corpus, centroidEvery = 25, iters = 2)
      Similarity.ivfTopKWithCentroids(queries, corpus, cent, k = 5, nprobe = 3)
        .orderBy("qid", "rank")
    },
    // D4-style semantic diversity sampling: per k-means cell keep the
    // half FARTHEST from the centroid (lowest quantized cosine), at
    // least one per cell — de-duplicates semantic regions, up-weights
    // the long tail. Same centroid chain as semdedup_keep.
    "diversity_sample" -> { (s, d) =>
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("vec"))
      val cent = Similarity.kmeansCentroids(corpus, centroidEvery = 25, iters = 2)
      Similarity.diversitySample(corpus, cent, keepPermille = 500)
        .orderBy("vec_id")
    },
    // SemDeDup: semantic near-dup pruning confined to k-means cells —
    // per-cluster pairwise cosine instead of corpus-wide O(n^2).
    "semdedup_keep" -> { (s, d) =>
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("vec"))
      val cent = Similarity.kmeansCentroids(corpus, centroidEvery = 25, iters = 2)
      Similarity.semDedupKeep(corpus, cent, minScoreQ4 = 3500L)
        .orderBy("vec_id")
    },
    // ------------------------------------------------- curation
    // Train-test leakage: corpus docs sharing capped 3-gram shingles with
    // a (deterministic stand-in) benchmark set, scored by containment of
    // the benchmark's shingle set.
    "contamination" -> { (s, d) =>
      Curation.contaminationPairs(Tables.documents(s, d), "text", "doc_id",
        isBench = pmod(col("doc_id"), lit(20)) === 0,
        n = 3, maxShingleDf = 50, minContainMilli = 100)
        .orderBy("doc_id", "bench_id")
    },
    // Cross-source quantile-matching quality normalization: per-source
    // percentile -> global score at that percentile, so one corpus-wide
    // cut keeps the same fraction of every source. All distribution work
    // on <= 1001-row bounded histograms; per-doc path is two broadcast
    // integer equi-joins.
    "quality_quantile_norm" -> { (s, d) =>
      Curation.quantileNormalizeQuality(Tables.documentsRaw(s, d),
        "text", "doc_id", "source")
        .orderBy("doc_id")
    },
    // Contrastive training pairs from the dedup graph: verified near-dup
    // pairs as (anchor, positive), in-batch hash-shard pairing for the
    // negative, cluster-membership filter so no negative is secretly a
    // near-dup of its anchor.
    "contrastive_pairs" -> { (s, d) =>
      Curation.contrastivePairs(
        Dedup.minhashLshPairs(Tables.documents(s, d), "text", "doc_id",
          n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
        "a", "b", shards = 8)
        .orderBy("anchor_id", "pos_id", "neg_id")
    },
    // Eval-side leakage report: per benchmark item, hit count / max
    // containment / worst contaminating train doc — the report the eval
    // owner reads (the train-side `contamination` lists the same pairs
    // from the other direction).
    "eval_leakage_report" -> { (s, d) =>
      Curation.evalLeakageReport(Tables.documents(s, d), "text", "doc_id",
        isBench = pmod(col("doc_id"), lit(20)) === 0,
        n = 3, maxShingleDf = 50, minContainMilli = 100)
        .orderBy("bench_id")
    },
    // The corpus a pipeline actually trains on after the leakage check:
    // non-benchmark docs minus every contamination hit — the keep-side
    // twin of `contamination`, same df-capped candidate generation.
    "decontaminated_keep" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val isBench = pmod(col("doc_id"), lit(20)) === 0
      val hits = Curation.contaminationPairs(docs, "text", "doc_id",
          isBench = isBench, n = 3, maxShingleDf = 50, minContainMilli = 100)
        .select(col("doc_id")).distinct()
      docs.filter(!isBench).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
    // Exact corpus heavy hitters (the oracle twin of
    // `top_terms_sketch`): top tokens by frequency.
    "top_terms" -> { (s, d) =>
      Tables.documentsRaw(s, d)
        .select(explode(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0)).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t"))
        .limit(20)
    },
    // IVM for a ranking dashboard: the top-terms view re-derived from a
    // MAINTAINED term-count state (merge of base + delta counts via the
    // generic support-count monoid) must rank to the same top 20 — the
    // corpus explode is paid delta-sized; the rank is a state-sized
    // TakeOrdered. Retractions ride the same algebra (negated counts).
    "top_terms_incremental" -> { (s, d) =>
      val docs = Tables.documentsRaw(s, d)
      def counts(slice: org.apache.spark.sql.DataFrame) = slice
        .select(explode(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0)).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n"))
      Incremental.mergeCounts(
          counts(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)),
          counts(docs.filter(pmod(col("doc_id"), lit(10)) === 0)),
          Seq("t"), "n")
        .orderBy(col("n").desc, col("t"))
        .limit(20)
    },
    // Integer-exact BM25 keyword search (retrieval twin of the ANN
    // family): query-term prune before any shuffle, broadcast stats,
    // TakeOrderedAndProject top-k.
    "search_bm25" -> { (s, d) =>
      TextAnalysis.bm25Search(Tables.documentsRaw(s, d), "text", "doc_id",
        queryTerms = Seq("window", "hash", "stream", "dup"), topK = 50)
    },
    // Deletion through the materialized KEYWORD index driven end-to-end
    // at the gate (r16): build + append + COW delete (negated
    // count-monoid stats row, affected postings partitions rewritten),
    // then search — the oracle runs the full BM25 pipeline over exactly
    // the SURVIVING docs, so the hash certifies that a deleted index
    // ranks identically to one never containing them (n, tot, and every
    // per-term df included).
    "index_delete_bm25" -> { (s, d) =>
      // raw (unfilled) read: the lifecycle row's wall is write/read stage
      // count, not narrow compute — the filled scan measured 1.25-2.47x
      // on this row (Tables.documentsRaw scaladoc)
      val docs = Tables.documentsRaw(s, d)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-bm25-gate").toString
      org.apache.commons.io.FileUtils
        .forceDeleteOnExit(new java.io.File(idx))
      TextAnalysis.writeInvertedIndex(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 4),
        "text", "doc_id", idx, buckets = 64)
      TextAnalysis.appendToInvertedIndex(
        docs.filter(pmod(col("doc_id"), lit(5)) === 4),
        "text", "doc_id", idx, buckets = 64, batchId = Some(0L))
      TextAnalysis.deleteFromInvertedIndex(s,
        docs.filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")),
        idx, batchId = Some(0L))
      // compaction at the gate (r17): collapse the three-batch tree
      // (base + append + negated delete stats) into one batch BETWEEN
      // the delete and the search — the oracle is unchanged (same
      // surviving docs), so the hash certifies the collapse is
      // invisible to ranking; it also cuts the row's small-file tax
      // (measured at 9.6x, SCALING "Index compaction").
      TextAnalysis.compactInvertedIndex(s, idx)
      TextAnalysis.bm25SearchFromIndex(s, idx,
        Seq("window", "hash", "stream", "dup"), topK = 50)
    },
    // Retraction through the dedup CLUSTER state driven end-to-end at
    // the gate (r17): materialize the LSH index, derive CC labels from
    // its stored pair evidence, COW-delete a doc slice from the index
    // (deleteFromLshIndex), then retract the labels
    // (refreshClustersRetract — only clusters holding a deleted member
    // re-solve, from the index's SURVIVING pairs). The oracle replays
    // the whole LSH+CC pipeline over a corpus that never contained the
    // deleted docs, so the hash certifies retracted == cold.
    "dedup_retract_labels" -> { (s, d) =>
      // raw (unfilled) read — same lifecycle-row rationale as
      // index_delete_bm25 (measured 1.14-1.68x with the filled scan)
      val docs = Tables.documentsRaw(s, d)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-lsh-gate").toString
      org.apache.commons.io.FileUtils
        .forceDeleteOnExit(new java.io.File(idx))
      Dedup.writeLshIndex(docs, "text", "doc_id", idx,
        n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
      val state0 = Curation.connectedComponents(
        Dedup.pairsAmongFromIndex(s, docs.select(col("doc_id")), idx,
          minJaccardMilli = 500),
        "a", "b")
      val dead = docs.filter(pmod(col("doc_id"), lit(9)) === 4)
        .select(col("doc_id"))
      Dedup.deleteFromLshIndex(s, dead, idx)
      Curation.refreshClustersRetract(state0, dead,
        survivors => Dedup.pairsAmongFromIndex(s, survivors, idx,
          minJaccardMilli = 500))
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    // Hybrid retrieval: integer RRF fusion of the BM25 lexical list and
    // a brute-force cosine list over the (aligned) embedding ids. The
    // bm25 side is re-ranked via a bounded count-join on its own top-50
    // output (never a single-partition window).
    "search_hybrid_rrf" -> { (s, d) =>
      val bm = TextAnalysis.bm25Search(Tables.documents(s, d), "text", "doc_id",
        queryTerms = Seq("window", "hash", "stream", "dup"), topK = 50)
      val bmRanked = bm.as("x").join(bm.as("y"),
          col("y.score_q10") > col("x.score_q10") ||
            (col("y.score_q10") === col("x.score_q10") &&
              col("y.doc_id") < col("x.doc_id")),
          "left")
        .groupBy(col("x.doc_id").as("id"))
        .agg((count(col("y.doc_id")) + 1).as("rank"))
      val emb = Tables.embeddings(s, d)
      val vec = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        emb.select(col("vec_id"), col("embedding").as("vec")), k = 50)
        .select(col("vec_id").as("id"), col("rank"))
      Similarity.rrfFuse(bmRanked, vec, kRrf = 60, topK = 20)
    },
    // Corpus-trained char-trigram LM fluency score (CCNet-style quality
    // signal), integer-exact surprisal — no libm log in either engine.
    "text_lm_surprisal" -> { (s, d) =>
      TextAnalysis.lmSurprisalScore(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id")
    },
    // Trained Naive Bayes language classifier (the fastText-style
    // curation classifier): content-hash train split, hashed-trigram
    // features, integer-exact log2 scores; every doc scored, prediction
    // next to the actual label and the split side.
    "nb_langid" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.nbClassify(docs, "text", "doc_id", "lang")
        .join(docs.select(col("doc_id"), col("lang"),
          (pmod(Curation.hash48(col("text")), lit(1000)) < 800).as("__tr")), "doc_id")
        .select(col("doc_id"), col("pred_label").as("pred_lang"), col("score_q10"),
          col("lang"),
          when(col("__tr"), lit(1L)).otherwise(lit(0L)).as("is_train"),
          when(col("pred_label") === col("lang"), lit(1L)).otherwise(lit(0L)).as("hit"))
        .orderBy("doc_id")
    },
    // Frozen-NB-model staleness monitor (r15): the text-tier twin of
    // index_staleness_report — frozen slice doc_id % 3 <> 0 trains the
    // frozen classifier, appended docs are classified by it AND by a
    // fresh retrain; one integer-exact row carries the per-bucket
    // trigram-share drift summary + disagreement/accuracy gap.
    "nb_model_staleness" -> { (s, d) =>
      TextAnalysis.nbModelStalenessReport(Tables.documents(s, d),
        "text", "doc_id", "lang", pmod(col("doc_id"), lit(3)) =!= 0)
    },
    // Frozen-DSIR-model staleness monitor (r17, completing the
    // frozen-artifact family the r14 directive named): the fresh arm is
    // the count-monoid MERGE of the frozen bucket model and the appended
    // slice's (never a retrain); the actionable signal is the rate of
    // appended docs whose DSIR weight flips SIGN — the selection
    // threshold — between the two arms.
    "dsir_model_staleness" -> { (s, d) =>
      Curation.dsirModelStalenessReport(Tables.documents(s, d),
        "text", "doc_id", col("lang") === "en",
        pmod(col("doc_id"), lit(3)) =!= 0)
    },
    // Frozen-CCNet-cuts staleness monitor (r17): appended docs scored
    // under the FROZEN trigram LM, fresh tercile cuts fit to that arriving distribution,
    // and the per-source bucket-flip rate as the re-freeze alarm.
    "ccnet_cuts_staleness" -> { (s, d) =>
      Curation.ccnetCutsStaleness(Tables.documents(s, d),
        "text", "doc_id", "source", pmod(col("doc_id"), lit(3)) =!= 0)
        .orderBy("source")
    },
    // DSIR importance weights against an English target distribution —
    // the data-selection primitive: weight > 0 means "more target-like
    // than the raw corpus", selection is a filter on the weight.
    "dsir_weights" -> { (s, d) =>
      Curation.dsirWeights(Tables.documents(s, d), "text", "doc_id",
        col("lang") === "en").orderBy("doc_id")
    },
    // Gopher rule gate: the named integer-exact quality rules, one flag
    // column each plus the composite keep bit.
    "gopher_rules" -> { (s, d) =>
      Curation.gopherRules(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id")
    },
    // CCNet perplexity buckets: per-source head/middle/tail by corpus-LM
    // surprisal, sort-free value thresholds (see Curation.ccnetBuckets).
    "ccnet_buckets" -> { (s, d) =>
      Curation.ccnetBuckets(Tables.documents(s, d), "text", "doc_id", "source")
        .orderBy("doc_id")
    },
    // Bigram collocations by PMI (integer-exact log2 sums) — multi-word
    // units a vocab builder should fuse.
    "text_collocations" -> { (s, d) =>
      TextAnalysis.collocationsPmi(Tables.documents(s, d), "text", "doc_id",
        minCount = 5L, topK = 50)
    },
    // In-engine BPE tokenizer training: 6 merge rounds over the
    // vocabulary-bounded word-frequency table (corpus read ONCE).
    "bpe_merges" -> { (s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d), "text", merges = 6)
    },
    // Tokenizer APPLY: train 6 merges, then encode the corpus with them
    // (model-as-literals replace chain). The oracle re-derives the merge
    // table AND the encoding in SQL, so train->apply is gate-proven end
    // to end: per-doc BPE length + digest of the symbol sequence.
    "bpe_encode" -> { (s, d) =>
      import org.apache.spark.sql.Encoders
      val merges = TextAnalysis.bpeTrain(Tables.documents(s, d), "text", merges = 6)
        .select(col("lhs"), col("rhs"))
        .as[(String, String)](Encoders.tuple(Encoders.STRING, Encoders.STRING))
        .collect().toSeq
      TextAnalysis.bpeEncode(Tables.documents(s, d), "text", merges)
        .select(col("doc_id"), col("bpe_len"),
          TextAnalysis.portableHash48(concat_ws(" ", col("bpe_syms")))
            .as("syms_fp48"))
        .orderBy("doc_id")
    },
    // Tokenizer fertility report: per source, symbols-per-word (milli)
    // after applying the trained BPE merges — the metric pipelines read
    // per language/domain before fixing a tokenizer (high fertility =
    // the vocabulary fragments that slice of the corpus). Train -> apply
    // -> one bounded groupBy; nothing new shuffles beyond bpe_encode.
    "bpe_fertility" -> { (s, d) =>
      import org.apache.spark.sql.Encoders
      val docs = Tables.documents(s, d)
      val merges = TextAnalysis.bpeTrain(docs, "text", merges = 6)
        .select(col("lhs"), col("rhs"))
        .as[(String, String)](Encoders.tuple(Encoders.STRING, Encoders.STRING))
        .collect().toSeq
      TextAnalysis.bpeEncode(docs, "text", merges)
        .select(col("source"), col("bpe_len"),
          size(filter(split(lower(col("text")), "\\s+"), t => length(t) > 0))
            .cast("long").as("nw"))
        .groupBy(col("source"))
        .agg(sum(col("nw")).as("n_words"), sum(col("bpe_len")).as("n_syms"))
        .select(col("source"), col("n_words"), col("n_syms"),
          expr("(n_syms * 1000) div n_words").as("fertility_milli"))
        .orderBy("source")
    },
    // Span-level duplication profile: per doc, the share of its 3-gram
    // shingles that recur in other documents (template/boilerplate mass).
    "dedup_span_profile" -> { (s, d) =>
      Dedup.duplicateShingleProfile(Tables.documents(s, d), "text", "doc_id", n = 3)
        .orderBy("doc_id")
    },
    // Span REMOVAL: cleaned text with every cross-doc duplicated 3-token
    // span cut, one copy (the min-id doc's) surviving corpus-wide — the
    // shingle approximation of suffix-array substring dedup.
    "dedup_span_removal" -> { (s, d) =>
      Dedup.removeDuplicateSpans(Tables.documents(s, d), "text", "doc_id", n = 3)
        .orderBy("doc_id")
    },
    // Same leakage check behind a Bloom prefilter on the corpus side —
    // bit-identical rows (no false negatives; the exact join verifies),
    // but the corpus shingles that shuffle into the joins shrink to
    // |matches| + bloom FP. Shares contamination's oracle.
    "contamination_bloom" -> { (s, d) =>
      Curation.contaminationPairsBloom(Tables.documents(s, d), "text", "doc_id",
        isBench = pmod(col("doc_id"), lit(20)) === 0,
        n = 3, maxShingleDf = 50, minContainMilli = 100)
        .orderBy("doc_id", "bench_id")
    },
    // Deterministic md5-hash stratified sampling per source.
    "stratified_sample" -> { (s, d) =>
      Curation.stratifiedSample(Tables.documents(s, d), "doc_id", "source",
        ratesMilli = Map("src0" -> 50, "src1" -> 200, "src2" -> 800),
        defaultMilli = 500)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    // Token-budget sequence packing (4096-token bins per source).
    "pack_sequences" -> { (s, d) =>
      Curation.packSequences(Tables.documentsRaw(s, d), "doc_id", "source", "text", 4096)
        .orderBy("doc_id")
    },
    // Same packing, skew-safe chunked prefix-sum plan (same oracle).
    "pack_sequences_chunked" -> { (s, d) =>
      Curation.packSequencesChunked(Tables.documentsRaw(s, d), "doc_id", "source", "text",
        4096, chunkCol = floor(col("doc_id") / 100))
        .orderBy("doc_id")
    },
    // Semantic packing (In-Context Pretraining, Shi et al. 2023,
    // arXiv:2310.10638): pack token-budget bins WITHIN semantic cells —
    // each doc takes its k-means cell (same deterministic centroid
    // chain as semdedup_keep) as the packing stratum, so every training
    // context holds related documents instead of i.i.d. ones. Bins
    // never mix cells by construction (stratum partitioning).
    "pack_semantic" -> { (s, d) =>
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("vec"))
      val cent = Similarity.kmeansCentroids(corpus, centroidEvery = 25, iters = 2)
      val cells = Similarity.semanticCells(corpus, cent)
      Curation.packSequences(
        Tables.documents(s, d)
          .join(cells.withColumnRenamed("vec_id", "doc_id"), "doc_id"),
        "doc_id", "cid", "text", 4096)
        .orderBy("doc_id")
    },
    // Near-dup-aware packing: same token-budget bins, but a bin never
    // holds two members of one near-dup cluster — each doc packs in the
    // WAVE of its dup index within (source, cluster), and a bin belongs
    // to exactly one wave (structural exclusion, spec-proven in
    // CurationSpec). Clusters = the same minhash-LSH CC labels as
    // dedup_clusters/dedup_keep_best.
    "pack_dedup_aware" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Curation.packSequencesDedupAware(docs, "doc_id", "source", "text", 4096,
        Curation.connectedComponents(
          Dedup.minhashLshPairs(docs, "text", "doc_id",
            n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
          "a", "b"))
        .orderBy("doc_id")
    },
    // Dedup-aware shard spread: near-dup cluster members round-robin
    // across shards (shard = (hash(cluster) + dup_index) mod shards) so
    // no dataloader shard holds two copies of one cluster (<= shards
    // members). Same LSH-CC labels as pack_dedup_aware.
    "shards_dedup_aware" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Curation.shuffleShardsDedupAware(docs, "doc_id", shards = 8,
        Curation.connectedComponents(
          Dedup.minhashLshPairs(docs, "text", "doc_id",
            n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
          "a", "b"),
        chunkDiv = 1L << 44)
        .orderBy("doc_id")
    },
    // Deterministic training-order shuffle: (shard, pos) per doc, dense
    // positions via chunked prefix counts — never a per-shard global sort.
    "shuffle_shards" -> { (s, d) =>
      Curation.shuffleShards(Tables.documentsRaw(s, d), "doc_id",
        shards = 8, chunkDiv = 1L << 44)
        .orderBy("shard", "pos")
    },
    // Token-budget selection: per source, highest-quality docs whose
    // inclusive running token total stays within budget.
    "token_budget_select" -> { (s, d) =>
      Curation.tokenBudgetSelect(Tables.documentsRaw(s, d), "doc_id", "text",
        "source", budgetTokens = 700L, chunkDiv = 50L)
        .orderBy("source", "doc_id")
    },
    // DSIR-weighted token-budget selection — the full data-mixing loop:
    // score docs by target-likeness (dsirWeights), map the per-trigram
    // average log-ratio onto the bounded [0, 1000] quality grid
    // (+-0.5 bits, saturating; numerator made positive BEFORE the
    // integer division so truncating and flooring engines agree), then
    // keep the most target-like docs per source within the token budget.
    "dsir_budget_select" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val w = Curation.dsirWeights(docs, "text", "doc_id", col("lang") === "en")
      val q = docs.join(w, "doc_id")
        .withColumn("dsir_qmilli", greatest(lit(0L), least(lit(1000L),
          expr("((dsir_w_q10 + 512 * n_tri) * 1000) div (1024 * n_tri)"))))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      Curation.tokenBudgetSelectByQuality(q, "doc_id", "source",
        "dsir_qmilli", "n_tokens", budgetTokens = 700L, chunkDiv = 50L)
        .orderBy("source", "doc_id")
    },
    // Duplicate clusters: connected components over MinHash-LSH verified
    // pairs (jaccard >= 0.5), labelled by minimum reachable doc id.
    "dedup_clusters" -> { (s, d) =>
      Curation.connectedComponents(
        Dedup.minhashLshPairs(Tables.documents(s, d), "text", "doc_id",
          n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
        "a", "b")
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    // Dup-cluster size distribution INCLUDING singletons — the dup-rate
    // report read before choosing dedup aggressiveness (a corpus whose
    // mass sits in 2-doc clusters needs different handling than one with
    // thousand-doc boilerplate blobs). Plan: the CC labels collapse to
    // cluster-sized counts, then to a <= max-cluster-size histogram;
    // the singleton bucket is (total docs - clustered docs), two 1-row
    // aggregates cross-joined — nothing here is ever corpus-wide wide.
    "dedup_cluster_sizes" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val cc = Curation.connectedComponents(
        Dedup.minhashLshPairs(docs, "text", "doc_id",
          n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
        "a", "b")
      val hist = cc.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("size"))
        .groupBy(col("size"))
        .agg(count(lit(1)).as("n_clusters"))
      // CC clusters are >= 2 docs by construction (labels come from
      // edges), so the singleton bucket never collides with the histogram
      val singles = docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(cc.agg(count(lit(1)).as("n_clustered")))
        .select(lit(1L).as("size"),
          (col("n_docs") - col("n_clustered")).as("n_clusters"))
      hist.unionByName(singles).orderBy("size")
    },
    // End-to-end near-dedup survivor list: the documents that remain
    // after LSH near-dup clusters collapse to their min-id representative
    // — the keep-side twin of `dedup_clusters` (the query a pipeline
    // actually feeds downstream). Plan: clusters' non-representatives
    // anti-join the corpus; no new shuffle shape beyond the CC rounds.
    "dedup_keep_list" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val losers = Curation.connectedComponents(
        Dedup.minhashLshPairs(docs, "text", "doc_id",
          n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
        "a", "b")
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("doc_id"))
      docs.select(col("doc_id"))
        .join(losers, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
    // Quality-aware duplicate resolution: per near-dup cluster keep the
    // HIGHEST-quality member (tie-break min id) — what a production
    // pipeline actually keeps (min-id keep lists discard the best copy
    // whenever a cleaner duplicate has a larger id). Singleton docs are
    // their own cluster. Plan: clusters + a per-doc quality projection
    // + one row_number window PARTITIONED BY cluster_id — partitions are
    // cluster-sized (bounded by dup-group size), never global.
    "dedup_keep_best" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Curation.keepBestFromClusters(docs, "text", "doc_id",
        Curation.connectedComponents(
          Dedup.minhashLshPairs(docs, "text", "doc_id",
            n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
          "a", "b"))
        .orderBy("cluster_id")
    },
    // Per-source dataset card: the corpus-stats bundle a pipeline
    // publishes with every snapshot (doc/token volume, exact-dup rate
    // via distinct content digests, integer quality mass, language
    // spread). One partial-aggregating groupBy; the two count-distincts
    // expand rows 3x map-side but stay fully distributed.
    "corpus_datasheet" -> { (s, d) =>
      Curation.datasheet(Tables.documentsRaw(s, d), "text", "source", "lang")
        .orderBy("source")
    },
    // IVM beyond the Q1 monoid: the datasheet rebuilt as merge(base
    // state, delta state) — monoid scalars plus SUPPORT-COUNT tables for
    // the two exact distinct counts — must land on the SAME hash as the
    // oracle's plain full aggregate. Delta work is delta-sized; the
    // retraction path (negated counts after a COW delete) is pinned in
    // IncrementalSpec.
    "datasheet_incremental" -> { (s, d) =>
      val docs = Tables.documentsRaw(s, d)
      val base = Incremental.datasheetState(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), "text", "source", "lang")
      val delta = Incremental.datasheetState(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), "text", "source", "lang")
      Incremental.datasheetFromState(
        Incremental.mergeDatasheetStates(base, delta))
        .orderBy("source")
    },
    // CCNet-style LM-perplexity gate: keep docs whose trigram surprisal
    // is within 1.25x the corpus mean (head+middle of the quality
    // distribution). Integer cross-multiplied threshold — no division,
    // no global sort: the mean is a 1-row broadcast, the gate a narrow
    // per-row compare.
    "quality_lm_gate" -> { (s, d) =>
      // localCheckpoint: the per-doc surprisal feeds BOTH the 1-row mean
      // and the gate projection — without it the trigram pipeline runs
      // twice
      val sur = TextAnalysis.lmSurprisalScore(Tables.documents(s, d), "text", "doc_id")
        .checkpointed()
      val mean = sur.agg(expr("sum(avg_surprisal_q10) div count(1)").as("mean_q10"))
      sur.crossJoin(broadcast(mean))
        .select(col("doc_id"), col("avg_surprisal_q10"),
          when(col("avg_surprisal_q10") * 100 <= col("mean_q10") * 125, lit(1L))
            .otherwise(lit(0L)).as("keep"))
        .orderBy("doc_id")
    },
    // Leakage-aware train/val/test split: content-hashed buckets, so
    // exact duplicates co-assign and cannot straddle the train/eval
    // boundary; 5% test, 10% val.
    "dataset_split" -> { (s, d) =>
      Curation.datasetSplit(Tables.documentsRaw(s, d), "text",
        valPermille = 100, testPermille = 50)
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy("doc_id")
    },
    // Near-dup-aware split: cluster members co-assign (bucket = salted
    // cluster-id hash), unclustered docs keep the content-hash
    // convention — the leakage channel md5(text) can't close (a near-dup
    // pair straddles the train/eval boundary) closed structurally.
    "split_dedup_aware" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Curation.datasetSplitDedupAware(docs, "text", "doc_id",
        valPermille = 100, testPermille = 50,
        Curation.connectedComponents(
          Dedup.minhashLshPairs(docs, "text", "doc_id",
            n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
          "a", "b"))
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy("doc_id")
    },
    // The full curation DAG as ONE query — the query a training-data
    // pipeline actually runs: CCNet-style quality gate AND near-dedup
    // survivor AND decontamination, then the leakage-aware split on
    // whatever survives. Every stage reuses its standalone twin's
    // machinery verbatim (quality_lm_gate / dedup_keep_list /
    // decontaminated_keep / dataset_split) over ONE localCheckpointed
    // corpus pass; the stage keep-sets compose as semi/anti joins on the
    // thin doc_id column, so the composition adds no new shuffle shape.
    "pipeline_keep" -> { (s, d) =>
      Curation.curationKeep(Tables.documents(s, d), "text", "doc_id",
        isBench = pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy("doc_id")
    },
    // Rarity-weighted keyword extraction: top-3 terms per doc.
    "text_keywords" -> { (s, d) =>
      Curation.keywordScores(Tables.documentsRaw(s, d), "text", "doc_id", k = 3)
        .orderBy("doc_id", "rank")
    },
    // Gopher-style repetition/diversity quality signals per doc.
    "text_repetition" -> { (s, d) =>
      Curation.repetitionStats(Tables.documentsRaw(s, d), "text", "doc_id")
        .orderBy("doc_id")
    },
    // Token-budget mixture sampling: 512 tokens of src0, 2048 of src1,
    // 1024 of anything else, in deterministic doc_id order (budgets sized
    // to ~2.5k tokens/source at gate scale so the cutoff actually bites).
    "mixture_sample" -> { (s, d) =>
      Curation.tokenBudgetSample(Tables.documentsRaw(s, d), "doc_id", "source", "text",
        budgets = Map("src0" -> 512L, "src1" -> 2048L), defaultBudget = 1024L)
        .orderBy("doc_id")
    },
    // Temperature-scaled mixture (alpha = 1/2): per-source rates derived
    // from the corpus's own token totals — small sources up-weighted,
    // content-hash keep rule, no RNG.
    "temperature_mixture" -> { (s, d) =>
      Curation.temperatureMixtureSample(Tables.documentsRaw(s, d),
        "doc_id", "source", "text", budgetTokens = 3000L)
        .orderBy("doc_id")
    },
    // Cross-source duplicate matrix: verified near-dup pair counts and
    // mean similarity per unordered source pair — the blocking-key
    // diagnostic source-blocked dedup cannot see by construction.
    "dedup_source_matrix" -> { (s, d) =>
      Dedup.crossSourceDupMatrix(Tables.documents(s, d), "text", "doc_id",
        "source", n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500)
        .orderBy("src_a", "src_b")
    },
    // Coarse embedding dedup in quantized space: vectors identical after
    // int8 quantization share an md5 code fingerprint — the 16-byte
    // shuffle-key dedup shape of dedup_exact, applied to vectors.
    "dedup_embedding_quantized" -> { (s, d) =>
      val q = Similarity.quantizeInt8(col("embedding"))
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          md5(concat_ws(",",
            transform(q.getField("q"), c => c.cast("string")))).as("qfp"))
        .groupBy(col("qfp"))
        .agg(min(col("vec_id")).as("keep_id"), count(lit(1)).as("n"))
        .orderBy("qfp")
    },
    // Max-abs int8 embedding quantization, reduced to per-vector scalars
    // (scale + code-fold checksums) so the gate hash-compares scalars.
    "embedding_quantize" -> { (s, d) =>
      val q = Similarity.quantizeInt8(col("embedding"))
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          floor(q.getField("scale") * lit(1000000.0)).cast("long").as("scale_q6"),
          aggregate(q.getField("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min(q.getField("q")).as("q_min"),
          array_max(q.getField("q")).as("q_max"))
        .orderBy("vec_id")
    },
    // ------------------------------------------------- text analysis
    "text_langid" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },
    // Declared-vs-predicted language confusion matrix: the label-noise
    // audit run before trusting a corpus's metadata lang column (rows
    // off the diagonal are docs whose text disagrees with their label).
    // One langid scan into a |langs|^2-bounded groupBy; the permille
    // share windows over that tiny aggregate, never raw docs.
    "lang_confusion" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang").as("declared"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .agg(count(lit(1)).as("n"))
        .withColumn("permille",
          expr("n * 1000 div sum(n) over (partition by declared)"))
        .orderBy("declared", "predicted")
    },
    "text_quality" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.qualityMilli(col("text")).as("quality_milli"))
        .orderBy("doc_id")
    },
    "text_tokens" -> { (s, d) =>
      Tables.documentsRaw(s, d)
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.tokenEstimate(col("text")).cast("long").as("n_tokens_bpe"))
        .orderBy("doc_id")
    },
    "text_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.rollingFingerprint(col("text")).as("rolling_fp48"))
        .orderBy("doc_id")
    },
    // Sliding token-window chunking (window 32, stride 8): the
    // long-document -> training-sequence split, with a portable per-chunk
    // dedup digest. Narrow plan: tokenize once, explode ~n/stride chunk
    // indices, slice — no shuffle.
    "chunk_documents" -> { (s, d) =>
      Curation.chunkTokenWindows(Tables.documents(s, d), "text", "doc_id",
        window = 32, stride = 8)
        .orderBy("doc_id", "chunk_idx")
    },
    // Corpus length profile: histogram of documents and tokens by
    // 10-token bucket (capped at bucket 9) — the data-profiling pass a
    // pipeline runs before choosing chunking/packing parameters.
    "doc_length_histogram" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("__toks", TextAnalysis.tokenCount(col("text")).cast("long"))
        .groupBy(expr("least(__toks div 10, 9)").as("bucket"))
        .agg(count(lit(1)).as("docs"), sum(col("__toks")).as("tokens"))
        .orderBy("bucket")
    },
    // Signed-random-projection compression of embeddings (64 -> 8 dims,
    // deterministic md5-derived hyperplanes, integer-exact components).
    "embedding_rp" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id") +:
          Similarity.randomProjectionQ4(col("embedding"), inDim = 64, outDim = 8): _*)
        .orderBy("vec_id")
    },
    // Mutual-kNN graph construction: keep only RECIPROCATED neighbor
    // edges (a in b's top-k AND b in a's top-k) — the standard
    // robustification that strips hub-induced asymmetric edges before
    // graph clustering / label propagation. One thin self-join of the
    // IVF edge list on the reversed pair key.
    "mutual_knn_pairs" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val probes = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val nn = Similarity.ivfTopK(probes, corpus, k = 5, centroidEvery = 25,
        nprobe = 3).select(col("qid"), col("vec_id"), col("rank"))
      nn.join(
          nn.select(col("vec_id").as("qid"), col("qid").as("vec_id"),
            col("rank").as("rank_back")),
          Seq("qid", "vec_id"))
        .filter(col("qid") < col("vec_id"))
        .select(col("qid").as("a"), col("vec_id").as("b"),
          col("rank"), col("rank_back"))
        .orderBy("a", "b")
    },
    // Neighborhood density scoring: each vector's mean/max top-5 cosine
    // over the full-corpus IVF kNN — the redundancy signal SemDeDup-style
    // rebalancing reads (dense regions = over-represented content).
    "knn_density" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val probes = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      Similarity.ivfTopK(probes, corpus, k = 5, centroidEvery = 25, nprobe = 3)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("k_found"),
          expr("sum(score_q4) div count(1)").as("mean_score_q4"),
          max(col("score_q4")).as("top_score_q4"))
        .orderBy("qid")
    },
    // Topic communities in the embedded corpus: 2 rounds of synchronous
    // LPA over the mutual-kNN graph — per round one edge join + a
    // map-side max(struct) argmax, no windows.
    "graph_communities" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val probes = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val nn = Similarity.ivfTopK(probes, corpus, k = 5, centroidEvery = 25,
        nprobe = 3).select(col("qid"), col("vec_id"), col("rank"))
      val mutual = nn.join(
          nn.select(col("vec_id").as("qid"), col("qid").as("vec_id")),
          Seq("qid", "vec_id"))
        .filter(col("qid") < col("vec_id"))
        .select(col("qid").as("a"), col("vec_id").as("b"))
      Graph.communityLabels(mutual, "a", "b", rounds = 2)
        .withColumnRenamed("label", "community")
        .orderBy("node")
    },
    // Exact incremental LPA at the gate (r15, verdict #4): a 20%-edge
    // insert delta refreshed through communityLabelsDelta's
    // shrinking-cone recompute must land on the PLAIN cold fixed-round
    // oracle over the full mutual-kNN graph — the join_agg_incremental
    // proof pattern for the one clustered view that lacked a
    // maintenance story. The refresh pays the delta's 2k-hop ball, not
    // the graph; the gate row also pays the cold base-label build (the
    // proof shape, like graph_cc_incremental).
    "graph_communities_incremental" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val probes = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val nn = Similarity.ivfTopK(probes, corpus, k = 5, centroidEvery = 25,
        nprobe = 3).select(col("qid"), col("vec_id"), col("rank"))
      val mutual = nn.join(
          nn.select(col("vec_id").as("qid"), col("qid").as("vec_id")),
          Seq("qid", "vec_id"))
        .filter(col("qid") < col("vec_id"))
        .select(col("qid").as("a"), col("vec_id").as("b"))
        .checkpointed() // consumed by the base labels, delta, and cone
      val isDelta = pmod(col("a") * 13 + col("b"), lit(5)) === 0
      val old = Graph.communityLabels(
        mutual.filter(!isDelta), "a", "b", rounds = 2)
      Graph.communityLabelsDelta(mutual, "a", "b", rounds = 2,
        oldLabels = old, deltaEdges = mutual.filter(isDelta))
        .withColumnRenamed("label", "community")
        .orderBy("node")
    },
    // Snapshot diff audit: added/removed/changed/unchanged counts per
    // source between two deterministic slices of the corpus (B drops
    // every 17th doc, rewrites every 13th) — one full-outer id join over
    // thin digest rows, |sources| x 4 output.
    "snapshot_diff" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val snapA = docs.filter(col("doc_id") % 20 =!= 0)
      val snapB = docs.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, upper(col("text")))
            .otherwise(col("text")))
      Profiling.snapshotDiff(snapA, snapB, "doc_id", "text", "source")
        .orderBy("source", "status")
    },
    // Semi-supervised label propagation: spread the 20%-seed labels two
    // hops through the full-corpus IVF kNN graph (freeze-once majority
    // vote) — the bootstrap that labels an embedded corpus from a
    // hand-labeled sample. Per-round cost: one edge-list join against a
    // thin node-sized label frame + <= k-row vote partitions.
    "label_propagation" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val probes = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      Graph.labelPropagation(
        Similarity.ivfTopK(probes, corpus, k = 5, centroidEvery = 25, nprobe = 3),
        emb.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("node"), col("label")),
        rounds = 2)
        .orderBy("node")
    },
    // Embedding-space drift report: per-dimension quantized mean shift
    // between the even-id slice (reference snapshot) and the odd-id slice
    // (candidate snapshot) — one narrow posexplode pass, <= dims-row agg.
    "embedding_drift" -> { (s, d) =>
      Profiling.embeddingDrift(Tables.embeddings(s, d), "embedding",
        col("vec_id") % 2 === 0)
        .orderBy("dim")
    },
    // Frozen-artifact staleness monitor (r15): the frozen slice
    // (vec_id % 3 <> 0) stands in for the corpus an IVF index was built
    // from, the rest is the appended tail; a 20-query sample of the
    // appended slice measures frozen-centroid vs fresh-centroid recall
    // against the exact brute-force truth, beside the drift summary —
    // one integer-exact row, flat in append history.
    "index_staleness_report" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 60)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      Similarity.indexStalenessReport(emb, col("vec_id") % 3 =!= 0, queries,
        centroidEvery = 25, k = 5, nprobe = 3)
    },
    // ------------------------------------------------- multimodal
    "multimodal_decode" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val media = Multimodal.asMediaCorpus(docs, "doc_id", "text")
        .join(docs.select(col("doc_id").as("media_id"), col("text")), "media_id")
      Multimodal.stubDecode(media, col("text"))
        .select(col("media_id"), col("modality"), col("width"), col("height"),
          col("n_frames"), col("payload_bytes"))
        .orderBy("media_id")
    },
    // Frame sampling: one row per 4th frame of each video payload — the
    // plan-level explode that feeds per-frame feature extraction.
    "multimodal_frames" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val media = Multimodal.asMediaCorpus(docs, "doc_id", "text")
        .join(docs.select(col("doc_id").as("media_id"), col("text")), "media_id")
      Multimodal.sampleFrames(
        Multimodal.stubDecode(media, col("text")).filter(col("modality") === "video"),
        everyN = 4)
        .select(col("media_id"), col("n_frames"), col("frame_idx"))
        .orderBy("media_id", "frame_idx")
    },
    // Aspect-preserving resize metadata (payloads untouched by the stub).
    "multimodal_resize" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val media = Multimodal.asMediaCorpus(docs, "doc_id", "text")
        .join(docs.select(col("doc_id").as("media_id"), col("text")), "media_id")
      Multimodal.stubResize(
        Multimodal.stubDecode(media, col("text")), maxDim = 256L)
        .select(col("media_id"), col("width"), col("height"),
          col("out_width"), col("out_height"))
        .orderBy("media_id")
    })

  /** Contamination candidate CTEs ending in `p(doc_id, bench_id, inter)`
    * and `nbt(bench_id, nb)` — shared by the pair report and the
    * decontaminated keep-list.
    */
  private def contaminationCtes: String =
    s"""$shinglesCte,
        valid AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
        ex AS (SELECT doc_id, (doc_id % 20 = 0) AS is_bench, unnest(s) AS g FROM valid),
        freq AS (SELECT g, count(*) AS df FROM ex GROUP BY 1),
        rare AS (SELECT ex.doc_id, ex.is_bench, ex.g
                 FROM ex JOIN freq USING (g) WHERE freq.df <= 50),
        nbt AS (SELECT doc_id AS bench_id, count(*) AS nb
                FROM rare WHERE is_bench GROUP BY 1),
        p AS (SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS inter
              FROM rare c JOIN rare b ON c.g = b.g
              WHERE NOT c.is_bench AND b.is_bench GROUP BY 1, 2)"""

  /** Contamination oracle — shared verbatim by `contamination` and
    * `contamination_bloom` (the bloom prefilter is output-invariant).
    */
  private def contaminationOracleSql: String =
    s"""WITH $contaminationCtes
        SELECT doc_id, bench_id, inter, nb,
               CAST(floor(inter * 1000.0 / nb) AS BIGINT) AS containment_milli
        FROM p JOIN nbt USING (bench_id)
        WHERE CAST(floor(inter * 1000.0 / nb) AS BIGINT) >= 100
        ORDER BY doc_id, bench_id"""

  /** Shared by `corpus_datasheet` and `datasheet_incremental`: the
    * oracle is the PLAIN full aggregate in both cases — the merged
    * state path must reproduce its hash exactly.
    */
  private val datasheetOracleSql: String =
    s"""WITH base AS (SELECT doc_id, source, lang, text, $toksSql AS toks FROM documents),
          m AS (SELECT source, lang, text, len(toks) AS ntok, length(text) AS nchars,
                  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct,
                  len(list_filter(toks, t -> t IN ${stopSql("en")})) AS stops
                FROM base),
          q AS (SELECT source, lang, text, ntok,
                  CAST(floor((least(CAST(ntok AS DOUBLE), 256.0) / 256.0 * 0.4 +
                    least(CAST(stops AS DOUBLE) * 4.0 / greatest(CAST(ntok AS DOUBLE), 1.0), 1.0) * 0.4 +
                    (1.0 - least(CAST(punct AS DOUBLE) / greatest(CAST(nchars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.2) * 1000) AS BIGINT)
                    AS quality_milli
                FROM m)
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(ntok) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_uniq_texts,
                 CAST(sum(quality_milli) AS BIGINT) AS sum_quality_milli,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
          FROM q GROUP BY source ORDER BY source"""

  def oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n
         FROM documents GROUP BY 1 ORDER BY 1""",
    "dedup_normalized" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
                min(doc_id) AS keep_id, count(*) AS n
         FROM documents GROUP BY 1 ORDER BY 1""",
    "dedup_priority" ->
      """WITH r AS (SELECT md5(text) AS fp, doc_id, source,
                      CASE source WHEN 'src2' THEN 0 WHEN 'src0' THEN 1
                           ELSE 2 END AS rk
                    FROM documents),
          g AS (SELECT fp, count(*) AS n FROM r GROUP BY 1),
          w AS (SELECT fp, doc_id, source,
                  row_number() OVER (PARTITION BY fp ORDER BY rk, doc_id) AS rn
                FROM r)
          SELECT w.fp, w.doc_id AS keep_id, w.source AS keep_source, g.n
          FROM w JOIN g USING (fp) WHERE rn = 1 ORDER BY fp""",
    "dedup_ngram_jaccard" ->
      s"""WITH $shinglesCte,
          valid AS (SELECT doc_id, source, s FROM sh WHERE len(s) > 0),
          ex AS (SELECT doc_id, source, unnest(s) AS g FROM valid),
          freq AS (SELECT source, g, count(*) AS df FROM ex GROUP BY 1, 2),
          rare AS (SELECT ex.doc_id, ex.source, ex.g
                   FROM ex JOIN freq USING (source, g) WHERE freq.df <= 50),
          nd AS (SELECT doc_id, count(*) AS nd FROM rare GROUP BY 1),
          p AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                FROM rare a JOIN rare b
                  ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
          SELECT a, b, inter, uni,
                 CAST(floor(inter * 1000.0 / uni) AS BIGINT) AS jaccard_milli
          FROM (
            SELECT p.a, p.b, p.inter, na.nd + nb.nd - p.inter AS uni
            FROM p JOIN nd na ON na.doc_id = p.a
                   JOIN nd nb ON nb.doc_id = p.b)
          WHERE CAST(floor(inter * 1000.0 / uni) AS BIGINT) >= 10
          ORDER BY a, b""",
    "pii_scrub" ->
      """WITH t AS (SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com or https://ex.org/d/'
                    || doc_id || ' ref ' || (doc_id * 37 + 1000000) AS text2
             FROM documents),
          s1 AS (SELECT doc_id,
               CAST(len(regexp_extract_all(text2,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               regexp_replace(text2,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
             FROM t),
          s2 AS (SELECT doc_id, n_emails,
               CAST(len(regexp_extract_all(t1, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
               regexp_replace(t1, 'https?://[^\s]+', '<URL>', 'g') AS t2
             FROM s1)
          SELECT doc_id, n_emails, n_urls,
               CAST(len(regexp_extract_all(t2, '[0-9]{6,}')) AS BIGINT) AS n_ids,
               regexp_replace(t2, '[0-9]{6,}', '<ID>', 'g') AS scrubbed
          FROM s2 ORDER BY doc_id""",
    // NAIVE all-pairs exact Jaccard — deliberately unpruned: certifies
    // the prefix-filtered Spark plan is COMPLETE at the threshold.
    "dedup_jaccard_complete" ->
      s"""WITH $shinglesCte,
          valid AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
          nd AS (SELECT doc_id, len(s) AS nd FROM valid),
          ex AS (SELECT doc_id, unnest(s) AS g FROM valid),
          p AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                FROM ex a JOIN ex b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
          SELECT a, b, inter, uni,
                 CAST(floor(inter * 1000.0 / uni) AS BIGINT) AS jaccard_milli
          FROM (
            SELECT p.a, p.b, p.inter, na.nd + nb.nd - p.inter AS uni
            FROM p JOIN nd na ON na.doc_id = p.a
                   JOIN nd nb ON nb.doc_id = p.b)
          WHERE CAST(floor(inter * 1000.0 / uni) AS BIGINT) >= 500
          ORDER BY a, b""",
    "dedup_containment" ->
      s"""WITH $shinglesCte,
          valid AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
          ex AS (SELECT doc_id, unnest(s) AS g FROM valid),
          freq AS (SELECT g, count(*) AS df FROM ex GROUP BY 1),
          rare AS (SELECT ex.doc_id, ex.g
                   FROM ex JOIN freq USING (g) WHERE freq.df <= 50),
          nd AS (SELECT doc_id, count(*) AS nd FROM rare GROUP BY 1),
          p AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                FROM rare a JOIN rare b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
          sized AS (SELECT p.a, p.b, p.inter,
                      na.nd AS na, nb.nd AS nb,
                      CAST(floor(p.inter * 1000.0 / na.nd) AS BIGINT) AS contain_a_milli,
                      CAST(floor(p.inter * 1000.0 / nb.nd) AS BIGINT) AS contain_b_milli
                    FROM p JOIN nd na ON na.doc_id = p.a
                           JOIN nd nb ON nb.doc_id = p.b)
          SELECT a, b, inter, na, nb, contain_a_milli, contain_b_milli
          FROM sized
          WHERE greatest(contain_a_milli, contain_b_milli) >= 300
          ORDER BY a, b""",
    "dedup_edit_distance" ->
      """WITH p AS (SELECT doc_id AS doc,
                           regexp_replace(substring(text, 1, 48),
                                          '[^ -~]', '', 'g') AS p
                    FROM documents),
          k AS (SELECT doc, p, 0 AS seg, substring(p, 1, 16) AS sg FROM p
                UNION ALL SELECT doc, p, 1, substring(p, 17, 16) FROM p
                UNION ALL SELECT doc, p, 2, substring(p, 33, 16) FROM p),
          kf AS (SELECT * FROM k WHERE length(sg) = 16),
          cap AS (SELECT seg, sg FROM kf GROUP BY 1, 2
                  HAVING count(*) <= 200),
          s AS (SELECT kf.* FROM kf JOIN cap USING (seg, sg)),
          cand AS (SELECT DISTINCT x.doc AS a, y.doc AS b,
                          x.p AS pa, y.p AS pb
                   FROM s x JOIN s y
                     ON x.seg = y.seg AND x.sg = y.sg AND x.doc < y.doc)
          SELECT a, b, CAST(levenshtein(pa, pb) AS BIGINT) AS dist
          FROM cand
          WHERE abs(length(pa) - length(pb)) <= 2
            AND levenshtein(pa, pb) <= 2
          ORDER BY 1, 2""",
    "dedup_minhash_lsh" ->
      s"""WITH $shinglesCte,
          $minhashCandCtes
          SELECT c.a, c.b,
                 CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) AS jaccard_milli
          FROM cand c
          JOIN valid sa ON sa.doc_id = c.a
          JOIN valid sb ON sb.doc_id = c.b
          ORDER BY a, b""",
    "sim_est_minhash" ->
      s"""WITH $shinglesCte,
          $minhashCandCtes
          SELECT a, b, est_milli, jaccard_milli FROM (
            SELECT c.a, c.b,
                   CAST(floor(len(list_filter(generate_series(1, 16),
                     i -> sa.sig[i] = sb.sig[i])) * 1000.0 / 16) AS BIGINT) AS est_milli,
                   CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                     (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                     AS BIGINT) AS jaccard_milli
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.a
            JOIN sig sb ON sb.doc_id = c.b)
          WHERE jaccard_milli >= 300 ORDER BY a, b""",
    "top_terms" ->
      """SELECT t, count(*) AS n
         FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                 x -> x <> '')) AS t
               FROM documents)
         GROUP BY 1 ORDER BY n DESC, t LIMIT 20""",
    // the IVM-merged counts state must rank to the same top 20
    "top_terms_incremental" ->
      """SELECT t, count(*) AS n
         FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                 x -> x <> '')) AS t
               FROM documents)
         GROUP BY 1 ORDER BY n DESC, t LIMIT 20""",
    "search_bm25" -> {
      def l1024(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + " +
          s"(($x << 10) // (CAST(1 AS BIGINT) << (length(bin($x)) - 1))) - 1024)"
      """WITH base AS (SELECT doc_id,
                         list_filter(regexp_split_to_array(lower(text), '\s+'),
                           t -> t <> '') AS toks
                       FROM documents),
          lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len FROM base),
          stats AS (SELECT count(*) AS n, CAST(sum(len) AS BIGINT) AS tot FROM lens),
          tf AS (SELECT doc_id, t, count(*) AS tf
                 FROM (SELECT doc_id, unnest(toks) AS t FROM base)
                 WHERE t IN ('window', 'hash', 'stream', 'dup')
                 GROUP BY 1, 2),
          dfq AS (SELECT t, count(*) AS dfreq FROM tf GROUP BY 1),
          sc AS (SELECT tf.doc_id, CAST(sum(
                   ((""" + l1024("n") + " - " + l1024("dfreq") + """) *
                    ((tf * (1200 + 1000) * 1000) //
                     (tf * 1000 + (1200 * ((1000 - 750) +
                        (750 * ((len * 1000000) // ((tot * 1000) // n))) // 1000)) // 1000))
                   ) // 1000) AS BIGINT) AS score_q10
                 FROM tf JOIN dfq USING (t) JOIN lens USING (doc_id) CROSS JOIN stats
                 GROUP BY 1)
          SELECT doc_id, score_q10 FROM sc
          ORDER BY score_q10 DESC, doc_id LIMIT 50"""
    },
    // the post-delete index must rank EXACTLY like a corpus that never
    // contained the deleted docs: the whole BM25 pipeline (n, tot, df,
    // tf) replays over the survivors only
    "index_delete_bm25" -> {
      def l1024(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + " +
          s"(($x << 10) // (CAST(1 AS BIGINT) << (length(bin($x)) - 1))) - 1024)"
      """WITH base AS (SELECT doc_id,
                         list_filter(regexp_split_to_array(lower(text), '\s+'),
                           t -> t <> '') AS toks
                       FROM documents WHERE doc_id % 7 <> 3),
          lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len FROM base),
          stats AS (SELECT count(*) AS n, CAST(sum(len) AS BIGINT) AS tot FROM lens),
          tf AS (SELECT doc_id, t, count(*) AS tf
                 FROM (SELECT doc_id, unnest(toks) AS t FROM base)
                 WHERE t IN ('window', 'hash', 'stream', 'dup')
                 GROUP BY 1, 2),
          dfq AS (SELECT t, count(*) AS dfreq FROM tf GROUP BY 1),
          sc AS (SELECT tf.doc_id, CAST(sum(
                   ((""" + l1024("n") + " - " + l1024("dfreq") + """) *
                    ((tf * (1200 + 1000) * 1000) //
                     (tf * 1000 + (1200 * ((1000 - 750) +
                        (750 * ((len * 1000000) // ((tot * 1000) // n))) // 1000)) // 1000))
                   ) // 1000) AS BIGINT) AS score_q10
                 FROM tf JOIN dfq USING (t) JOIN lens USING (doc_id) CROSS JOIN stats
                 GROUP BY 1)
          SELECT doc_id, score_q10 FROM sc
          ORDER BY score_q10 DESC, doc_id LIMIT 50"""
    },
    // the retracted cluster labels must equal CC over a corpus that
    // never contained the deleted docs: the full LSH + verification +
    // min-label-reachability pipeline replays over the survivors only
    "dedup_retract_labels" ->
      s"""WITH RECURSIVE ${shinglesCteWhere("WHERE doc_id % 9 <> 4")},
          $minhashCandCtes,
          vp AS (SELECT c.a, c.b FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b
                 WHERE CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) >= 500),
          edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node)
          SELECT node AS doc_id, min(r) AS cluster_id
          FROM reach GROUP BY 1 ORDER BY 1""",
    "search_hybrid_rrf" -> {
      def l1024(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + " +
          s"(($x << 10) // (CAST(1 AS BIGINT) << (length(bin($x)) - 1))) - 1024)"
      s"""WITH base AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '') AS toks
                        FROM documents),
          lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len FROM base),
          stats AS (SELECT count(*) AS n, CAST(sum(len) AS BIGINT) AS tot FROM lens),
          tfq AS (SELECT doc_id, t, count(*) AS tf
                  FROM (SELECT doc_id, unnest(toks) AS t FROM base)
                  WHERE t IN ('window', 'hash', 'stream', 'dup')
                  GROUP BY 1, 2),
          dfq AS (SELECT t, count(*) AS dfreq FROM tfq GROUP BY 1),
          sc AS (SELECT tfq.doc_id, CAST(sum(
                   ((${l1024("n")} - ${l1024("dfreq")}) *
                    ((tf * (1200 + 1000) * 1000) //
                     (tf * 1000 + (1200 * ((1000 - 750) +
                        (750 * ((len * 1000000) // ((tot * 1000) // n))) // 1000)) // 1000))
                   ) // 1000) AS BIGINT) AS score_q10
                 FROM tfq JOIN dfq USING (t) JOIN lens USING (doc_id) CROSS JOIN stats
                 GROUP BY 1),
          bm AS (SELECT doc_id, score_q10 FROM sc
                 ORDER BY score_q10 DESC, doc_id LIMIT 50),
          bmr AS (SELECT doc_id AS id,
                    row_number() OVER (ORDER BY score_q10 DESC, doc_id) AS rank
                  FROM bm),
          $vnCtes,
          vs AS (SELECT a.vec_id,
                   CAST(floor(${dotSql("q.e", "a.e")} / (q.n * a.n) * 10000) AS BIGINT)
                     AS score_q4
                 FROM vn a CROSS JOIN (SELECT e, n FROM vn WHERE vec_id = 0) q
                 WHERE a.vec_id <> 0),
          vr AS (SELECT vec_id AS id, rank FROM (
                   SELECT vec_id,
                     row_number() OVER (ORDER BY score_q4 DESC, vec_id) AS rank
                   FROM vs) WHERE rank <= 50),
          f AS (SELECT id, 1000000 // (60 + rank) AS c FROM bmr
                UNION ALL SELECT id, 1000000 // (60 + rank) AS c FROM vr)
          SELECT id, CAST(sum(c) AS BIGINT) AS rrf_score FROM f
          GROUP BY 1 ORDER BY rrf_score DESC, id LIMIT 20"""
    },
    "text_lm_surprisal" ->
      s"""WITH $lmPerDocCtes
          SELECT doc_id, n_tri, avg_surprisal_q10 FROM lm_perdoc ORDER BY doc_id""",
    "nb_langid" ->
      s"""WITH base AS (SELECT doc_id, lower(text) AS lt, lang,
                 CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) % 1000 < 800 AS tr
               FROM documents),
          tri AS (SELECT doc_id, lang, tr, unnest(CASE WHEN length(lt) >= 3
                    THEN list_transform(generate_series(1, length(lt) - 2),
                           i -> substring(lt, i, 3))
                    ELSE [] END) AS t
                  FROM base),
          td AS (SELECT doc_id, lang, tr,
                   CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) % 4096 AS b,
                   count(*) AS k
                 FROM tri GROUP BY 1, 2, 3, 4),
          m AS (SELECT lang AS c, b, CAST(sum(k) AS BIGINT) AS n_cb
                FROM td WHERE tr GROUP BY 1, 2),
          ctot AS (SELECT c, CAST(sum(n_cb) AS BIGINT) AS n_c FROM m GROUP BY 1),
          pri AS (SELECT lang AS c, count(*) AS d_c FROM base WHERE tr GROUP BY 1),
          cls AS (SELECT c, n_c, d_c FROM ctot JOIN pri USING (c)),
          sc AS (SELECT t.doc_id, cls.c,
                   CAST(${l1024Sql("d_c")} +
                        sum(t.k * ${l1024Sql("(coalesce(m.n_cb, 0) + 1)")}) -
                        sum(t.k) * ${l1024Sql("(n_c + 4096)")} AS BIGINT) AS score_q10
                 FROM (SELECT doc_id, b, k FROM td) t
                 CROSS JOIN cls
                 LEFT JOIN m ON m.c = cls.c AND m.b = t.b
                 GROUP BY t.doc_id, cls.c, cls.n_c, cls.d_c),
          p AS (SELECT doc_id, c AS pred_lang, score_q10,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY score_q10 DESC, c) AS rn
                FROM sc)
          SELECT p.doc_id, p.pred_lang, p.score_q10, base.lang,
                 CAST(CASE WHEN base.tr THEN 1 ELSE 0 END AS BIGINT) AS is_train,
                 CAST(CASE WHEN p.pred_lang = base.lang THEN 1 ELSE 0 END AS BIGINT) AS hit
          FROM p JOIN base USING (doc_id) WHERE rn = 1 ORDER BY doc_id""",
    // both model builds, both argmax classifications of the appended
    // slice, and the bucket-share drift aggregate replayed in one
    // statement — floor-divided milli/micro units, bit-exact
    "nb_model_staleness" ->
      s"""WITH base AS (SELECT doc_id, lower(text) AS lt, lang,
                 CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) % 1000 < 800 AS tr,
                 doc_id % 3 <> 0 AS fr
               FROM documents),
          tri AS (SELECT doc_id, lang, tr, fr, unnest(CASE WHEN length(lt) >= 3
                    THEN list_transform(generate_series(1, length(lt) - 2),
                           i -> substring(lt, i, 3))
                    ELSE [] END) AS t
                  FROM base),
          tdall AS (SELECT doc_id, lang, tr, fr,
                   CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) % 4096 AS b,
                   count(*) AS k
                 FROM tri GROUP BY 1, 2, 3, 4, 5),
          mf AS (SELECT lang AS c, b, CAST(sum(k) AS BIGINT) AS n_cb
                 FROM tdall WHERE tr AND fr GROUP BY 1, 2),
          clsf AS (SELECT c, n_c, d_c FROM
                     (SELECT c, CAST(sum(n_cb) AS BIGINT) AS n_c FROM mf GROUP BY 1)
                     JOIN (SELECT lang AS c, count(*) AS d_c
                           FROM base WHERE tr AND fr GROUP BY 1) USING (c)),
          mr AS (SELECT lang AS c, b, CAST(sum(k) AS BIGINT) AS n_cb
                 FROM tdall WHERE tr GROUP BY 1, 2),
          clsr AS (SELECT c, n_c, d_c FROM
                     (SELECT c, CAST(sum(n_cb) AS BIGINT) AS n_c FROM mr GROUP BY 1)
                     JOIN (SELECT lang AS c, count(*) AS d_c
                           FROM base WHERE tr GROUP BY 1) USING (c)),
          tda AS (SELECT doc_id, b, CAST(sum(k) AS BIGINT) AS k
                  FROM tdall WHERE NOT fr GROUP BY 1, 2),
          ${nbPredCtes("f", "mf", "clsf")},
          ${nbPredCtes("r", "mr", "clsr")},
          ero AS (SELECT CAST(count(*) AS BIGINT) AS n_scored,
                    CAST(sum(CASE WHEN fp.pred <> rp.pred THEN 1 ELSE 0 END) AS BIGINT) AS disagree,
                    CAST(sum(CASE WHEN fp.pred = base.lang THEN 1 ELSE 0 END) AS BIGINT) AS frozen_hits,
                    CAST(sum(CASE WHEN rp.pred = base.lang THEN 1 ELSE 0 END) AS BIGINT) AS fresh_hits
                  FROM fp JOIN rp USING (doc_id) JOIN base USING (doc_id)),
          tb AS (SELECT fr, b, CAST(sum(k) AS BIGINT) AS k
                 FROM tdall GROUP BY 1, 2),
          tot AS (SELECT fr, CAST(sum(k) AS BIGINT) AS tk FROM tb GROUP BY 1),
          share AS (SELECT tb.fr, tb.b, CAST(tb.k * 1000000 // tot.tk AS BIGINT) AS s_q6
                    FROM tb JOIN tot ON tot.fr = tb.fr),
          dr AS (SELECT CAST(max(ad) AS BIGINT) AS max_share_delta_q6,
                   CAST(sum(ad) // count(*) AS BIGINT) AS mean_share_delta_q6
                 FROM (SELECT abs(coalesce(sum(CASE WHEN NOT fr THEN s_q6 END), 0)
                         - coalesce(sum(CASE WHEN fr THEN s_q6 END), 0)) AS ad
                       FROM share GROUP BY b)),
          cnts AS (SELECT CAST(sum(CASE WHEN fr THEN 1 ELSE 0 END) AS BIGINT) AS n_frozen,
                     CAST(sum(CASE WHEN NOT fr THEN 1 ELSE 0 END) AS BIGINT) AS n_appended
                   FROM base)
          SELECT cnts.n_frozen, cnts.n_appended,
                 dr.max_share_delta_q6, dr.mean_share_delta_q6,
                 ero.n_scored, ero.disagree,
                 CAST(ero.disagree * 1000 // ero.n_scored AS BIGINT) AS disagree_q3,
                 ero.frozen_hits, ero.fresh_hits,
                 CAST(ero.frozen_hits * 1000 // ero.n_scored AS BIGINT) AS acc_frozen_q3,
                 CAST(ero.fresh_hits * 1000 // ero.n_scored AS BIGINT) AS acc_fresh_q3,
                 CAST(ero.fresh_hits * 1000 // ero.n_scored
                   - ero.frozen_hits * 1000 // ero.n_scored AS BIGINT) AS acc_gap_q3
          FROM cnts CROSS JOIN dr CROSS JOIN ero""",
    // both staleness arms replayed bit-exact: frozen model over the
    // doc_id % 3 <> 0 slice, fresh model as the bucket-count merge,
    // appended docs scored under each, sign flips + share drift
    "dsir_model_staleness" -> {
      def l(x: String): String = l1024Sql(x)
      s"""WITH dsb AS (SELECT doc_id, lower(text) AS lt, lang = 'en' AS tg,
                 doc_id % 3 <> 0 AS fr
               FROM documents),
          dstri AS (SELECT doc_id, tg, fr, unnest(CASE WHEN length(lt) >= 3
                    THEN list_transform(generate_series(1, length(lt) - 2),
                           i -> substring(lt, i, 3))
                    ELSE [] END) AS t
                  FROM dsb),
          dstd AS (SELECT doc_id, tg, fr,
                   CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) % 4096 AS b,
                   count(*) AS k
                 FROM dstri GROUP BY 1, 2, 3, 4),
          mfz AS (SELECT b, CAST(sum(CASE WHEN tg THEN k ELSE 0 END) AS BIGINT) AS ct,
                    CAST(sum(k) AS BIGINT) AS cr
                  FROM dstd WHERE fr GROUP BY 1),
          mapp AS (SELECT b, CAST(sum(CASE WHEN tg THEN k ELSE 0 END) AS BIGINT) AS ct,
                     CAST(sum(k) AS BIGINT) AS cr
                   FROM dstd WHERE NOT fr GROUP BY 1),
          mn AS (SELECT b, CAST(sum(ct) AS BIGINT) AS ct, CAST(sum(cr) AS BIGINT) AS cr
                 FROM (SELECT * FROM mfz UNION ALL SELECT * FROM mapp) GROUP BY 1),
          totf AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM mfz),
          totn AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM mn),
          tda AS (SELECT doc_id, b, CAST(sum(k) AS BIGINT) AS k
                  FROM dstd WHERE NOT fr GROUP BY 1, 2),
          sc AS (SELECT t.doc_id, CAST(sum(t.k) AS BIGINT) AS n_tri,
                   CAST(sum(t.k * (${l("(coalesce(f.ct, 0) + 1)")} -
                     ${l("(coalesce(f.cr, 0) + 1)")})) AS BIGINT) AS sf,
                   CAST(sum(t.k * (${l("(coalesce(n.ct, 0) + 1)")} -
                     ${l("(coalesce(n.cr, 0) + 1)")})) AS BIGINT) AS sn
                 FROM tda t LEFT JOIN mfz f USING (b) LEFT JOIN mn n USING (b)
                 GROUP BY 1),
          w AS (SELECT doc_id,
                  CAST(sf + n_tri * (${l("(totf.tr + 4096)")} -
                    ${l("(totf.tt + 4096)")}) AS BIGINT) AS wf,
                  CAST(sn + n_tri * (${l("(totn.tr + 4096)")} -
                    ${l("(totn.tt + 4096)")}) AS BIGINT) AS wn
                FROM sc CROSS JOIN totf CROSS JOIN totn),
          ero AS (SELECT CAST(count(*) AS BIGINT) AS n_scored,
                    CAST(sum(CASE WHEN (wf >= 0) <> (wn >= 0) THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_flips,
                    CAST(sum(abs(wf - wn)) // count(*) AS BIGINT) AS mean_abs_w_gap_q10
                  FROM w),
          tb AS (SELECT fr, b, CAST(sum(k) AS BIGINT) AS k FROM dstd GROUP BY 1, 2),
          tot AS (SELECT fr, CAST(sum(k) AS BIGINT) AS tk FROM tb GROUP BY 1),
          share AS (SELECT tb.fr, tb.b, CAST(tb.k * 1000000 // tot.tk AS BIGINT) AS s_q6
                    FROM tb JOIN tot ON tot.fr = tb.fr),
          dr AS (SELECT CAST(max(ad) AS BIGINT) AS max_share_delta_q6,
                   CAST(sum(ad) // count(*) AS BIGINT) AS mean_share_delta_q6
                 FROM (SELECT abs(coalesce(sum(CASE WHEN NOT fr THEN s_q6 END), 0)
                         - coalesce(sum(CASE WHEN fr THEN s_q6 END), 0)) AS ad
                       FROM share GROUP BY b)),
          cnts AS (SELECT CAST(sum(CASE WHEN fr THEN 1 ELSE 0 END) AS BIGINT) AS n_frozen,
                     CAST(sum(CASE WHEN NOT fr THEN 1 ELSE 0 END) AS BIGINT) AS n_appended
                   FROM dsb)
          SELECT cnts.n_frozen, cnts.n_appended,
                 dr.max_share_delta_q6, dr.mean_share_delta_q6,
                 ero.n_scored, ero.n_flips,
                 CAST(ero.n_flips * 1000 // ero.n_scored AS BIGINT) AS flip_q3,
                 ero.mean_abs_w_gap_q10
          FROM cnts CROSS JOIN dr CROSS JOIN ero"""
    },
    // appended docs scored under the FROZEN LM (unseen trigrams count 1),
    // frozen vs appended-fit tercile cuts, per-source bucket-flip rate
    "ccnet_cuts_staleness" -> {
      def l(x: String): String = l1024Sql(x)
      s"""WITH cb AS (SELECT doc_id, lower(text) AS lt, source,
                 doc_id % 3 <> 0 AS fr
               FROM documents),
          tri AS (SELECT doc_id, source, fr, unnest(CASE WHEN length(lt) >= 3
                    THEN list_transform(generate_series(1, length(lt) - 2),
                           i -> substring(lt, i, 3))
                    ELSE [] END) AS t
                  FROM cb),
          cntf AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tri WHERE fr GROUP BY 1),
          totf AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cntf),
          tdf AS (SELECT doc_id, source, t, count(*) AS k
                  FROM tri WHERE fr GROUP BY 1, 2, 3),
          sfz AS (SELECT doc_id, source AS src,
                    CAST(sum(k * (${l("total")} - ${l("cnt")})) // sum(k) AS BIGINT) AS s
                  FROM tdf JOIN cntf USING (t) CROSS JOIN totf GROUP BY 1, 2),
          vf AS (SELECT src, s, count(*) AS n_s FROM sfz GROUP BY 1, 2),
          cf AS (SELECT src, s, sum(n_s) OVER (PARTITION BY src ORDER BY s) AS cum FROM vf),
          tf AS (SELECT src, count(*) AS n FROM sfz GROUP BY 1),
          cutsf AS (SELECT cf.src,
                      min(CASE WHEN cum >= n // 3 THEN s END) AS t1f,
                      min(CASE WHEN cum >= (2 * n) // 3 THEN s END) AS t2f
                    FROM cf JOIN tf USING (src) GROUP BY 1),
          tda AS (SELECT doc_id, source, t, count(*) AS k
                  FROM tri WHERE NOT fr GROUP BY 1, 2, 3),
          sap AS (SELECT doc_id, source AS src,
                    CAST(sum(k * (${l("total")} - ${l("coalesce(cnt, 1)")})) // sum(k)
                      AS BIGINT) AS s
                  FROM tda LEFT JOIN cntf USING (t) CROSS JOIN totf GROUP BY 1, 2),
          va AS (SELECT src, s, count(*) AS n_s FROM sap GROUP BY 1, 2),
          ca AS (SELECT src, s, sum(n_s) OVER (PARTITION BY src ORDER BY s) AS cum FROM va),
          ta AS (SELECT src, count(*) AS n FROM sap GROUP BY 1),
          cutsn AS (SELECT ca.src,
                      min(CASE WHEN cum >= n // 3 THEN s END) AS t1n,
                      min(CASE WHEN cum >= (2 * n) // 3 THEN s END) AS t2n
                    FROM ca JOIN ta USING (src) GROUP BY 1),
          j AS (SELECT sap.src, sap.s, f.t1f, f.t2f, n.t1n, n.t2n,
                  CASE WHEN f.t1f IS NULL THEN -1
                       WHEN sap.s <= f.t1f THEN 0
                       WHEN sap.s <= f.t2f THEN 1 ELSE 2 END AS bf,
                  CASE WHEN sap.s <= n.t1n THEN 0
                       WHEN sap.s <= n.t2n THEN 1 ELSE 2 END AS bn
                FROM sap LEFT JOIN cutsf f USING (src) JOIN cutsn n USING (src))
          SELECT src AS source, CAST(count(*) AS BIGINT) AS n_appended,
                 CAST(max(t1f) AS BIGINT) AS t1_frozen,
                 CAST(max(t2f) AS BIGINT) AS t2_frozen,
                 CAST(max(t1n) AS BIGINT) AS t1_fresh,
                 CAST(max(t2n) AS BIGINT) AS t2_fresh,
                 CAST(max(t1n) - max(t1f) AS BIGINT) AS d_t1_q10,
                 CAST(max(t2n) - max(t2f) AS BIGINT) AS d_t2_q10,
                 CAST(sum(CASE WHEN bf <> bn THEN 1 ELSE 0 END) AS BIGINT) AS n_flips,
                 CAST(sum(CASE WHEN bf <> bn THEN 1 ELSE 0 END) * 1000 // count(*)
                   AS BIGINT) AS flip_q3
          FROM j GROUP BY src ORDER BY src"""
    },
    "dsir_weights" ->
      s"""WITH $dsirCtes
          SELECT doc_id, n_tri, dsir_w_q10 FROM dsirw ORDER BY doc_id""",
    "dsir_budget_select" ->
      s"""WITH $dsirCtes,
          sel AS (SELECT w.doc_id, d.source,
                    CAST(greatest(0, least(1000,
                      ((w.dsir_w_q10 + 512 * w.n_tri) * 1000) // (1024 * w.n_tri)))
                      AS BIGINT) AS dsir_qmilli,
                    CAST(len($toksSql) AS BIGINT) AS n_tokens
                  FROM dsirw w JOIN documents d USING (doc_id)),
          c AS (SELECT *, CAST(sum(n_tokens) OVER (
                  PARTITION BY source ORDER BY dsir_qmilli DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
                FROM sel)
          SELECT doc_id, source, dsir_qmilli, n_tokens, cum_tokens
          FROM c WHERE cum_tokens <= 700 ORDER BY source, doc_id""",
    "gopher_rules" ->
      s"""WITH base AS (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             t -> t <> '') AS toks,
                 length(regexp_replace(text, '\\s', '', 'g')) AS sum_chars
               FROM documents),
          tf AS (SELECT doc_id, unnest(toks) AS term FROM base),
          tf2 AS (SELECT doc_id, term, count(*) AS k FROM tf GROUP BY 1, 2),
          top AS (SELECT doc_id, max(k) AS top_tf FROM tf2 GROUP BY 1),
          m AS (SELECT b.doc_id, len(toks) AS n_words, sum_chars,
                  len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
                  ((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END) +
                   (CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END) +
                   (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END) +
                   (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END) +
                   (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END) +
                   (CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END) +
                   (CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END) +
                   (CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END)) AS n_stop,
                  coalesce(top_tf, 0) AS top_tf
                FROM base b LEFT JOIN top ON b.doc_id = top.doc_id)
          SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                 CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_nwords,
                 CAST(CASE WHEN 3 * n_words <= sum_chars AND sum_chars <= 10 * n_words
                   THEN 1 ELSE 0 END AS BIGINT) AS r_wordlen,
                 CAST(CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
                 CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
                 CAST(CASE WHEN 5 * top_tf <= n_words THEN 1 ELSE 0 END AS BIGINT) AS r_rep,
                 CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                        AND 3 * n_words <= sum_chars AND sum_chars <= 10 * n_words
                        AND 5 * n_alpha >= 4 * n_words
                        AND n_stop >= 2
                        AND 5 * top_tf <= n_words
                   THEN 1 ELSE 0 END AS BIGINT) AS keep
          FROM m ORDER BY doc_id""",
    "ccnet_buckets" ->
      s"""WITH $lmPerDocCtes,
          j AS (SELECT p.doc_id, d.source AS src, p.avg_surprisal_q10 AS s
                FROM lm_perdoc p JOIN documents d USING (doc_id)),
          v AS (SELECT src, s, count(*) AS n_s FROM j GROUP BY 1, 2),
          c AS (SELECT src, s, sum(n_s) OVER (PARTITION BY src ORDER BY s) AS cum
                FROM v),
          t AS (SELECT src, count(*) AS n FROM j GROUP BY 1),
          th AS (SELECT c.src,
                   min(CASE WHEN cum >= n // 3 THEN s END) AS t1,
                   min(CASE WHEN cum >= (2 * n) // 3 THEN s END) AS t2
                 FROM c JOIN t USING (src) GROUP BY 1)
          SELECT j.doc_id, j.src AS source, j.s AS avg_surprisal_q10,
                 CASE WHEN j.s <= t1 THEN 'head'
                      WHEN j.s <= t2 THEN 'middle'
                      ELSE 'tail' END AS ppl_bucket
          FROM j JOIN th USING (src) ORDER BY doc_id""",
    "quality_lm_gate" ->
      s"""WITH $lmPerDocCtes,
          m AS (SELECT CAST(sum(avg_surprisal_q10) // count(*) AS BIGINT) AS mean_q10
                FROM lm_perdoc)
          SELECT doc_id, avg_surprisal_q10,
                 CAST(CASE WHEN avg_surprisal_q10 * 100 <= mean_q10 * 125
                      THEN 1 ELSE 0 END AS BIGINT) AS keep
          FROM lm_perdoc CROSS JOIN m ORDER BY doc_id""",
    // Train (merges CTE chain identical to bpe_merges) THEN apply: each
    // mK's merge replaces through the per-DOC symbol string e(K-1)->eK,
    // the same two-pass padded literal replace as the engine.
    "bpe_encode" -> {
      def round(k: Int): String = {
        val prev = if (k == 1) "s0" else s"s${k - 1}"
        s"""p$k AS (SELECT a, b, sum(cnt) AS pc FROM (
                 SELECT cnt,
                        unnest(list_transform(generate_series(1, len(sy) - 1), i -> sy[i])) AS a,
                        unnest(list_transform(generate_series(1, len(sy) - 1), i -> sy[i+1])) AS b
                 FROM (SELECT cnt, string_split(s, ' ') AS sy FROM $prev)
                 WHERE len(sy) >= 2)
               GROUP BY 1, 2),
           m$k AS (SELECT a AS lhs, b AS rhs, a || b AS merged
                   FROM p$k ORDER BY pc DESC, a, b LIMIT 1),
           s$k AS (SELECT trim(replace(replace(' ' || s || ' ',
                       ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.merged || ' '),
                       ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.merged || ' ')) AS s, cnt
                   FROM $prev CROSS JOIN m$k m),
           e$k AS (SELECT doc_id, replace(replace(s,
                       ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.merged || ' '),
                       ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.merged || ' ') AS s
                   FROM e${k - 1} CROSS JOIN m$k m)"""
      }
      s"""WITH words AS (SELECT w, count(*) AS cnt FROM (
               SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                        t -> t <> '')) AS w
               FROM documents) GROUP BY 1),
          s0 AS (SELECT array_to_string(list_transform(generate_series(1, length(w)),
                     i -> substr(w, i, 1)), ' ') || ' </w>' AS s, cnt
                 FROM words),
          e0 AS (SELECT doc_id, ' ' || array_to_string(list_transform(
                     list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> ''),
                     w -> array_to_string(list_transform(generate_series(1, length(w)),
                            i -> substr(w, i, 1)), ' ') || ' </w>'), ' ') || ' ' AS s
                 FROM documents),
          ${(1 to 6).map(round).mkString(",\n")}
          SELECT doc_id,
                 CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS bpe_len,
                 CAST(('0x' || substr(md5(trim(s)), 1, 12)) AS BIGINT) AS syms_fp48
          FROM e6 ORDER BY doc_id"""
    },
    "bpe_fertility" -> {
      // identical train+apply chain as bpe_encode, aggregated per source
      def round(k: Int): String = {
        val prev = if (k == 1) "s0" else s"s${k - 1}"
        s"""p$k AS (SELECT a, b, sum(cnt) AS pc FROM (
                 SELECT cnt,
                        unnest(list_transform(generate_series(1, len(sy) - 1), i -> sy[i])) AS a,
                        unnest(list_transform(generate_series(1, len(sy) - 1), i -> sy[i+1])) AS b
                 FROM (SELECT cnt, string_split(s, ' ') AS sy FROM $prev)
                 WHERE len(sy) >= 2)
               GROUP BY 1, 2),
           m$k AS (SELECT a AS lhs, b AS rhs, a || b AS merged
                   FROM p$k ORDER BY pc DESC, a, b LIMIT 1),
           s$k AS (SELECT trim(replace(replace(' ' || s || ' ',
                       ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.merged || ' '),
                       ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.merged || ' ')) AS s, cnt
                   FROM $prev CROSS JOIN m$k m),
           e$k AS (SELECT doc_id, replace(replace(s,
                       ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.merged || ' '),
                       ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.merged || ' ') AS s
                   FROM e${k - 1} CROSS JOIN m$k m)"""
      }
      s"""WITH words AS (SELECT w, count(*) AS cnt FROM (
               SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                        t -> t <> '')) AS w
               FROM documents) GROUP BY 1),
          s0 AS (SELECT array_to_string(list_transform(generate_series(1, length(w)),
                     i -> substr(w, i, 1)), ' ') || ' </w>' AS s, cnt
                 FROM words),
          e0 AS (SELECT doc_id, ' ' || array_to_string(list_transform(
                     list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> ''),
                     w -> array_to_string(list_transform(generate_series(1, length(w)),
                            i -> substr(w, i, 1)), ' ') || ' </w>'), ' ') || ' ' AS s
                 FROM documents),
          ${(1 to 6).map(round).mkString(",\n")},
          enc AS (SELECT doc_id,
                    CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_syms
                  FROM e6),
          wl AS (SELECT doc_id, source,
                   CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '')) AS BIGINT) AS nw
                 FROM documents)
          SELECT source,
                 CAST(sum(nw) AS BIGINT) AS n_words,
                 CAST(sum(n_syms) AS BIGINT) AS n_syms,
                 CAST((sum(n_syms) * 1000) // sum(nw) AS BIGINT) AS fertility_milli
          FROM enc JOIN wl USING (doc_id)
          GROUP BY source ORDER BY source"""
    },
    "bpe_merges" -> {
      // one BPE round: pair counts over sPrev's symbols -> top-1 merge
      // (mK) -> merged symbol strings (sK); replace applied twice, same
      // two-pass convention as the engine (see TextAnalysis.bpeTrain)
      def round(k: Int): String = {
        val prev = if (k == 1) "s0" else s"s${k - 1}"
        s"""p$k AS (SELECT a, b, sum(cnt) AS pc FROM (
                 SELECT cnt,
                        unnest(list_transform(generate_series(1, len(sy) - 1), i -> sy[i])) AS a,
                        unnest(list_transform(generate_series(1, len(sy) - 1), i -> sy[i+1])) AS b
                 FROM (SELECT cnt, string_split(s, ' ') AS sy FROM $prev)
                 WHERE len(sy) >= 2)
               GROUP BY 1, 2),
           m$k AS (SELECT $k AS step, a AS lhs, b AS rhs, a || b AS merged, pc AS pair_cnt
                   FROM p$k ORDER BY pc DESC, a, b LIMIT 1),
           s$k AS (SELECT trim(replace(replace(' ' || s || ' ',
                       ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.merged || ' '),
                       ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.merged || ' ')) AS s, cnt
                   FROM $prev CROSS JOIN m$k m)"""
      }
      s"""WITH words AS (SELECT w, count(*) AS cnt FROM (
               SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                        t -> t <> '')) AS w
               FROM documents) GROUP BY 1),
          s0 AS (SELECT array_to_string(list_transform(generate_series(1, length(w)),
                     i -> substr(w, i, 1)), ' ') || ' </w>' AS s, cnt
                 FROM words),
          ${(1 to 6).map(round).mkString(",\n")}
          SELECT CAST(step AS BIGINT) AS step, lhs, rhs, merged,
                 CAST(pair_cnt AS BIGINT) AS pair_cnt
          FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL
                SELECT * FROM m3 UNION ALL SELECT * FROM m4 UNION ALL
                SELECT * FROM m5 UNION ALL SELECT * FROM m6)
          ORDER BY step"""
    },
    "text_collocations" -> {
      def l1024(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + " +
          s"(($x << 10) // (CAST(1 AS BIGINT) << (length(bin($x)) - 1))) - 1024)"
      """WITH base AS (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS toks
             FROM documents),
          tot AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS tu,
                         CAST(sum(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END) AS BIGINT) AS tb
                  FROM base),
          uc AS (SELECT t, count(*) AS c FROM (SELECT unnest(toks) AS t FROM base) GROUP BY 1),
          bc AS (SELECT w1, w2, count(*) AS cab FROM (
                   SELECT unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i])) AS w1,
                          unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i+1])) AS w2
                   FROM base WHERE len(toks) >= 2)
                 GROUP BY 1, 2 HAVING count(*) >= 5)""" +
        s"""
          SELECT w1, w2, cab,
                 CAST(${l1024("cab")} + 2 * ${l1024("tu")} - ${l1024("tb")}
                      - ${l1024("a.c")} - ${l1024("b.c")} AS BIGINT) AS pmi_q10
          FROM bc JOIN uc a ON bc.w1 = a.t JOIN uc b ON bc.w2 = b.t CROSS JOIN tot
          ORDER BY pmi_q10 DESC, w1, w2 LIMIT 50"""
    },
    "diversity_sample" ->
      s"""WITH $vnCtes,
          cent0 AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn WHERE vec_id % 25 = 0),
          ${kmeansIterSql("cent0", 1)},
          ${kmeansIterSql("cent1", 2)},
          assign AS (
            SELECT vec_id, cid, sc AS proto_q4 FROM (
              SELECT vn.vec_id, c.cid,
                     CAST(floor(${dotSql("c.ce", "vn.e")} / (c.cn * vn.n) * 10000) AS BIGINT) AS sc,
                     row_number() OVER (PARTITION BY vn.vec_id
                       ORDER BY CAST(floor(${dotSql("c.ce", "vn.e")} / (c.cn * vn.n) * 10000) AS BIGINT) DESC,
                                c.cid) AS rn
              FROM vn CROSS JOIN cent2 c) WHERE rn = 1),
          cnt AS (SELECT cid, count(*) AS n_cell FROM assign GROUP BY 1),
          rk AS (SELECT a.vec_id, a.cid, a.proto_q4, c.n_cell,
                   row_number() OVER (PARTITION BY a.cid
                     ORDER BY a.proto_q4 ASC, a.vec_id ASC) AS rn
                 FROM assign a JOIN cnt c USING (cid))
          SELECT vec_id, cid, proto_q4,
                 CAST(CASE WHEN rn * 1000 <= 500 * n_cell OR rn = 1
                      THEN 1 ELSE 0 END AS BIGINT) AS keep
          FROM rk ORDER BY vec_id""",
    "semdedup_keep" ->
      s"""WITH $vnCtes,
          cent0 AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn WHERE vec_id % 25 = 0),
          ${kmeansIterSql("cent0", 1)},
          ${kmeansIterSql("cent1", 2)},
          assign AS (
            SELECT vec_id, e, n, cid FROM (
              SELECT vn.vec_id, vn.e, vn.n, c.cid,
                     row_number() OVER (PARTITION BY vn.vec_id
                       ORDER BY CAST(floor(${dotSql("c.ce", "vn.e")} / (c.cn * vn.n) * 10000) AS BIGINT) DESC,
                                c.cid) AS rn
              FROM vn CROSS JOIN cent2 c) WHERE rn = 1),
          dups AS (
            SELECT DISTINCT y.vec_id
            FROM assign x JOIN assign y ON x.cid = y.cid AND x.vec_id < y.vec_id
            WHERE CAST(floor(${dotSql("x.e", "y.e")} / (x.n * y.n) * 10000) AS BIGINT) >= 3500)
          SELECT a.vec_id, a.cid,
                 CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
          FROM assign a LEFT JOIN dups d USING (vec_id)
          ORDER BY a.vec_id""",
    "dedup_span_profile" ->
      s"""WITH $shinglesCte,
          valid AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
          ex AS (SELECT doc_id, unnest(s) AS g FROM valid),
          freq AS (SELECT g, count(*) AS df FROM ex GROUP BY 1)
          SELECT doc_id, count(*) AS n_shingles,
                 CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                 CAST(floor(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 1000.0 / count(*))
                   AS BIGINT) AS dup_frac_milli
          FROM ex JOIN freq USING (g)
          GROUP BY 1 ORDER BY doc_id""",
    "dedup_span_removal" ->
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
          ph AS (SELECT doc_id, toks,
                   CASE WHEN len(toks) >= 3
                     THEN list_transform(generate_series(1, len(toks)-2),
                            i -> CAST(('0x' || substr(md5(
                                   concat_ws(' ', toks[i], toks[i+1], toks[i+2])), 1, 12)) AS BIGINT))
                     ELSE [] END AS hs
                 FROM base),
          ex AS (SELECT doc_id, unnest(generate_series(1, len(hs))) AS s, unnest(hs) AS h FROM ph),
          freq AS (SELECT h, count(DISTINCT doc_id) AS df, min(doc_id) AS keeper
                   FROM ex GROUP BY 1),
          cuts AS (SELECT doc_id, list(s ORDER BY s) AS cut_starts
                   FROM ex JOIN freq USING (h)
                   WHERE df > 1 AND doc_id <> keeper GROUP BY 1),
          fin AS (SELECT p.doc_id, p.toks, coalesce(c.cut_starts, []) AS cs
                  FROM ph p LEFT JOIN cuts c USING (doc_id)),
          kept AS (SELECT doc_id, toks,
                     list_filter(
                       list_transform(generate_series(1, len(toks)),
                         p -> CASE WHEN len(list_filter(cs, s -> s <= p AND s >= p - 2)) = 0
                                   THEN toks[p] ELSE NULL END),
                       t -> t IS NOT NULL) AS kt
                   FROM fin)
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(kt) AS BIGINT) AS n_kept,
                 coalesce(array_to_string(kt, ' '), '') AS clean_text
          FROM kept ORDER BY doc_id""",
    "contamination" -> contaminationOracleSql,
    "eval_leakage_report" ->
      s"""WITH $contaminationCtes,
          hits AS (SELECT bench_id, p.doc_id, inter, nb,
                     CAST(floor(inter * 1000.0 / nb) AS BIGINT) AS cm
                   FROM p JOIN nbt USING (bench_id)
                   WHERE CAST(floor(inter * 1000.0 / nb) AS BIGINT) >= 100),
          agg AS (SELECT bench_id, count(*) AS n_hits,
                         max(cm) AS max_contain_milli
                  FROM hits GROUP BY 1),
          top AS (SELECT bench_id, doc_id AS top_doc_id FROM (
                    SELECT bench_id, doc_id,
                           row_number() OVER (PARTITION BY bench_id
                             ORDER BY cm DESC, doc_id ASC) AS rn
                    FROM hits) WHERE rn = 1),
          bench AS (SELECT doc_id AS bench_id FROM documents
                    WHERE doc_id % 20 = 0)
         SELECT b.bench_id, coalesce(a.n_hits, 0) AS n_hits,
                coalesce(a.max_contain_milli, 0) AS max_contain_milli,
                t.top_doc_id
         FROM bench b LEFT JOIN agg a USING (bench_id)
              LEFT JOIN top t USING (bench_id)
         ORDER BY b.bench_id""",
    "decontaminated_keep" ->
      s"""WITH $contaminationCtes,
          hits AS (SELECT DISTINCT doc_id FROM p JOIN nbt USING (bench_id)
                   WHERE CAST(floor(inter * 1000.0 / nb) AS BIGINT) >= 100)
          SELECT doc_id FROM documents
          WHERE doc_id % 20 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM hits)
          ORDER BY 1""",
    // the bloom prefilter is output-invariant, so the oracle is identical
    "contamination_bloom" -> contaminationOracleSql,
    "dataset_split" ->
      """SELECT doc_id, bucket,
                CASE WHEN bucket < 50 THEN 'test'
                     WHEN bucket < 150 THEN 'val'
                     ELSE 'train' END AS split
         FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) % 1000 AS bucket
               FROM documents)
         ORDER BY doc_id""",
    "split_dedup_aware" ->
      s"""WITH RECURSIVE $shinglesCte,
          $minhashCandCtes,
          vp AS (SELECT c.a, c.b FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b
                 WHERE CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) >= 500),
          edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node),
          cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
          bk AS (SELECT b.doc_id,
                   CASE WHEN cl.cluster_id IS NOT NULL
                     THEN CAST(('0x' || substr(md5('split:' || CAST(cl.cluster_id AS VARCHAR)), 1, 12)) AS BIGINT) % 1000
                     ELSE CAST(('0x' || substr(md5(b.text), 1, 12)) AS BIGINT) % 1000
                   END AS bucket
                 FROM base b LEFT JOIN cl ON cl.doc_id = b.doc_id)
          SELECT doc_id, bucket,
                 CASE WHEN bucket < 50 THEN 'test'
                      WHEN bucket < 150 THEN 'val'
                      ELSE 'train' END AS split
          FROM bk ORDER BY doc_id""",
    "stratified_sample" ->
      """SELECT doc_id, source FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 1000 <
               CASE source WHEN 'src0' THEN 50 WHEN 'src1' THEN 200
                           WHEN 'src2' THEN 800 ELSE 500 END
         ORDER BY doc_id""",
    "pack_sequences" ->
      s"""WITH base AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
          t AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens FROM base),
          c AS (SELECT *, coalesce(sum(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                FROM t)
          SELECT doc_id, source, n_tokens,
                 CAST(cum_before // 4096 AS BIGINT) AS bin,
                 CAST(cum_before % 4096 AS BIGINT) AS bin_offset
          FROM c ORDER BY doc_id""",
    // identical bins regardless of how the engine chunks the prefix sum
    "pack_sequences_chunked" ->
      s"""WITH base AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
          t AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens FROM base),
          c AS (SELECT *, coalesce(sum(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                FROM t)
          SELECT doc_id, source, n_tokens,
                 CAST(cum_before // 4096 AS BIGINT) AS bin,
                 CAST(cum_before % 4096 AS BIGINT) AS bin_offset
          FROM c ORDER BY doc_id""",
    "pack_semantic" ->
      s"""WITH $vnCtes,
          cent0 AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn WHERE vec_id % 25 = 0),
          ${kmeansIterSql("cent0", 1)},
          ${kmeansIterSql("cent1", 2)},
          assign AS (
            SELECT vec_id, cid FROM (
              SELECT vn.vec_id, c.cid,
                     row_number() OVER (PARTITION BY vn.vec_id
                       ORDER BY CAST(floor(${dotSql("c.ce", "vn.e")} / (c.cn * vn.n) * 10000) AS BIGINT) DESC,
                                c.cid) AS rn
              FROM vn CROSS JOIN cent2 c) WHERE rn = 1),
          pbase AS (SELECT doc_id, $toksSql AS toks FROM documents),
          pt AS (SELECT b.doc_id, a.cid, CAST(len(b.toks) AS BIGINT) AS n_tokens
                 FROM pbase b JOIN assign a ON a.vec_id = b.doc_id),
          pc AS (SELECT *, coalesce(sum(n_tokens) OVER (
                   PARTITION BY cid ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                 FROM pt)
          SELECT doc_id, cid, n_tokens,
                 CAST(cum_before // 4096 AS BIGINT) AS bin,
                 CAST(cum_before % 4096 AS BIGINT) AS bin_offset
          FROM pc ORDER BY doc_id""",
    "pack_dedup_aware" ->
      s"""WITH RECURSIVE $shinglesCte,
          $minhashCandCtes,
          vp AS (SELECT c.a, c.b FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b
                 WHERE CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) >= 500),
          edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node),
          cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
          lab AS (SELECT b.doc_id, b.source,
                    CAST(len(b.toks) AS BIGINT) AS n_tokens,
                    coalesce(cl.cluster_id, b.doc_id) AS cluster_id
                  FROM base b LEFT JOIN cl ON cl.doc_id = b.doc_id),
          wv AS (SELECT *, CAST(row_number() OVER (
                   PARTITION BY source, cluster_id ORDER BY doc_id) - 1 AS BIGINT) AS wave
                 FROM lab),
          cb AS (SELECT *, coalesce(sum(n_tokens) OVER (
                   PARTITION BY source, wave ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                 FROM wv)
          SELECT doc_id, source, cluster_id, wave, n_tokens,
                 CAST(cum_before // 4096 AS BIGINT) AS bin,
                 CAST(cum_before % 4096 AS BIGINT) AS bin_offset
          FROM cb ORDER BY doc_id""",
    "shards_dedup_aware" ->
      s"""WITH RECURSIVE $shinglesCte,
          $minhashCandCtes,
          vp AS (SELECT c.a, c.b FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b
                 WHERE CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) >= 500),
          edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node),
          cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
          lab AS (SELECT b.doc_id, coalesce(cl.cluster_id, b.doc_id) AS cluster_id
                  FROM base b LEFT JOIN cl ON cl.doc_id = b.doc_id),
          w AS (SELECT doc_id, cluster_id,
                  CAST(row_number() OVER (
                    PARTITION BY cluster_id ORDER BY doc_id) - 1 AS BIGINT) AS dup_idx,
                  CAST(('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hkey,
                  CAST(('0x' || substr(md5('shard:' || CAST(cluster_id AS VARCHAR)), 1, 12)) AS BIGINT) AS ckey
                FROM lab),
          sh2 AS (SELECT doc_id, cluster_id, (ckey + dup_idx) % 8 AS shard, hkey FROM w)
          SELECT doc_id, cluster_id, shard,
                 CAST(row_number() OVER (
                   PARTITION BY shard ORDER BY hkey, doc_id) AS BIGINT) AS pos
          FROM sh2 ORDER BY doc_id""",
    "shuffle_shards" ->
      s"""WITH h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hkey
               FROM documents)
          SELECT doc_id, hkey % 8 AS shard,
                 CAST(row_number() OVER (PARTITION BY hkey % 8 ORDER BY hkey, doc_id) AS BIGINT) AS pos
          FROM h ORDER BY shard, pos""",
    "token_budget_select" ->
      s"""WITH base AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
          m AS (SELECT doc_id, source, len(toks) AS ntok, length(text) AS nchars,
                  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct,
                  len(list_filter(toks, t -> t IN ${stopSql("en")})) AS stops
                FROM base),
          q AS (SELECT doc_id, source, CAST(ntok AS BIGINT) AS n_tokens,
                  CAST(floor((least(CAST(ntok AS DOUBLE), 256.0) / 256.0 * 0.4 +
                    least(CAST(stops AS DOUBLE) * 4.0 / greatest(CAST(ntok AS DOUBLE), 1.0), 1.0) * 0.4 +
                    (1.0 - least(CAST(punct AS DOUBLE) / greatest(CAST(nchars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.2) * 1000) AS BIGINT)
                    AS quality_milli
                FROM m),
          c AS (SELECT *, CAST(sum(n_tokens) OVER (
                  PARTITION BY source ORDER BY quality_milli DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
                FROM q)
          SELECT doc_id, source, quality_milli, n_tokens, cum_tokens
          FROM c WHERE cum_tokens <= 700 ORDER BY source, doc_id""",
    "dedup_clusters" ->
      s"""WITH RECURSIVE $shinglesCte,
          $minhashCandCtes,
          vp AS (SELECT c.a, c.b FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b
                 WHERE CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) >= 500),
          edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node)
          SELECT node AS doc_id, min(r) AS cluster_id
          FROM reach GROUP BY 1 ORDER BY 1""",
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $shinglesCte,
          $minhashCandCtes,
          vp AS (SELECT c.a, c.b FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b
                 WHERE CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) >= 500),
          edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node),
          cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1),
          hist AS (SELECT size, count(*) AS n_clusters
                   FROM (SELECT cluster_id, count(*) AS size FROM cc GROUP BY 1)
                   GROUP BY 1),
          singles AS (SELECT 1 AS size,
                        (SELECT count(*) FROM documents) - (SELECT count(*) FROM cc)
                          AS n_clusters)
          SELECT CAST(size AS BIGINT) AS size,
                 CAST(n_clusters AS BIGINT) AS n_clusters
          FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles) u
          ORDER BY size""",
    "quality_quantile_norm" ->
      s"""WITH base AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
          m AS (SELECT doc_id, source, len(toks) AS ntok, length(text) AS nchars,
                  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct,
                  len(list_filter(toks, t -> t IN ${stopSql("en")})) AS stops
                FROM base),
          q AS (SELECT doc_id, source,
                  CAST(floor((least(CAST(ntok AS DOUBLE), 256.0) / 256.0 * 0.4 +
                    least(CAST(stops AS DOUBLE) * 4.0 / greatest(CAST(ntok AS DOUBLE), 1.0), 1.0) * 0.4 +
                    (1.0 - least(CAST(punct AS DOUBLE) / greatest(CAST(nchars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.2) * 1000) AS BIGINT)
                    AS q_milli
                FROM m),
          hs AS (SELECT source, q_milli, count(*) AS c FROM q GROUP BY 1, 2),
          ns AS (SELECT source, sum(c) AS n FROM hs GROUP BY 1),
          scdf AS (SELECT h.source, h.q_milli,
                     CAST((sum(h.c) OVER (PARTITION BY h.source ORDER BY h.q_milli) * 1000)
                       // ns.n AS BIGINT) AS permille
                   FROM hs h JOIN ns ON ns.source = h.source),
          hg AS (SELECT q_milli, count(*) AS c FROM q GROUP BY 1),
          ngt AS (SELECT sum(c) AS ng FROM hg),
          gcdf AS (SELECT v, CAST((cumg * 1000) // ngt.ng AS BIGINT) AS pg FROM (
                     SELECT h1.q_milli AS v, sum(h2.c) AS cumg
                     FROM hg h1 JOIN hg h2 ON h2.q_milli <= h1.q_milli
                     GROUP BY 1) x, ngt),
          inv AS (SELECT pp.p AS permille, min(g.v) AS q_norm_milli
                  FROM (SELECT unnest(range(0, 1001)) AS p) pp
                  JOIN gcdf g ON g.pg >= pp.p GROUP BY 1)
          SELECT q.doc_id, q.source, q.q_milli, s.permille, i.q_norm_milli
          FROM q JOIN scdf s ON s.source = q.source AND s.q_milli = q.q_milli
               JOIN inv i ON i.permille = s.permille
          ORDER BY q.doc_id""",
    "contrastive_pairs" ->
      s"""WITH RECURSIVE $shinglesCte,
          $minhashCandCtes,
          vp AS (SELECT c.a, c.b FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b
                 WHERE CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) >= 500),
          edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node),
          cl AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1),
          p AS (SELECT a AS anchor_id, b AS pos_id,
                  CAST(('0x' || substr(md5(CAST(a AS VARCHAR)), 1, 12)) AS BIGINT) % 8 AS shard
                FROM vp),
          rp AS (SELECT *, row_number() OVER (PARTITION BY shard
                   ORDER BY anchor_id, pos_id) AS rn FROM p),
          m AS (SELECT shard, max(rn) AS m FROM rp GROUP BY 1),
          neg AS (SELECT shard, rn AS nrn, pos_id AS neg_id FROM rp),
          j AS (SELECT r.anchor_id, r.pos_id, n.neg_id, r.shard
                FROM rp r JOIN m USING (shard)
                JOIN neg n ON n.shard = r.shard AND n.nrn = (r.rn % m.m) + 1)
          SELECT j.anchor_id, j.pos_id, j.neg_id, j.shard
          FROM j JOIN cl ca ON ca.node = j.anchor_id
               JOIN cl cn ON cn.node = j.neg_id
          WHERE ca.cluster_id <> cn.cluster_id
          ORDER BY anchor_id, pos_id, neg_id""",
    "dedup_keep_list" ->
      s"""WITH RECURSIVE $shinglesCte,
          $minhashCandCtes,
          vp AS (SELECT c.a, c.b FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b
                 WHERE CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) >= 500),
          edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node),
          losers AS (SELECT node FROM (
                       SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1)
                     WHERE node <> cluster_id)
          SELECT doc_id FROM documents
          WHERE doc_id NOT IN (SELECT node FROM losers) ORDER BY 1""",
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $shinglesCte,
          $minhashCandCtes,
          vp AS (SELECT c.a, c.b FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b
                 WHERE CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) >= 500),
          edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node),
          cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
          m AS (SELECT doc_id, len(toks) AS ntok, length(text) AS nchars,
                  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct,
                  len(list_filter(toks, t -> t IN ${stopSql("en")})) AS stops
                FROM base),
          q AS (SELECT doc_id,
                  CAST(floor((least(CAST(ntok AS DOUBLE), 256.0) / 256.0 * 0.4 +
                    least(CAST(stops AS DOUBLE) * 4.0 / greatest(CAST(ntok AS DOUBLE), 1.0), 1.0) * 0.4 +
                    (1.0 - least(CAST(punct AS DOUBLE) / greatest(CAST(nchars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.2) * 1000) AS BIGINT)
                    AS quality_milli
                FROM m),
          lab AS (SELECT q.doc_id, coalesce(cl.cluster_id, q.doc_id) AS cluster_id,
                    q.quality_milli
                  FROM q LEFT JOIN cl ON cl.doc_id = q.doc_id),
          rk AS (SELECT *, row_number() OVER (
                   PARTITION BY cluster_id ORDER BY quality_milli DESC, doc_id) AS rn
                 FROM lab)
          SELECT cluster_id, doc_id AS keep_doc_id, quality_milli
          FROM rk WHERE rn = 1 ORDER BY cluster_id""",
    "corpus_datasheet" -> datasheetOracleSql,
    // the IVM-merged datasheet must land on the SAME plain-full-aggregate
    // hash — the monoid+support-count proof against an independent engine
    "datasheet_incremental" -> datasheetOracleSql,
    // chains the SAME CTE fragments as the four standalone stage oracles:
    // minhash CC losers + contamination hits + lm gate + md5-bucket split
    "pipeline_keep" ->
      s"""WITH RECURSIVE $shinglesCte,
          $minhashCandCtes,
          vp AS (SELECT c.a, c.b FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b
                 WHERE CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                   (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                   AS BIGINT) >= 500),
          edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node),
          losers AS (SELECT node FROM (
                       SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1)
                     WHERE node <> cluster_id),
          ex AS (SELECT doc_id, (doc_id % 20 = 0) AS is_bench, unnest(s) AS g FROM valid),
          freq AS (SELECT g, count(*) AS df FROM ex GROUP BY 1),
          rare AS (SELECT ex.doc_id, ex.is_bench, ex.g
                   FROM ex JOIN freq USING (g) WHERE freq.df <= 50),
          nbt AS (SELECT doc_id AS bench_id, count(*) AS nb
                  FROM rare WHERE is_bench GROUP BY 1),
          p AS (SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS inter
                FROM rare c JOIN rare b ON c.g = b.g
                WHERE NOT c.is_bench AND b.is_bench GROUP BY 1, 2),
          hits AS (SELECT DISTINCT doc_id FROM p JOIN nbt USING (bench_id)
                   WHERE CAST(floor(inter * 1000.0 / nb) AS BIGINT) >= 100),
          $lmPerDocCtes,
          m AS (SELECT CAST(sum(avg_surprisal_q10) // count(*) AS BIGINT) AS mean_q10
                FROM lm_perdoc),
          qual AS (SELECT doc_id FROM lm_perdoc CROSS JOIN m
                   WHERE avg_surprisal_q10 * 100 <= mean_q10 * 125),
          keep AS (SELECT doc_id FROM documents
                   WHERE doc_id % 20 <> 0
                     AND doc_id IN (SELECT doc_id FROM qual)
                     AND doc_id NOT IN (SELECT node FROM losers)
                     AND doc_id NOT IN (SELECT doc_id FROM hits))
          SELECT doc_id, bucket,
                 CASE WHEN bucket < 50 THEN 'test'
                      WHEN bucket < 150 THEN 'val'
                      ELSE 'train' END AS split
          FROM (SELECT doc_id,
                  CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) % 1000 AS bucket
                FROM documents JOIN keep USING (doc_id))
          ORDER BY doc_id""",
    "text_keywords" ->
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
          ex AS (SELECT doc_id, unnest(toks) AS term FROM base),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
          dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
          nn AS (SELECT count(*) AS n FROM documents)
          SELECT doc_id, term, tf, df, score_milli, rank FROM (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                   CAST(floor(tf.tf * 1000.0 * nn.n / dfreq.df) AS BIGINT) AS score_milli,
                   CAST(row_number() OVER (PARTITION BY tf.doc_id
                     ORDER BY CAST(floor(tf.tf * 1000.0 * nn.n / dfreq.df) AS BIGINT) DESC,
                              tf.term) AS BIGINT) AS rank
            FROM tf JOIN dfreq USING (term) CROSS JOIN nn) q
          WHERE rank <= 3 ORDER BY doc_id, rank""",
    "mixture_sample" ->
      s"""WITH base AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
          t AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens FROM base),
          c AS (SELECT *, coalesce(sum(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                FROM t)
          SELECT doc_id, source, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
          FROM c
          WHERE cum_before < CASE source WHEN 'src0' THEN 512
                                         WHEN 'src1' THEN 2048 ELSE 1024 END
          ORDER BY doc_id""",
    "temperature_mixture" ->
      s"""WITH tok AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens
                 FROM documents),
          st AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t
                 FROM tok GROUP BY 1 HAVING sum(n_tokens) > 0),
          w AS (SELECT source, t, CAST(floor(sqrt(t)) AS BIGINT) AS w FROM st),
          tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
          r AS (SELECT source,
                  least(1000000, CAST(floor(3000.0 * 1000000.0 * w / (CAST(sw AS DOUBLE) * t)) AS BIGINT))
                    AS rate_micro
                FROM w CROSS JOIN tot)
          SELECT tok.doc_id, tok.source, tok.n_tokens, r.rate_micro
          FROM tok JOIN r USING (source)
          WHERE CAST(('0x' || substr(md5(CAST(tok.doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
                  % 1000000 < r.rate_micro
          ORDER BY doc_id""",
    "dedup_source_matrix" ->
      s"""WITH $shinglesCte,
          $minhashCandCtes,
          vj AS (SELECT c.a, c.b,
                   CAST(floor(len(list_filter(sa.s, g -> list_contains(sb.s, g))) * 1000.0 /
                     (len(sa.s) + len(sb.s) - len(list_filter(sa.s, g -> list_contains(sb.s, g)))))
                     AS BIGINT) AS j
                 FROM cand c
                 JOIN valid sa ON sa.doc_id = c.a
                 JOIN valid sb ON sb.doc_id = c.b),
          vp AS (SELECT * FROM vj WHERE j >= 500),
          sp AS (SELECT least(da.source, db.source) AS src_a,
                   greatest(da.source, db.source) AS src_b, j
                 FROM vp
                 JOIN documents da ON da.doc_id = vp.a
                 JOIN documents db ON db.doc_id = vp.b)
          SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(j) // count(*) AS BIGINT) AS avg_jaccard_milli
          FROM sp GROUP BY 1, 2 ORDER BY src_a, src_b""",
    "dedup_embedding_quantized" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                    FROM embeddings),
          s AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
          q AS (SELECT vec_id,
                  md5(array_to_string(
                    list_transform(e, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(floor(x / scale * 127) AS BIGINT) END), ',')) AS qfp
                FROM s)
          SELECT qfp, min(vec_id) AS keep_id, count(*) AS n
          FROM q GROUP BY 1 ORDER BY 1""",
    "embedding_quantize" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                    FROM embeddings),
          s AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
          q AS (SELECT vec_id, scale,
                  list_transform(e, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(floor(x / scale * 127) AS BIGINT) END) AS codes
                FROM s)
          SELECT vec_id,
                 CAST(floor(scale * 1000000) AS BIGINT) AS scale_q6,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                   (acc, x) -> acc + x) AS q_sum,
                 list_min(codes) AS q_min,
                 list_max(codes) AS q_max
          FROM q ORDER BY vec_id""",
    "text_repetition" ->
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
          m AS (SELECT doc_id, toks, len(toks) AS n_tokens,
                  len(list_distinct(toks)) AS n_distinct,
                  CASE WHEN len(toks) > 0 THEN
                    list_max(list_transform(list_distinct(toks),
                      t -> len(list_filter(toks, x -> x = t))))
                  ELSE 0 END AS top_tf,
                  CASE WHEN len(toks) >= 2 THEN
                    list_transform(generate_series(1, len(toks)-1),
                      i -> toks[i] || ' ' || toks[i+1])
                  ELSE [] END AS bg
                FROM base)
          SELECT doc_id,
                 CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(CASE WHEN n_tokens > 0
                   THEN floor(top_tf * 1000.0 / n_tokens) ELSE 0 END AS BIGINT)
                   AS top_token_milli,
                 CAST(CASE WHEN n_tokens > 0
                   THEN floor(n_distinct * 1000.0 / n_tokens) ELSE 0 END AS BIGINT)
                   AS distinct_milli,
                 CAST(CASE WHEN len(bg) > 0
                   THEN floor((len(bg) - len(list_distinct(bg))) * 1000.0 / len(bg))
                   ELSE 0 END AS BIGINT) AS dup_bigram_milli
          FROM m ORDER BY doc_id""",
    "dedup_simhash" ->
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
          h AS (SELECT doc_id,
                  list_transform(toks, t ->
                    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
                FROM base)
          SELECT doc_id,
                 CAST(list_sum(list_transform(generate_series(0, 59), j ->
                   CASE WHEN list_sum(list_transform(hs, x -> ((x >> j) & 1) * 2 - 1)) > 0
                        THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
                   AS BIGINT) AS simhash
          FROM h ORDER BY doc_id""",
    "dedup_simhash_pairs" ->
      s"""WITH base AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
          h AS (SELECT doc_id, source,
                  list_transform(toks, t ->
                    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
                FROM base),
          f AS (SELECT doc_id, source,
                  CAST(list_sum(list_transform(generate_series(0, 59), j ->
                    CASE WHEN list_sum(list_transform(hs, x -> ((x >> j) & 1) * 2 - 1)) > 0
                         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
                    AS BIGINT) AS sh
                FROM h)
          SELECT a.doc_id AS a, b.doc_id AS b,
                 CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
          FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sh, b.sh)) <= 10
          ORDER BY a, b""",
    "dedup_simhash_wide" ->
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
          h AS (SELECT doc_id,
                  list_transform(toks, t ->
                    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs0,
                  list_transform(toks, t ->
                    CAST(('0x' || substr(md5(t || '#1'), 1, 15)) AS BIGINT)) AS hs1
                FROM base),
          f AS (SELECT doc_id,
                  CAST(list_sum(list_transform(generate_series(0, 59), j ->
                    CASE WHEN list_sum(list_transform(hs0, x -> ((x >> j) & 1) * 2 - 1)) > 0
                         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
                    AS BIGINT) AS sh0,
                  CAST(list_sum(list_transform(generate_series(0, 59), j ->
                    CASE WHEN list_sum(list_transform(hs1, x -> ((x >> j) & 1) * 2 - 1)) > 0
                         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
                    AS BIGINT) AS sh1
                FROM h)
          SELECT a.doc_id AS a, b.doc_id AS b,
                 CAST(bit_count(xor(a.sh0, b.sh0)) + bit_count(xor(a.sh1, b.sh1))
                   AS BIGINT) AS hamming
          FROM f a JOIN f b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sh0, b.sh0)) + bit_count(xor(a.sh1, b.sh1)) <= 10
          ORDER BY a, b""",
    "dedup_embedding_pairs" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                    FROM embeddings),
          p AS (SELECT a.vec_id AS a, b.vec_id AS b, a.e AS ea, b.e AS eb
                FROM v a JOIN v b ON a.vec_id < b.vec_id)
          SELECT a, b, score_q4 FROM (
            SELECT a, b, CAST(floor(
              (list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, len(ea)), i -> ea[i]*eb[i])), (acc,x) -> acc+x)
               / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(generate_series(1, len(ea)), i -> ea[i]*ea[i])), (acc,x) -> acc+x))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(generate_series(1, len(eb)), i -> eb[i]*eb[i])), (acc,x) -> acc+x))))
              * 10000) AS BIGINT) AS score_q4
            FROM p)
          WHERE score_q4 >= 3500 ORDER BY a, b""",
    "dedup_embedding_lsh" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                     FROM embeddings),
          vn AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS n FROM v),
          planes AS (SELECT i,
              list_transform(generate_series(0, 63), j ->
                CASE WHEN (CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 12)) AS BIGINT) & 1) = 1
                     THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS p
            FROM generate_series(0, 31) t(i)),
          bits AS (SELECT vec_id, i,
                     CASE WHEN ${dotSql("p", "e")} > 0 THEN 1 ELSE 0 END AS b
                   FROM vn CROSS JOIN planes),
          buckets AS (SELECT vec_id, i // 4 AS band,
                        CAST(sum(b * (1 << (i % 4))) AS BIGINT) AS bucket
                      FROM bits GROUP BY 1, 2),
          cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
                   FROM buckets x JOIN buckets y
                     ON x.band = y.band AND x.bucket = y.bucket
                    AND x.vec_id < y.vec_id)
          SELECT a, b, score_q4 FROM (
            SELECT c.a, c.b,
                   CAST(floor(${dotSql("va.e", "vb.e")} / (va.n * vb.n) * 10000) AS BIGINT) AS score_q4
            FROM cand c JOIN vn va ON va.vec_id = c.a JOIN vn vb ON vb.vec_id = c.b)
          WHERE score_q4 >= 3500 ORDER BY a, b""",
    "embedding_pq" ->
      s"""WITH $pqCtes
          SELECT vec_id, j, cid AS code, d_q6 FROM best WHERE rn = 1
          ORDER BY vec_id, j""",
    "sim_topk_pq" ->
      s"""WITH $pqCtes,
          codes AS (SELECT vec_id, j, cid AS code FROM best WHERE rn = 1),
          qsub AS (SELECT qid, j, qe[(j*8+1):(j*8+8)] AS qv
                   FROM (SELECT vec_id AS qid, unnest(range(0, 8)) AS j, e AS qe
                         FROM v WHERE vec_id < 20)),
          dt AS (SELECT qsub.qid, qsub.j, cvv.cid AS code,
                   CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(generate_series(1, 8),
                       i -> (qsub.qv[i] - cvv.cv[i]) * (qsub.qv[i] - cvv.cv[i]))),
                     (acc, x) -> acc + x) * 1000000) AS BIGINT) AS pd_q6
                 FROM qsub JOIN cvv USING (j)),
          scored AS (SELECT dt.qid, codes.vec_id, CAST(sum(pd_q6) AS BIGINT) AS adc_q6
                     FROM codes JOIN dt USING (j, code)
                     WHERE dt.qid <> codes.vec_id
                     GROUP BY 1, 2),
          ranked AS (SELECT qid, vec_id, adc_q6,
                       row_number() OVER (PARTITION BY qid ORDER BY adc_q6, vec_id) AS rank
                     FROM scored)
          SELECT qid, vec_id, adc_q6, rank FROM ranked WHERE rank <= 5
          ORDER BY qid, rank""",
    "sim_topk_ivfpq" ->
      s"""WITH $pqCtes,
          vn2 AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS n FROM v),
          cent AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn2 WHERE vec_id % 25 = 0),
          assign AS (SELECT vec_id, cid AS cell FROM (
              SELECT vn2.vec_id, c.cid,
                     row_number() OVER (PARTITION BY vn2.vec_id
                       ORDER BY CAST(floor(${dotSql("c.ce", "vn2.e")} / (c.cn * vn2.n) * 10000) AS BIGINT) DESC,
                                c.cid) AS rn
              FROM vn2 CROSS JOIN cent c) WHERE rn = 1),
          qn AS (SELECT vec_id AS qid, e AS qe, n AS qn FROM vn2 WHERE vec_id < 20),
          probes AS (SELECT qid, cid AS cell FROM (
              SELECT q.qid, c.cid,
                     row_number() OVER (PARTITION BY q.qid
                       ORDER BY CAST(floor(${dotSql("c.ce", "q.qe")} / (c.cn * q.qn) * 10000) AS BIGINT) DESC,
                                c.cid) AS rn
              FROM qn q CROSS JOIN cent c) WHERE rn <= 3),
          codes AS (SELECT b.vec_id, b.j, b.cid AS code, a.cell
                    FROM (SELECT vec_id, j, cid FROM best WHERE rn = 1) b
                    JOIN assign a USING (vec_id)),
          qsub AS (SELECT qid, j, qe[(j*8+1):(j*8+8)] AS qv
                   FROM (SELECT qid, unnest(range(0, 8)) AS j, qe FROM qn)),
          dt AS (SELECT qsub.qid, qsub.j, cvv.cid AS code,
                   CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(generate_series(1, 8),
                       i -> (qsub.qv[i] - cvv.cv[i]) * (qsub.qv[i] - cvv.cv[i]))),
                     (acc, x) -> acc + x) * 1000000) AS BIGINT) AS pd_q6
                 FROM qsub JOIN cvv USING (j)),
          scored AS (SELECT dt.qid, codes.vec_id, CAST(sum(pd_q6) AS BIGINT) AS adc_q6
                     FROM codes
                     JOIN probes p ON p.cell = codes.cell
                     JOIN dt ON dt.qid = p.qid AND dt.j = codes.j AND dt.code = codes.code
                     WHERE dt.qid <> codes.vec_id
                     GROUP BY 1, 2),
          ranked AS (SELECT qid, vec_id, adc_q6,
                       row_number() OVER (PARTITION BY qid ORDER BY adc_q6, vec_id) AS rank
                     FROM scored)
          SELECT qid, vec_id, adc_q6, rank FROM ranked WHERE rank <= 5
          ORDER BY qid, rank""",
    "sim_topk_int8" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                    FROM embeddings),
          c AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
          codes AS (SELECT vec_id, scale,
              list_transform(e, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(x / scale * 127) AS BIGINT) END) AS code
            FROM c),
          q AS (SELECT vec_id AS qid,
                  list_transform(e, x -> CAST(floor(x * 10000) AS BIGINT)) AS qq
                FROM v WHERE vec_id < 20),
          scored AS (SELECT q.qid, codes.vec_id,
              CAST(floor(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, len(code)), i -> code[i] * qq[i])),
                (acc, x) -> acc + x) AS DOUBLE) * scale) AS BIGINT) AS score_q
            FROM codes CROSS JOIN q WHERE q.qid <> codes.vec_id),
          ranked AS (SELECT qid, vec_id, score_q,
              row_number() OVER (PARTITION BY qid ORDER BY score_q DESC, vec_id) AS rank
            FROM scored)
          SELECT qid, vec_id, score_q, rank FROM ranked WHERE rank <= 5
          ORDER BY qid, rank""",
    // post-delete index search == the int8 pipeline over the survivors
    // only (codes are per-vector self-contained; queries keep scoring)
    "index_delete_int8" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                    FROM embeddings),
          c AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM v
                WHERE NOT (vec_id % 9 = 7 AND vec_id >= 20)),
          codes AS (SELECT vec_id, scale,
              list_transform(e, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(x / scale * 127) AS BIGINT) END) AS code
            FROM c),
          q AS (SELECT vec_id AS qid,
                  list_transform(e, x -> CAST(floor(x * 10000) AS BIGINT)) AS qq
                FROM v WHERE vec_id < 20),
          scored AS (SELECT q.qid, codes.vec_id,
              CAST(floor(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, len(code)), i -> code[i] * qq[i])),
                (acc, x) -> acc + x) AS DOUBLE) * scale) AS BIGINT) AS score_q
            FROM codes CROSS JOIN q WHERE q.qid <> codes.vec_id),
          ranked AS (SELECT qid, vec_id, score_q,
              row_number() OVER (PARTITION BY qid ORDER BY score_q DESC, vec_id) AS rank
            FROM scored)
          SELECT qid, vec_id, score_q, rank FROM ranked WHERE rank <= 5
          ORDER BY qid, rank""",
    "sim_topk_brute" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                    FROM embeddings),
          q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 20),
          scored AS (
            SELECT qid, vec_id, CAST(floor(
              (list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, len(qe)), i -> qe[i]*e[i])), (acc,x) -> acc+x)
               / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(generate_series(1, len(qe)), i -> qe[i]*qe[i])), (acc,x) -> acc+x))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(generate_series(1, len(e)), i -> e[i]*e[i])), (acc,x) -> acc+x))))
              * 10000) AS BIGINT) AS score_q4
            FROM q JOIN v ON qid <> vec_id)
          SELECT qid, vec_id, score_q4, rank FROM (
            SELECT qid, vec_id, score_q4,
                   CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY score_q4 DESC, vec_id) AS BIGINT) AS rank
            FROM scored)
          WHERE rank <= 5 ORDER BY qid, rank""",
    "knn_label_agreement" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                    FROM embeddings),
          q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 50),
          scored AS (
            SELECT qid, vec_id, CAST(floor(
              (list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, len(qe)), i -> qe[i]*e[i])), (acc,x) -> acc+x)
               / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(generate_series(1, len(qe)), i -> qe[i]*qe[i])), (acc,x) -> acc+x))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(generate_series(1, len(e)), i -> e[i]*e[i])), (acc,x) -> acc+x))))
              * 10000) AS BIGINT) AS score_q4
            FROM q JOIN v ON qid <> vec_id),
          nn AS (SELECT qid, vec_id, rank FROM (
                   SELECT qid, vec_id,
                          CAST(row_number() OVER (PARTITION BY qid
                            ORDER BY score_q4 DESC, vec_id) AS BIGINT) AS rank
                   FROM scored)
                 WHERE rank <= 5),
          votes AS (SELECT nn.qid, CAST(l.label AS BIGINT) AS label,
                      CAST(count(*) AS BIGINT) AS n_votes, min(nn.rank) AS best_rank
                    FROM nn JOIN embeddings l ON l.vec_id = nn.vec_id
                    GROUP BY 1, 2),
          top AS (SELECT qid, label AS knn_label, n_votes,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY n_votes DESC, best_rank ASC, label ASC) AS rn
                  FROM votes)
          SELECT t.qid, CAST(o.label AS BIGINT) AS own_label, t.knn_label, t.n_votes,
                 CAST(CASE WHEN CAST(o.label AS BIGINT) = t.knn_label
                   THEN 1 ELSE 0 END AS BIGINT) AS agree
          FROM top t JOIN embeddings o ON o.vec_id = t.qid
          WHERE t.rn = 1 ORDER BY t.qid""",
    "sim_topk_ivf" -> ivfOracle,
    "sim_topk_ivf_kmeans" -> ivfKmeansOracle,
    // IVF assignment/probe chain (centroidEvery=25, nprobe=3) with probes
    // = the full corpus, feeding the same deterministic label vote as the
    // brute form — replicates Similarity.ivfTopK + knnLabelVote
    // bit-for-bit.
    "knn_label_agreement_ivf" ->
      s"""WITH $vnCtes,
          $ivfNnAllCtes,
          votes AS (SELECT nn.qid, CAST(l.label AS BIGINT) AS label,
                      CAST(count(*) AS BIGINT) AS n_votes, min(nn.rank) AS best_rank
                    FROM nn JOIN embeddings l ON l.vec_id = nn.vec_id
                    GROUP BY 1, 2),
          top AS (SELECT qid, label AS knn_label, n_votes,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY n_votes DESC, best_rank ASC, label ASC) AS rn
                  FROM votes)
          SELECT t.qid, CAST(o.label AS BIGINT) AS own_label, t.knn_label, t.n_votes,
                 CAST(CASE WHEN CAST(o.label AS BIGINT) = t.knn_label
                   THEN 1 ELSE 0 END AS BIGINT) AS agree
          FROM top t JOIN embeddings o ON o.vec_id = t.qid
          WHERE t.rn = 1 ORDER BY t.qid""",
    "text_langid" ->
      s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
          sc AS (SELECT doc_id,
                   len(list_filter(toks, t -> t IN ${stopSql("en")})) AS s_en,
                   len(list_filter(toks, t -> t IN ${stopSql("fr")})) AS s_fr,
                   len(list_filter(toks, t -> t IN ${stopSql("de")})) AS s_de,
                   len(list_filter(toks, t -> t IN ${stopSql("es")})) AS s_es,
                   length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
                   len(toks) AS ntok
                 FROM base)
          SELECT doc_id,
                 CASE WHEN cjk*2 >= ntok AND cjk > 0 THEN 'zh'
                      WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                      WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                      WHEN s_de >= s_es THEN 'de'
                      ELSE 'es' END AS lang_pred
          FROM sc ORDER BY doc_id""",
    "lang_confusion" ->
      s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
          sc AS (SELECT doc_id,
                   len(list_filter(toks, t -> t IN ${stopSql("en")})) AS s_en,
                   len(list_filter(toks, t -> t IN ${stopSql("fr")})) AS s_fr,
                   len(list_filter(toks, t -> t IN ${stopSql("de")})) AS s_de,
                   len(list_filter(toks, t -> t IN ${stopSql("es")})) AS s_es,
                   length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
                   len(toks) AS ntok
                 FROM base),
          pred AS (SELECT doc_id,
                     CASE WHEN cjk*2 >= ntok AND cjk > 0 THEN 'zh'
                          WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                          WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                          WHEN s_de >= s_es THEN 'de'
                          ELSE 'es' END AS predicted
                   FROM sc),
          c AS (SELECT d.lang AS declared, p.predicted,
                       CAST(count(*) AS BIGINT) AS n
                FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2)
          SELECT declared, predicted, n,
                 CAST((n * 1000) // sum(n) OVER (PARTITION BY declared) AS BIGINT)
                   AS permille
          FROM c ORDER BY declared, predicted""",
    "text_quality" ->
      s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
          m AS (SELECT doc_id, len(toks) AS ntok, length(text) AS nchars,
                  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct,
                  len(list_filter(toks, t -> t IN ${stopSql("en")})) AS stops
                FROM base),
          sc AS (SELECT doc_id,
                   least(CAST(ntok AS DOUBLE), 256.0) / 256.0 AS len_score,
                   least(CAST(stops AS DOUBLE) * 4.0 / greatest(CAST(ntok AS DOUBLE), 1.0), 1.0) AS stop_score,
                   1.0 - least(CAST(punct AS DOUBLE) / greatest(CAST(nchars AS DOUBLE), 1.0) * 4.0, 1.0) AS punct_score
                 FROM m)
          SELECT doc_id,
                 CAST(floor((len_score * 0.4 + stop_score * 0.4 + punct_score * 0.2) * 1000) AS BIGINT)
                   AS quality_milli
          FROM sc ORDER BY doc_id""",
    "text_tokens" ->
      s"""SELECT doc_id,
                 CAST(len($toksSql) AS BIGINT) AS n_tokens,
                 CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe
          FROM documents ORDER BY doc_id""",
    "text_fingerprint" ->
      s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, t -> CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT))),
                   (acc, h) -> (acc * 31 + h) % 281474976710656) AS rolling_fp48
          FROM base ORDER BY doc_id""",
    "chunk_documents" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
          k AS (SELECT doc_id, toks, n,
                       unnest(range(0, ((n - 1) // 8) + 1)) AS k FROM n)
          SELECT doc_id, k AS chunk_idx, k * 8 + 1 AS chunk_start,
                 len(toks[(k * 8 + 1):least(k * 8 + 32, n)]) AS chunk_tokens,
                 CAST(('0x' || substr(md5(array_to_string(
                   toks[(k * 8 + 1):least(k * 8 + 32, n)], ' ')), 1, 12)) AS BIGINT)
                   AS chunk_fp48
          FROM k ORDER BY doc_id, chunk_idx""",
    "doc_length_histogram" ->
      s"""WITH t AS (SELECT len($toksSql) AS n FROM documents)
          SELECT least(n // 10, 9) AS bucket, count(*) AS docs,
                 CAST(sum(n) AS BIGINT) AS tokens
          FROM t GROUP BY 1 ORDER BY bucket""",
    "embedding_rp" -> {
      val comps = (0 until 8).map { j =>
        s"""CAST(sum(CAST(floor(v * 10000) AS BIGINT) *
           |  (CASE WHEN (CAST(('0x' || substr(md5('$j:' || CAST(i AS VARCHAR)), 1, 12))
           |    AS BIGINT) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) AS c$j""".stripMargin
      }.mkString(",\n")
      s"""WITH f AS (SELECT vec_id,
                       unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
                       unnest(range(0, len(embedding))) AS i
                     FROM embeddings)
          SELECT vec_id,
          $comps
          FROM f GROUP BY vec_id ORDER BY vec_id"""
    },
    "knn_density" ->
      s"""WITH $vnCtes,
          $ivfNnAllCtes
          SELECT qid, count(*) AS k_found,
                 CAST(sum(score_q4) // count(*) AS BIGINT) AS mean_score_q4,
                 max(score_q4) AS top_score_q4
          FROM nn GROUP BY qid ORDER BY qid""",
    "graph_communities" -> communitiesOracle,
    // the incremental form must land on the IDENTICAL cold full-graph
    // labels — same oracle text by construction (the IVM proof: an
    // independent engine recomputes cold, the Spark side refreshes)
    "graph_communities_incremental" -> communitiesOracle,
    "mutual_knn_pairs" ->
      s"""WITH $vnCtes,
          $ivfNnAllCtes
          SELECT n1.qid AS a, n1.vec_id AS b, n1.rank AS rank,
                 n2.rank AS rank_back
          FROM nn n1 JOIN nn n2
            ON n2.qid = n1.vec_id AND n2.vec_id = n1.qid
          WHERE n1.qid < n1.vec_id ORDER BY a, b""",
    "snapshot_diff" ->
      """WITH a AS (SELECT doc_id, source, md5(text) AS dg
                    FROM documents WHERE doc_id % 20 <> 0),
          b AS (SELECT doc_id, source,
                       md5(CASE WHEN doc_id % 13 = 0 THEN upper(text)
                                ELSE text END) AS dg
                FROM documents WHERE doc_id % 17 <> 0),
          j AS (SELECT coalesce(b.source, a.source) AS source,
                       CASE WHEN a.doc_id IS NULL THEN 'added'
                            WHEN b.doc_id IS NULL THEN 'removed'
                            WHEN a.dg <> b.dg THEN 'changed'
                            ELSE 'unchanged' END AS status
                FROM a FULL OUTER JOIN b USING (doc_id))
         SELECT source, status, count(*) AS n_docs
         FROM j GROUP BY 1, 2 ORDER BY source, status""",
    "label_propagation" ->
      s"""WITH $vnCtes,
          $ivfNnAllCtes,
          lab0 AS (SELECT vec_id AS node, CAST(label AS BIGINT) AS label,
                          CAST(0 AS BIGINT) AS hops
                   FROM embeddings WHERE vec_id % 5 = 0),
          ${lpRoundSql(0, 1)},
          ${lpRoundSql(1, 2)}
          SELECT node, label, hops FROM lab2 ORDER BY node""",
    "embedding_drift" ->
      """WITH f AS (SELECT vec_id % 2 = 0 AS is_ref,
                      unnest(range(0, len(embedding))) AS dim,
                      unnest(list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS q
                    FROM embeddings)
         SELECT CAST(dim AS INT) AS dim,
                count(*) FILTER (is_ref) AS n_ref,
                count(*) FILTER (NOT is_ref) AS n_cand,
                CAST(sum(q) FILTER (is_ref) // count(*) FILTER (is_ref) AS BIGINT) AS ref_mean_q6,
                CAST(sum(q) FILTER (NOT is_ref) // count(*) FILTER (NOT is_ref) AS BIGINT) AS cand_mean_q6,
                CAST(sum(q) FILTER (NOT is_ref) // count(*) FILTER (NOT is_ref)
                  - sum(q) FILTER (is_ref) // count(*) FILTER (is_ref) AS BIGINT) AS delta_q6
         FROM f GROUP BY dim ORDER BY dim""",
    // frozen-vs-fresh IVF retrieval + drift summary, one row: truth =
    // exact brute top-5 of the 20 appended-slice sample queries; frozen
    // centroids exclude the appended slice; recall in floor-divided
    // milli-units — replicates Similarity.indexStalenessReport exactly
    "index_staleness_report" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                     FROM embeddings),
          vn AS (SELECT vec_id, e, sqrt(${"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len(e)), i -> e[i]*e[i])), (acc,x) -> acc+x)"}) AS n FROM v),
          fcent AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn
                    WHERE vec_id % 25 = 0 AND vec_id % 3 <> 0),
          rcent AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn
                    WHERE vec_id % 25 = 0),
          q AS (SELECT vec_id AS qid, e AS qe, n AS qn FROM vn
                WHERE vec_id % 3 = 0 AND vec_id < 60),
          truth AS (
            SELECT qid, vec_id FROM (
              SELECT q.qid, vn.vec_id,
                     row_number() OVER (PARTITION BY q.qid
                       ORDER BY CAST(floor(${dotSql("q.qe", "vn.e")} / (q.qn * vn.n) * 10000) AS BIGINT) DESC,
                                vn.vec_id) AS rank
              FROM q JOIN vn ON q.qid <> vn.vec_id)
            WHERE rank <= 5),
          ${ivfHitsCtes("f", "fcent")},
          ${ivfHitsCtes("r", "rcent")},
          driftsrc AS (SELECT vec_id % 3 <> 0 AS is_ref,
                         unnest(range(0, len(embedding))) AS dim,
                         unnest(list_transform(embedding,
                           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS qv
                       FROM embeddings),
          driftdim AS (SELECT dim,
                         count(*) FILTER (is_ref) AS n_ref,
                         count(*) FILTER (NOT is_ref) AS n_cand,
                         CAST(sum(qv) FILTER (NOT is_ref) // count(*) FILTER (NOT is_ref)
                           - sum(qv) FILTER (is_ref) // count(*) FILTER (is_ref) AS BIGINT) AS delta_q6
                       FROM driftsrc GROUP BY dim),
          driftagg AS (SELECT CAST(max(n_ref) AS BIGINT) AS n_frozen,
                         CAST(max(n_cand) AS BIGINT) AS n_appended,
                         CAST(max(abs(delta_q6)) AS BIGINT) AS max_abs_drift_q6,
                         CAST(sum(abs(delta_q6)) // count(*) AS BIGINT) AS mean_abs_drift_q6
                       FROM driftdim),
          cnts AS (SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_queries,
              (SELECT CAST(count(*) AS BIGINT) FROM truth) AS truth_pairs,
              (SELECT CAST(count(*) AS BIGINT) FROM truth t
                 JOIN fhits h USING (qid, vec_id)) AS frozen_hits,
              (SELECT CAST(count(*) AS BIGINT) FROM truth t
                 JOIN rhits h USING (qid, vec_id)) AS fresh_hits)
          SELECT d.n_frozen, d.n_appended, c.n_queries,
                 d.max_abs_drift_q6, d.mean_abs_drift_q6,
                 c.truth_pairs, c.frozen_hits, c.fresh_hits,
                 CAST(c.frozen_hits * 1000 // c.truth_pairs AS BIGINT) AS recall_frozen_q3,
                 CAST(c.fresh_hits * 1000 // c.truth_pairs AS BIGINT) AS recall_fresh_q3,
                 CAST(c.fresh_hits * 1000 // c.truth_pairs
                   - c.frozen_hits * 1000 // c.truth_pairs AS BIGINT) AS recall_gap_q3
          FROM driftagg d CROSS JOIN cnts c""",
    "multimodal_decode" ->
      """SELECT doc_id AS media_id,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                     ELSE 'video' END AS modality,
                CAST(64 + (h % 448) AS BIGINT) AS width,
                CAST(64 + (CAST(floor(h / 448) AS BIGINT) % 448) AS BIGINT) AS height,
                CAST(1 + (h % 16) AS BIGINT) AS n_frames,
                CAST(strlen(text) AS BIGINT) AS payload_bytes
         FROM (SELECT doc_id, text,
                 CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) AS h
               FROM documents)
         ORDER BY media_id""",
    "multimodal_frames" ->
      """WITH m AS (
           SELECT doc_id AS media_id,
                  CAST(1 + (CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) % 16) AS BIGINT)
                    AS n_frames
           FROM documents WHERE CAST(doc_id % 3 AS INT) = 2)
         SELECT media_id, n_frames,
                CAST(unnest(generate_series(0, n_frames - 1, 4)) AS BIGINT) AS frame_idx
         FROM m ORDER BY media_id, frame_idx""",
    "multimodal_resize" ->
      """WITH d AS (
           SELECT doc_id AS media_id,
                  CAST(64 + (h % 448) AS BIGINT) AS width,
                  CAST(64 + (CAST(floor(h / 448) AS BIGINT) % 448) AS BIGINT) AS height
           FROM (SELECT doc_id, CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) AS h
                 FROM documents)),
         s AS (SELECT *, least(256, greatest(width, height)) AS sn,
                      greatest(width, height) AS sd FROM d)
         SELECT media_id, width, height,
                CAST(floor(width * sn / sd) AS BIGINT) AS out_width,
                CAST(floor(height * sn / sd) AS BIGINT) AS out_height
         FROM s ORDER BY media_id""")
}
