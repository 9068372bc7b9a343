package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CoreOps
import graft.sources.Tables
import graft.functions.Checkpoints.Owned

/** Driver contract (see SURVEY.md §7 and the build plan).
  *
  * Every entry in [[queries]] is a batch formulation of one operator from
  * SURVEY.md §2 (or a beyond-reference LLM-pipeline operator), expressed
  * through the `graft.operators` / `graft.functions` library, with a
  * DuckDB-equivalent SQL oracle in [[oracleSql]] — except the two sketch
  * twins (`percentiles_by_type_approx`, `daily_active_users_approx`),
  * which are rows-only at the gate and accuracy-gated by `ApproxSpec`
  * (the allowlist lives in `PlanSpec`'s contract test).
  *
  * Output conventions (engine-parity rules):
  *  - timestamps leave the plan as epoch micros/seconds BIGINT,
  *  - double aggregates are quantized (`floor(x*10^k)` BIGINT) before
  *    summing so results are bit-exact and order-independent,
  *  - every query ends in a deterministic ORDER BY (full key, ties broken).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("tpch_q3_top_orders")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = coreQueries ++
    analyticsQueries ++ graphFamilyOneShot ++ graft.functions.LlmQueries.queries

  def oracleSql: Map[String, String] = coreOracles ++
    analyticsOracles ++ graft.functions.LlmQueries.oracles

  /** The three co-purchase edge frames every graph-family query derives
    * from lineitem — one logical build, three shapes (directed-symmetric,
    * co-occurrence-weighted, degree-ordered half edges). Frames are lazy
    * plans; a consumer pays only for the shape(s) it reads.
    */
  final case class CopurchaseFrames(
      edges: DataFrame, weighted: DataFrame, half: DataFrame)

  def copurchaseFrames(s: SparkSession, d: String): CopurchaseFrames = {
    // filled read (per-query opt-in, Tables.tableFilled scaladoc): the
    // basket self-join's distinct pre-pass is compute-dense behind a
    // single-task scan; the scan-light tpch rows keep the plain read
    // (fill measured 2-3x on them)
    val li = Tables.tableFilled(s, d, "lineitem", "l_orderkey")
    CopurchaseFrames(
      edges = graft.functions.Graph.copurchaseEdges(li),
      weighted = graft.functions.Graph.copurchaseEdgesWeighted(li),
      half = graft.functions.Graph.copurchaseHalfEdges(li))
  }

  /** 1/40-seed set for the walk-corpus queries. */
  private def walkSeeds(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).distinct()
      .filter(pmod(col("node"), lit(40)) === 0)

  /** The co-purchase graph family over PRE-BUILT edge frames — the
    * amortized form (r12 verdict directive 2): `Bench` builds the edge
    * tables ONCE per run (timed, attributed in the artifact's
    * `family_build` block) and times each operator row off the stored
    * tables, instead of every row re-deriving the identical edge list
    * from lineitem (~12 rebuilds per bench run, growing each round).
    * The [[queries]] gate forms delegate here with a self-contained
    * [[copurchaseFrames]] build, so Verify's oracle isolation — every
    * gate query a closed expression over the raw tables — is unchanged,
    * and the two forms cannot drift (one body).
    */
  val graphFamilyQueries: Map[String, CopurchaseFrames => DataFrame] = Map(
    // Iterative graph computation: 5 synchronous PageRank rounds over
    // the symmetric part co-purchase graph, integer fixed-point so the
    // unrolled-CTE oracle matches every iterate bit-for-bit.
    "graph_pagerank" -> { f =>
      graft.functions.Graph.pageRank(f.edges, "src", "dst", iterations = 5)
        .orderBy("node")
    },
    // Weighted PageRank over the same graph with co-occurrence weights
    // (w = orders containing both parts): per-edge contribution
    // (r * w) div W(u), the multiplicity the unweighted build discards.
    "graph_pagerank_weighted" -> { f =>
      graft.functions.Graph.pageRankWeighted(
        f.weighted, "src", "dst", "w", iterations = 5)
        .orderBy("node")
    },
    // Personalized PageRank from a 5-part seed set: proximity-to-seeds
    // ranking, the "related items" recommendation primitive.
    "graph_ppr" -> { f =>
      graft.functions.Graph.personalizedPageRank(
        f.edges, "src", "dst", seeds = Seq(1L, 2L, 3L, 4L, 5L), iterations = 4)
        .orderBy("node")
    },
    // Per-node triangle counts via degree-ordered orientation — the
    // bounded-fan-out shape that survives power-law hubs. r11: the
    // adjacency-intersection plan (Graph.triangleCountsAdj) — a stage
    // split showed the wedge JOIN was 73-92% of wall, and replacing it with
    // explode(array_intersect) over sqrt(E)-bounded adjacency arrays cut
    // the query 55% (8.55 -> 3.81 s at sf0.1), hash unchanged.
    "graph_triangles" -> { f =>
      graft.functions.Graph.triangleCountsAdj(f.half).orderBy("node")
    },
    // Exact incremental triangle maintenance (r14): per-node count of
    // triangles touching a 10%-of-edges delta (hash-split), the
    // delta-sized update `counts(G) = counts(G \ D) + this` — cost
    // |D| x degree, never |G|. The inclusion-exclusion (T1 - T2 + T3)
    // is replayed verbatim by the DuckDB oracle.
    "graph_triangles_delta" -> { f =>
      val half = f.half.select(col("src"), col("dst"))
      val delta = half.filter(pmod(col("src") * 31 + col("dst"), lit(10)) === 0)
      // 10% of edges ~ 5.7x |V| delta: far past the |D| > |V|/2 crossover,
      // so T1 runs the adjacency-intersect arm (same rows, same oracle)
      graft.functions.Graph.triangleCountDelta(half, delta,
        t1ViaAdjacency = true).orderBy("node")
    },
    // The r15 partitioned-state MAINTAINER driven end-to-end at the gate
    // (the strongest IVM pattern: maintained state must land on the
    // PLAIN cold-recompute oracle over the SURVIVING edges, computed by
    // an independent engine): three hash-split insert micro-batches plus
    // a delete batch delivered REVERSED (the canonicalization contract)
    // fold through maintainTriangleCounts' count-table state + edge log;
    // the pk % 10 == 0 node restriction keeps every batch micro-sized
    // (the maintainer's T2/T3 terms are delta self-joins — the scaladoc
    // seeding rule: corpus-wide batches belong to triangleCountsAdj +
    // a direct count merge, not the ingest path).
    "graph_triangles_maintained" -> { f =>
      val half = f.half
        .filter(pmod(col("src"), lit(10)) === 0 &&
          pmod(col("dst"), lit(10)) === 0)
        .select(col("src"), col("dst"))
        .checkpointed() // consumed by 3 insert batches + the delete
      val s = half.sparkSession
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft-tri-gate").toString
      // the returned frame reads the state lazily, so the dir must
      // outlive the query — reap it at JVM exit instead of leaking it
      // across bench iterations
      org.apache.commons.io.FileUtils
        .forceDeleteOnExit(new java.io.File(stateDir))
      val b = pmod(col("src") * 7 + col("dst"), lit(3))
      for (i <- 0 to 2)
        graft.functions.Graph.maintainTriangleCounts(s, stateDir,
          half.filter(b === lit(i)), batchId = i.toLong, partitions = 16)
      val del = half
        .filter(pmod(col("src") * 11 + col("dst"), lit(7)) === 0)
        .select(col("dst").as("src"), col("src").as("dst")) // reversed
      graft.functions.Graph.maintainTriangleCounts(s, stateDir, del,
        batchId = 3L, partitions = 16, sign = -1L)
      val out = graft.functions.Graph.readTriangleCounts(s, stateDir)
      require(out.isDefined,
        s"graph_triangles_maintained: maintained state at $stateDir is " +
          "empty — the pk % 10 restricted subgraph has no surviving " +
          "triangles at this scale factor")
      out.get.orderBy("node")
    },
    // The RETRACTION direction proven at the gate: full counts minus the
    // delta's triangle contribution must equal the base graph's counts —
    // the oracle recomputes the base cold, so the hash certifies
    // applyTriangleDelta(sign = -1) end-to-end, not just in-spec.
    "graph_triangles_retract" -> { f =>
      val half = f.half.select(col("src"), col("dst"))
      val isDelta = pmod(col("src") * 31 + col("dst"), lit(10)) === 0
      val fullCounts = graft.functions.Graph.triangleCountsAdj(half)
      // same 10%-of-edges delta as graph_triangles_delta: past the
      // |D| > |V|/2 crossover, T1 takes the adjacency-intersect arm
      val d = graft.functions.Graph.triangleCountDelta(half, half.filter(isDelta),
        t1ViaAdjacency = true)
      graft.functions.Graph.applyTriangleDelta(fullCounts, d, sign = -1L)
        .orderBy("node")
    },
    // k-core: the "dense engagement core" of the co-purchase graph —
    // synchronous peeling over the half-edge form (5 rounds ≥ fixpoint
    // depth at every test SF: 3 at sf0.001, 5 at sf0.01, 5 at sf0.1 —
    // GraphOpsSpec pins the fixpoint property), survivors reported with
    // their in-core degree. k=80 bites at this graph's density (median
    // degree ~115): sf0.01 peels 1903 → 1857.
    "graph_kcore" -> { f =>
      graft.functions.Graph.kCoreHalf(f.half, k = 80, rounds = 5)
        .orderBy("node")
    },
    // Incremental connected components (r14): strong-tie (w >= 2)
    // co-purchase components refreshed from a 20%-edge delta via
    // Curation.refreshClusters — cost = new pairs + affected clusters'
    // members, never the graph — landing on the PLAIN cold-CC oracle
    // hash. Pure COMPOSITION: the dedup family's incremental cluster
    // machinery serving the graph family unchanged.
    "graph_cc_incremental" -> { f =>
      val strong = f.weighted
        .filter(col("src") < col("dst") && col("w") >= 2)
        .select(col("src"), col("dst"))
      val isDelta = pmod(col("src") * 19 + col("dst"), lit(5)) === 0
      val old = graft.functions.Curation.connectedComponents(
        strong.filter(!isDelta), "src", "dst")
      graft.functions.Curation.refreshClusters(
        old, strong.filter(isDelta), "src", "dst")
        .orderBy("node")
    },
    // Incremental k-core (r14): the converged core of an 80%-edge base
    // refreshed through kCoreDelta's non-core-only peel (old members
    // are immortal under insertions) — must land on the PLAIN cold-peel
    // oracle hash, the graph_hops_incremental proof pattern. The base
    // peel gets a deeper round budget (8): fewer edges peel deeper, and
    // kCoreDelta's contract needs a CONVERGED old core.
    "graph_kcore_incremental" -> { f =>
      val half = f.half.select(col("src"), col("dst"))
      val isDelta = pmod(col("src") * 23 + col("dst"), lit(5)) === 0
      val old = graft.functions.Graph.kCoreHalf(
        half.filter(!isDelta), k = 80, rounds = 8)
      graft.functions.Graph.kCoreDelta(half, old, k = 80)
        .orderBy("node")
    },
    // Link prediction: top 100 non-adjacent part pairs by integer
    // Adamic–Adar mass through bounded-degree common neighbors — the
    // "customers who bought these also bought" candidate generator.
    "link_prediction" -> { f =>
      graft.functions.Graph.commonNeighborLinks(
        f.edges, "src", "dst", degCap = 64, topK = 100)
    },
    // Multi-source BFS: hop distance (<= 3) from a 5-part watchlist over
    // the co-purchase graph — frontier-only expansion per round.
    "graph_hops" -> { f =>
      graft.functions.Graph.bfsHops(
        f.edges, "src", "dst", seeds = Seq(1L, 2L, 3L, 4L, 5L), maxHops = 3)
        .orderBy("node")
    },
    // Incremental BFS (r14): the hop table refreshed from a
    // 20%-of-edges hash-split delta via bfsHopsDelta — improvements
    // relax outward from the inserted edges, the seeds are never
    // re-expanded — and must land on the PLAIN cold-recompute oracle
    // hash (the join_agg_incremental proof pattern, for graph IVM).
    "graph_hops_incremental" -> { f =>
      val e = f.edges.select(col("src"), col("dst"))
      val isDelta = pmod(col("src") * 17 + col("dst"), lit(5)) === 0
      val seeds = Seq(1L, 2L, 3L, 4L, 5L)
      val old = graft.functions.Graph.bfsHops(
        e.filter(!isDelta), "src", "dst", seeds, maxHops = 3)
      graft.functions.Graph.bfsHopsDelta(
        e, "src", "dst", old, e.filter(isDelta), maxHops = 3)
        .orderBy("node")
    },
    // HITS hubs/authorities: 3 integer rounds, max-rescaled each half-step
    // (the deterministic stand-in for L2 normalization) — eigenvector-
    // style centrality without PageRank's teleport, bit-exact vs the
    // unrolled oracle.
    "graph_hits" -> { f =>
      graft.functions.Graph.hits(f.edges, "src", "dst", iterations = 3)
        .orderBy("node")
    },
    // Deterministic random walks (the DeepWalk corpus step): one
    // 4-step walk per seed part, next hop = salted-md5 argmin over
    // out-neighbors — RNG-free, reproducible, SQL-twinnable.
    "graph_walks" -> { f =>
      graft.functions.Graph.deterministicWalks(
        f.edges, "src", "dst", walkSeeds(f.edges), steps = 4)
        .orderBy("wid", "step")
    },
    // Second-order biased walks (node2vec p/q sampling, RNG-free):
    // backtrack discouraged (ret 100), distance-1 neutral (1000),
    // exploration favored (out 2500) — the integer Efraimidis-Spirakis
    // race over the same salted hash, bit-reproducible vs the unrolled
    // oracle. Per step: one edge-vs-frontier join + one candidate-vs-
    // adjacency join on the previous node.
    "graph_walks_biased" -> { f =>
      graft.functions.Graph.node2vecWalks(
        f.edges, "src", "dst", walkSeeds(f.edges), steps = 4,
        retPermille = 100, inPermille = 1000, outPermille = 2500)
        .orderBy("wid", "step")
    },
    // Walk-corpus generation (the DeepWalk skip-gram step): window-2
    // co-occurrence pairs over the deterministic walks — the SGNS
    // training pairs the walks exist to produce. One walk-frame
    // self-join; pair volume is walks x steps x 2w, independent of |E|.
    "graph_walk_pairs" -> { f =>
      graft.functions.Graph.skipGramPairs(
        graft.functions.Graph.deterministicWalks(
          f.edges, "src", "dst", walkSeeds(f.edges), steps = 4),
        window = 2)
        .orderBy("center", "context")
    },
    // SGNS negative-sampling corpus (completes the embedding-training
    // product): 3 deterministic md5 draws per skip-gram pair from the
    // unigram^(3/4) noise distribution (Mikolov et al. 2013), the 3/4
    // power integer-exact through Q10 log space and the interval lookup
    // a bucketed EQUI-join — bit-reproducible vs the range-join oracle.
    "graph_walk_negatives" -> { f =>
      graft.functions.Graph.sgnsNegatives(
        graft.functions.Graph.deterministicWalks(
          f.edges, "src", "dst", walkSeeds(f.edges), steps = 4),
        window = 2, negatives = 3)
        .orderBy("center", "context", "neg_rank")
    })

  /** The self-contained gate forms of the graph family: one body
    * ([[graphFamilyQueries]]) applied to a per-query [[copurchaseFrames]]
    * build — what Verify runs (oracle isolation: the build is part of
    * the query) and what `Probe time` times.
    */
  private val graphFamilyOneShot: Map[String, (SparkSession, String) => DataFrame] =
    graphFamilyQueries.map { case (name, fn) =>
      name -> ((s: SparkSession, d: String) => fn(copurchaseFrames(s, d)))
    }

  /** Shared input/aggregation of the two funnel query forms: clicks and
    * purchases as (user_id, event_type, ts_us, event_id); per-user click
    * count, conversions (next purchase strictly later and within 1 h),
    * and the milli-rate.
    */
  private def funnelInput(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))

  /** One oracle for both funnel plans (direct and chunked — same answer
    * by construction).
    */
  private val funnelOracleSql: String =
    """WITH ev AS (
         SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
         FROM events WHERE event_type IN ('click', 'purchase')),
       t AS (
         SELECT *, min(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER (
                  PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_purchase_us
         FROM ev),
       c AS (
         SELECT user_id,
                CASE WHEN next_purchase_us > ts_us
                      AND next_purchase_us <= ts_us + 3600000000 THEN 1 ELSE 0 END AS conv
         FROM t WHERE event_type = 'click')
       SELECT user_id, count(*) AS n_clicks, CAST(sum(conv) AS BIGINT) AS n_converted,
              CAST(floor(sum(conv) * 1000.0 / count(*)) AS BIGINT) AS conv_milli
       FROM c GROUP BY 1 ORDER BY user_id"""

  private def funnelAgg(clicks: DataFrame): DataFrame =
    clicks
      .withColumn("conv",
        when(col("next_purchase_us") > col("ts_us") &&
          col("next_purchase_us") <= col("ts_us") + lit(3600000000L), 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_clicks"), sum(col("conv")).as("n_converted"))
      .withColumn("conv_milli",
        floor(col("n_converted") * lit(1000.0) / col("n_clicks")).cast("long"))
      .orderBy("user_id")

  // =====================================================================
  // Core operator queries (SURVEY §2) over the `events` table.
  // =====================================================================

  /** Shared input shape for the two J3 as-of forms: clicks vs purchases,
    * the purchase side reduced to one row per (user, ts) so the as-of
    * winner is unique on both engines.
    */
  private def asofSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ts"), col("user_id"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("purchase_id"))
    (clicks, purchases)
  }

  private val asofOracleSql: String =
    """WITH c AS (SELECT epoch_us(ts) AS ts_us, user_id, event_id AS click_id
                  FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, epoch_us(ts) AS ts_us,
                         max(event_id) AS purchase_id
                  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
       SELECT c.user_id, click_id, c.ts_us AS click_ts_us,
              p.purchase_id AS last_purchase_id,
              p.ts_us AS last_purchase_ts_us
       FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
       ORDER BY 1, 2"""

  private val sessionsOracleSql: String =
    """WITH o AS (
           SELECT user_id, ts, event_id, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 14400000000
                       THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM o)
         SELECT user_id,
                min(epoch_us(ts)) AS session_start_us,
                max(epoch_us(ts)) + 14400000000 AS session_end_us,
                count(*) AS n,
                CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS sum_value_milli
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start_us"""

  private val rollingOracleSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
              count(*) OVER w AS n_range,
              CAST(sum(CAST(floor(value*1000) AS BIGINT)) OVER w AS BIGINT)
                AS sum_milli_range
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
       ORDER BY event_id"""

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: unkeyed tumbling-window count (5 s).
    "a1_tumbling_count" -> { (s, d) =>
      CoreOps.tumblingCountAll(Tables.events(s, d), "ts", "5 seconds")
        .orderBy("window_start")
    },
    // A2: keyed running totals (converged value of the running reduce).
    "a2_keyed_running_total" -> { (s, d) =>
      CoreOps.keyedRunningTotal(Tables.events(s, d), "user_id", "value")
        .orderBy("user_id")
    },
    // A3: sliding all-window (10 s / 5 s) count+min+max.
    "a3_sliding_summary" -> { (s, d) =>
      CoreOps.slidingSummaryAll(Tables.events(s, d), "ts", "10 seconds", "5 seconds")
        .orderBy("window_start")
    },
    // A4: per-user session windows, 4 h gap.
    "a4_session_windows" -> { (s, d) =>
      CoreOps.sessionSummary(Tables.events(s, d), "user_id", "ts", "4 hours", "value")
        .orderBy("user_id", "session_start_us")
    },
    // A4, skew-safe form: time-chunked sessionize + boundary merge — same
    // output (and same oracle) as a4_session_windows, but no reducer ever
    // sees more than one day-bucket of one key. Skew win measured by the
    // bench's skew_sessions_direct/chunked pair.
    "a4_sessions_chunked" -> { (s, d) =>
      CoreOps.sessionSummaryChunked(Tables.events(s, d), "user_id", "ts",
        gapUs = 14400000000L, bucketUs = 86400000000L, "value")
        .orderBy("user_id", "session_start_us")
    },
    // A4 auto twin: the skew-routed dispatcher (CoreOps.sessionSummaryAuto)
    // measures top-key share itself and picks direct vs chunked — same
    // oracle, so a routing flip can never change rows. Near-uniform user
    // keys exercise the direct arm here; InvariantSpec pins the hot-key arm.
    "a4_sessions_auto" -> { (s, d) =>
      CoreOps.sessionSummaryAuto(Tables.events(s, d), "user_id", "ts",
        gapUs = 14400000000L, bucketUs = 86400000000L, "value")
        .orderBy("user_id", "session_start_us")
    },
    // A5: count per (user, event_type) per tumbling day.
    "a5_keyed_window_count" -> { (s, d) =>
      CoreOps.keyedTumblingCount(Tables.events(s, d), "ts", "1 day", "user_id", "event_type")
        .orderBy("window_start", "user_id", "event_type")
    },
    // A6: event-time tumbling count at 1 minute.
    "a6_eventtime_count" -> { (s, d) =>
      CoreOps.eventTimeCount(Tables.events(s, d), "ts", "1 minute")
        .orderBy("window_start")
    },
    // X1 main branch: purchases with full payload.
    "x1_split_main" -> { (s, d) =>
      val (main, _) = CoreOps.splitByPredicate(
        Tables.events(s, d), col("event_type") === "purchase")
      main.select(
        col("event_id"), col("user_id"),
        CoreOps.scaledMilli(col("value")).as("value_milli"),
        unix_micros(col("ts")).as("ts_us"))
        .orderBy("event_id")
    },
    // X1 side branch: everything else projected to (user, 1).
    "x1_split_side" -> { (s, d) =>
      val (_, side) = CoreOps.splitByPredicate(
        Tables.events(s, d), col("event_type") === "purchase")
      side.select(col("event_id"), col("user_id"), lit(1).as("one"))
        .orderBy("event_id")
    },
    // X2: tagged union of two per-type substreams.
    "x2_tagged_union" -> { (s, d) =>
      val ev = Tables.events(s, d)
      CoreOps.taggedUnion(Seq(
        "purchases" -> ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id")),
        "errors" -> ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"))))
        .orderBy("event_id")
    },
    // J1: tumbling-window equi-join, clicks x purchases per user per day.
    "j1_windowed_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("ts"), col("user_id"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("ts"), col("user_id"), col("event_id").as("purchase_id"))
      CoreOps.windowedEquiJoin(clicks, purchases, "user_id", "ts", "1 day")
        .select(col("w"), col("user_id"), col("click_id"), col("purchase_id"))
        .orderBy("w", "user_id", "click_id", "purchase_id")
    },
    // J2: keyed interval join — purchases within [click - 2h, click + 24h]
    // per user (asymmetric bounds to pin the lower/upper orientation).
    // Batch form is the bucketed-explode equi-join; the streaming twin
    // (StreamOps.streamStreamIntervalJoin) is Spark's native watermarked
    // interval join, convergence-proven in ConvergenceSpec.
    "j2_interval_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("ts"), col("user_id"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("ts"), col("user_id"), col("event_id").as("purchase_id"))
      CoreOps.intervalJoin(clicks, purchases, "user_id", "ts",
        lowerUs = 7200000000L, upperUs = 86400000000L)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("ts")).as("click_ts_us"),
          unix_micros(col("ts_r")).as("purchase_ts_us"))
        .orderBy("user_id", "click_id", "purchase_id")
    },
    // J3: as-of join — each click paired with the user's most recent
    // purchase at-or-before it (the point-in-time lookup). The purchase
    // side is pre-aggregated to one row per (user, ts) so the as-of winner
    // is unique — DuckDB's ASOF JOIN leaves right-side ties unspecified,
    // and a deterministic gate needs none. Chunked twin = same answer
    // through the hot-key-immune two-pass plan.
    "j3_asof_join" -> { (s, d) =>
      val (clicks, purchases) = SparkEntry.asofSides(s, d)
      CoreOps.asofJoin(clicks, purchases, "user_id", "ts")
        .select(col("user_id"), col("click_id"),
          unix_micros(col("ts")).as("click_ts_us"),
          col("purchase_id").as("last_purchase_id"),
          unix_micros(col("ts_r")).as("last_purchase_ts_us"))
        .orderBy("user_id", "click_id")
    },
    "j3_asof_chunked" -> { (s, d) =>
      val (clicks, purchases) = SparkEntry.asofSides(s, d)
      CoreOps.asofJoinChunked(clicks, purchases, "user_id", "ts",
        bucketUs = 21600000000L)
        .select(col("user_id"), col("click_id"),
          unix_micros(col("ts")).as("click_ts_us"),
          col("purchase_id").as("last_purchase_id"),
          unix_micros(col("ts_r")).as("last_purchase_ts_us"))
        .orderBy("user_id", "click_id")
    },
    // J3 auto twin: the skew-routed dispatcher (CoreOps.asofJoinAuto)
    // measures the top-key share and picks direct vs chunked itself —
    // same oracle, so the gate proves a routing flip can never change
    // rows. On the events corpus user keys are near-uniform, so this
    // exercises the direct arm; InvariantSpec covers the hot-key arm.
    "j3_asof_auto" -> { (s, d) =>
      val (clicks, purchases) = SparkEntry.asofSides(s, d)
      CoreOps.asofJoinAuto(clicks, purchases, "user_id", "ts",
        bucketUs = 21600000000L)
        .select(col("user_id"), col("click_id"),
          unix_micros(col("ts")).as("click_ts_us"),
          col("purchase_id").as("last_purchase_id"),
          unix_micros(col("ts_r")).as("last_purchase_ts_us"))
        .orderBy("user_id", "click_id")
    },
    // Z-order layout key: the interleaved-bit clustering key of
    // `Lake.zOrderValue` — surfaced as a query so the exact
    // bit math (span quantization + Morton interleave) is oracle-gated,
    // not just spec'd. Spans derive from the data (1-row min/max agg,
    // eager like the Bloom gate) and the oracle re-derives them with the
    // same bit-length arithmetic.
    "layout_zorder_key" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          CoreOps.scaledMilli(col("value")).as("vm"))
      val spans = graft.sinks.Lake.zOrderSpans(ev, Seq("user_id", "vm"))
      ev.select(col("event_id"), col("user_id"), col("vm"),
        graft.sinks.Lake.zOrderValue(Seq(col("user_id"), col("vm")), spans)
          .as("zval"))
        .orderBy("event_id")
    },
    // T1: trailing-1h rolling features per user at every event.
    "t1_rolling_features" -> { (s, d) =>
      CoreOps.rollingRangeStats(Tables.events(s, d), "user_id", "ts",
        "value", rangeUs = 3600000000L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("n_range"), col("sum_milli_range"))
        .orderBy("event_id")
    },
    // T1 chunked twin: same trailing features through the hot-key-immune
    // overlap-explode plan (same oracle as t1_rolling_features).
    "t1_rolling_chunked" -> { (s, d) =>
      CoreOps.rollingRangeStatsChunked(Tables.events(s, d), "user_id", "ts",
        "value", rangeUs = 3600000000L, bucketUs = 21600000000L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("n_range"), col("sum_milli_range"))
        .orderBy("event_id")
    },
    // T1 auto twin: skew-routed dispatch (CoreOps.rollingRangeStatsAuto) —
    // same oracle as the direct/chunked twins, gate proves routing can
    // never change rows.
    "t1_rolling_auto" -> { (s, d) =>
      CoreOps.rollingRangeStatsAuto(Tables.events(s, d), "user_id", "ts",
        "value", rangeUs = 3600000000L, bucketUs = 21600000000L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("n_range"), col("sum_milli_range"))
        .orderBy("event_id")
    },
    // T2: 6h-grid resample + forward fill per user — the gap-fill step
    // between raw events and a fixed-cadence feature table.
    "t2_resample_ffill" -> { (s, d) =>
      CoreOps.resampleFfill(Tables.events(s, d), "user_id", "ts",
        "value", stepUs = 21600000000L)
        .orderBy("user_id", "cell_us")
    },
    // T1 x J3 composition: the feature-store assembly query — every click
    // becomes a training example carrying its user's trailing-1h activity
    // features plus the point-in-time last purchase. Two keyed shuffles
    // total (window on user, as-of on user), no joins beyond the as-of
    // carry.
    "ml_training_examples" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val feats = CoreOps.rollingRangeStats(ev, "user_id", "ts", "value",
        rangeUs = 3600000000L)
        .filter(col("event_type") === "click")
        .select(col("ts"), col("user_id"), col("event_id").as("click_id"),
          col("n_range"), col("sum_milli_range"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("purchase_id"))
      CoreOps.asofJoin(feats, purchases, "user_id", "ts")
        .select(col("user_id"), col("click_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("n_range"), col("sum_milli_range"),
          col("purchase_id").as("last_purchase_id"),
          unix_micros(col("ts_r")).as("last_purchase_ts_us"))
        .orderBy("user_id", "click_id")
    },
    // W2: late-data side output (batch analog over a deterministic
    // pseudo-arrival order; allowed lateness 2 s as in the reference).
    "w2_late_data" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val (_, late) = CoreOps.lateDataSplit(
        ev, "ts", CoreOps.pseudoArrival(col("event_id")), 2000000L,
        CoreOps.pseudoArrivalChunk(col("event_id")))
      late.select(
        col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
        .orderBy("event_id")
    },
    // ST1: burst alerts — two 'error' events by one user within 4 h.
    "st1_burst_alerts" -> { (s, d) =>
      CoreOps.burstAlerts(
        Tables.events(s, d).filter(col("event_type") === "error"),
        "user_id", "ts", "event_id", 14400000000L)
        .orderBy("user_id", "event_id")
    },
    // ST2: previous-action durations ('signup' = login, 'error' = logout).
    "st2_action_durations" -> { (s, d) =>
      CoreOps.actionDurations(
        Tables.events(s, d), "user_id", "event_type", "ts", "event_id",
        loginAction = "signup", logoutAction = "error")
        .orderBy("user_id", "event_id")
    },
    // P1/P5/P6: scalar transform chain (parse/format/concat/case ops).
    "p_scalar_transforms" -> { (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        date_format(col("ts"), "HH:mm:ss").as("time_str"),
        concat_ws("|", col("event_type"), col("user_id").cast("string")).as("tag"),
        upper(col("event_type")).as("event_uc"))
        .orderBy("event_id")
    })

  private val coreOracles: Map[String, String] = Map(
    "a1_tumbling_count" ->
      """SELECT (epoch_us(ts)//5000000)*5 AS window_start, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "a2_keyed_running_total" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS total_value_milli
         FROM events GROUP BY user_id ORDER BY user_id""",
    "a3_sliding_summary" ->
      """SELECT window_start, count(*) AS n,
                min(ts_us) AS min_ts_us, max(ts_us) AS max_ts_us
         FROM (SELECT epoch_us(ts) AS ts_us,
                      (epoch_us(ts)//5000000)*5 - k AS window_start
               FROM events CROSS JOIN (VALUES (0),(5)) o(k)) s
         GROUP BY 1 ORDER BY 1""",
    "a4_session_windows" -> sessionsOracleSql,
    // identical sessions, independent of how the engine chunks the work
    "a4_sessions_chunked" -> sessionsOracleSql,
    "a4_sessions_auto" -> sessionsOracleSql,
    "a5_keyed_window_count" ->
      """SELECT (epoch_us(ts)//86400000000)*86400 AS window_start,
                user_id, event_type, count(*) AS n
         FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "a6_eventtime_count" ->
      """SELECT (epoch_us(ts)//60000000)*60 AS window_start, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "x1_split_main" ->
      """SELECT event_id, user_id,
                CAST(floor(value*1000) AS BIGINT) AS value_milli,
                epoch_us(ts) AS ts_us
         FROM events WHERE event_type = 'purchase' ORDER BY event_id""",
    "x1_split_side" ->
      """SELECT event_id, user_id, 1 AS one
         FROM events WHERE event_type <> 'purchase' ORDER BY event_id""",
    "x2_tagged_union" ->
      """SELECT * FROM (
           SELECT event_id, user_id, 'purchases' AS src FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT event_id, user_id, 'errors' AS src FROM events WHERE event_type = 'error')
         ORDER BY event_id""",
    "j1_windowed_join" ->
      """WITH c AS (SELECT (epoch_us(ts)//86400000000)*86400 AS w, user_id,
                           event_id AS click_id
                    FROM events WHERE event_type = 'click'),
              p AS (SELECT (epoch_us(ts)//86400000000)*86400 AS w, user_id,
                           event_id AS purchase_id
                    FROM events WHERE event_type = 'purchase')
         SELECT c.w, c.user_id, click_id, purchase_id
         FROM c JOIN p ON c.w = p.w AND c.user_id = p.user_id
         ORDER BY 1, 2, 3, 4""",
    "j2_interval_join" ->
      """WITH c AS (SELECT epoch_us(ts) AS ts_us, user_id, event_id AS click_id
                    FROM events WHERE event_type = 'click'),
              p AS (SELECT epoch_us(ts) AS ts_us, user_id, event_id AS purchase_id
                    FROM events WHERE event_type = 'purchase')
         SELECT c.user_id, click_id, purchase_id,
                c.ts_us AS click_ts_us, p.ts_us AS purchase_ts_us
         FROM c JOIN p ON c.user_id = p.user_id
           AND p.ts_us BETWEEN c.ts_us - 7200000000 AND c.ts_us + 86400000000
         ORDER BY 1, 2, 3""",
    "j3_asof_join" -> asofOracleSql,
    "j3_asof_chunked" -> asofOracleSql,
    "j3_asof_auto" -> asofOracleSql,
    "layout_zorder_key" -> {
      // Morton interleave: bit i of bucket j lands at position i*2 + j
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((b1 >> $i) & 1) << ${i * 2})",
        s"(((b2 >> $i) & 1) << ${i * 2 + 1})")).mkString(" + ")
      s"""WITH base AS (SELECT event_id, user_id,
                              CAST(floor(value*1000) AS BIGINT) AS vm
                       FROM events),
          s AS (SELECT min(user_id) AS lo1, max(user_id) AS hi1,
                       min(vm) AS lo2, max(vm) AS hi2 FROM base),
          sh AS (SELECT lo1, lo2,
                   greatest(0, length(bin(hi1 - lo1)) - 8) AS s1,
                   greatest(0, length(bin(hi2 - lo2)) - 8) AS s2 FROM s),
          b AS (SELECT event_id, user_id, vm,
                  least((user_id - lo1) >> s1, 255) AS b1,
                  least((vm - lo2) >> s2, 255) AS b2
                FROM base, sh)
          SELECT event_id, user_id, vm, CAST($terms AS BIGINT) AS zval
          FROM b ORDER BY event_id"""
    },
    "t1_rolling_features" -> rollingOracleSql,
    "t1_rolling_chunked" -> rollingOracleSql,
    "t1_rolling_auto" -> rollingOracleSql,
    "t2_resample_ffill" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) AS tsu,
                           CAST(floor(value*100) AS BIGINT) AS vc,
                           epoch_us(ts) // 21600000000 AS cell
                    FROM events),
          cells AS (SELECT user_id, cell, vc AS obs_vc FROM (
                      SELECT user_id, cell, vc,
                        row_number() OVER (PARTITION BY user_id, cell
                          ORDER BY tsu DESC, vc DESC) AS rn
                      FROM b) WHERE rn = 1),
          span AS (SELECT user_id, min(cell) AS c0, max(cell) AS c1
                   FROM b GROUP BY 1),
          grid AS (SELECT user_id, unnest(generate_series(c0, c1)) AS cell
                   FROM span),
          j AS (SELECT g.user_id, g.cell, c.obs_vc
                FROM grid g LEFT JOIN cells c
                  ON c.user_id = g.user_id AND c.cell = g.cell)
          SELECT user_id, cell * 21600000000 AS cell_us,
                 last_value(obs_vc IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY cell
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS value_centi,
                 CAST(obs_vc IS NOT NULL AS BIGINT) AS has_obs
          FROM j ORDER BY user_id, cell_us""",
    "ml_training_examples" ->
      """WITH f AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS ts_us,
                           count(*) OVER w AS n_range,
                           CAST(sum(CAST(floor(value*1000) AS BIGINT)) OVER w
                                AS BIGINT) AS sum_milli_range,
                           event_type
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                                 RANGE BETWEEN 3600000000 PRECEDING
                                 AND CURRENT ROW)),
              c AS (SELECT click_id, user_id, ts_us, n_range, sum_milli_range
                    FROM f WHERE event_type = 'click'),
              p AS (SELECT user_id, epoch_us(ts) AS ts_us,
                           max(event_id) AS purchase_id
                    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.user_id, click_id, c.ts_us, n_range, sum_milli_range,
                p.purchase_id AS last_purchase_id,
                p.ts_us AS last_purchase_ts_us
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
         ORDER BY 1, 2""",
    "w2_late_data" ->
      """WITH a AS (
           SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
                  max(epoch_us(ts)) OVER (ORDER BY md5(CAST(event_id AS VARCHAR))
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_us
           FROM events)
         SELECT event_id, user_id, event_type, ts_us FROM a
         WHERE wm_us IS NOT NULL AND ts_us < wm_us - 2000000
         ORDER BY event_id""",
    "st1_burst_alerts" ->
      """WITH e AS (
           SELECT user_id, event_id,
                  epoch_us(ts) AS ts_us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts_us
           FROM events WHERE event_type = 'error')
         SELECT user_id, event_id, ts_us - prev_ts_us AS diff_us
         FROM e WHERE prev_ts_us IS NOT NULL AND ts_us - prev_ts_us < 14400000000
         ORDER BY user_id, event_id""",
    "st2_action_durations" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                  lag(event_type) OVER w AS prev_action,
                  lag(epoch_us(ts)) OVER w AS prev_ts_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_id, prev_action AS action,
                ts_us - prev_ts_us AS duration_us
         FROM e
         WHERE prev_action IS NOT NULL AND prev_action <> 'error'
           AND event_type <> 'signup'
         ORDER BY user_id, event_id""",
    "p_scalar_transforms" ->
      """SELECT event_id, strftime(ts, '%H:%M:%S') AS time_str,
                concat_ws('|', event_type, CAST(user_id AS VARCHAR)) AS tag,
                upper(event_type) AS event_uc
         FROM events ORDER BY event_id""")

  // =====================================================================
  // Batch analytics queries (TPC-H-shaped; exercise joins, pushdown,
  // broadcast, top-k at scale).
  // =====================================================================

  private def analyticsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: scan-heavy partial-aggregated group-by.
    "tpch_q1_pricing" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= expr("TIMESTAMP '2000-09-02 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(CoreOps.scaledCenti(col("l_quantity"))).as("sum_qty_c"),
          sum(CoreOps.scaledCenti(col("l_extendedprice"))).as("sum_base_c"),
          sum(CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("sum_disc_c"),
          sum(CoreOps.scaledCenti(
            col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))))
            .as("sum_charge_c"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    // TPC-H Q3 shape: selective dim filter -> broadcast join -> top-k.
    "tpch_q3_top_orders" -> { (s, d) =>
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > expr("TIMESTAMP '1998-01-01 00:00:00'"))
      li.join(broadcast(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("rev_c"))
        .orderBy(col("rev_c").desc, col("o_orderkey"))
        .limit(10)
    },
    // TPC-H Q5 shape: 6-way join with region filter, grouped revenue.
    "tpch_q5_nation_revenue" -> { (s, d) =>
      val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val nat = Tables.nation(s, d)
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      val supp = Tables.supplier(s, d)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
      Tables.lineitem(s, d)
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_c"))
        .orderBy("n_name")
    },
    // TPC-H Q6 shape: pure scan + filter + scalar aggregate (pushdown test).
    "tpch_q6_revenue_delta" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(
          col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
            col("l_shipdate") < expr("TIMESTAMP '1997-01-01 00:00:00'") &&
            col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(sum(CoreOps.scaledCenti(col("l_extendedprice") * col("l_discount")))
          .as("revenue_c"))
    },
    // TPC-H Q18 shape: large-order customers (join + group + having + top-k).
    "tpch_q18_large_orders" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(CoreOps.scaledCenti(col("l_quantity"))).as("sum_qty_c"))
        .filter(col("sum_qty_c") > 15000)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("sum_qty_c"))
        .orderBy(col("sum_qty_c").desc, col("o_orderkey"))
        .limit(20)
    },
    // TPC-H Q4 shape: EXISTS semi-join (orders with any late-shipped line).
    "tpch_q4_priority_count" -> { (s, d) =>
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      ord.join(li,
          ord("o_orderkey") === li("l_orderkey") && li("l_shipdate") > ord("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
    // TPC-H Q7 shape: bidirectional two-nation volume by ship year.
    "tpch_q7_nation_volume" -> { (s, d) =>
      val nat = Tables.nation(s, d)
      val supp = Tables.supplier(s, d)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.customer(s, d)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_c"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    // TPC-H Q8 shape: supplier-nation market share inside a region's
    // customer revenue, by ship year (conditional ratio of exact sums —
    // both numerator and denominator are quantized-cents BIGINTs, so the
    // share is deterministic in any engine).
    "tpch_q8_market_share" -> { (s, d) =>
      val suppNat = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val asiaCust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val rev = CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount")))
      Tables.lineitem(s, d)
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_1", rev).otherwise(lit(0L)))
            .as("nation_rev_c"),
          sum(rev).as("total_rev_c"))
        .withColumn("share_milli",
          floor(col("nation_rev_c") * lit(1000.0) / col("total_rev_c")).cast("long"))
        .orderBy("l_year")
    },
    // TPC-H Q9 shape: product-line profit by supplier nation and ship
    // year. Adapted to this schema (no partsupp table): the per-unit cost
    // proxy is p_retailprice/10, and the part filter is the q9-style name
    // LIKE. Both profit terms are integer-quantized before the sum.
    "tpch_q9_profit" -> { (s, d) =>
      val parts = Tables.part(s, d)
        .filter(col("p_name").contains("widget"))
        .select(col("p_partkey"), col("p_retailprice"))
      val suppNat = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      Tables.lineitem(s, d)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name"), year(col("l_shipdate")).cast("long").as("o_year"))
        .agg(sum(
          CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))) -
            floor(col("l_quantity") * col("p_retailprice") * lit(10.0)).cast("long"))
          .as("profit_c"))
        .orderBy(col("n_name"), col("o_year").desc)
    },
    // CEP-ish conversion funnel: for each click, is there a purchase by
    // the same user within the next hour? The forward as-of is ONE
    // partitioned window over the unioned substreams (descending order,
    // running min of future purchase times) — no range join, no per-user
    // quadratic; the same union-sort-window shape as asofJoinBackward.
    "funnel_click_purchase" -> { (s, d) =>
      funnelAgg(CoreOps.funnelNextPurchase(funnelInput(s, d)))
    },
    // Same funnel, skew-safe chunked suffix-min plan (same oracle) — no
    // reducer ever sorts more than one day-bucket of one user.
    "funnel_chunked" -> { (s, d) =>
      funnelAgg(CoreOps.funnelNextPurchaseChunked(funnelInput(s, d),
        bucketUs = 86400000000L))
    },
    // N-step ordered funnel (view -> click -> purchase): earliest
    // greedy completion per user, window-free (one keyed min(struct)
    // aggregate per step).
    "funnel_steps" -> { (s, d) =>
      CoreOps.funnelSteps(
        Tables.events(s, d)
          .filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"), col("event_id")),
        steps = Seq("view", "click", "purchase"))
        .orderBy("user_id")
    },
    // Rank-family coverage: deterministic deciles of value per event type
    // (ntile over a fully tie-broken order), count/min/max per bucket.
    // ORACLE-ONLY AT SCALE: ntile partitioned by a low-cardinality key is
    // one reducer per event type sorting its whole partition — the sketch
    // twin below is the 100 TB form.
    "value_deciles" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          CoreOps.scaledMilli(col("value")).as("value_milli"), col("event_id"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value_milli"), col("event_id"))
      ev.withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("value_milli")).as("lo"), max(col("value_milli")).as("hi"))
        .orderBy("event_type", "decile")
    },
    // Sketch twin of value_deciles: decile BOUNDARIES from
    // approx_percentile (fixed-size state, map-side combinable), then a
    // narrow broadcast-join bucket assignment — no per-type global sort
    // anywhere, scales with partitions rather than event types. Rows-only
    // at the gate; ApproxSpec pins near-uniform bucket occupancy.
    "value_deciles_approx" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), CoreOps.scaledMilli(col("value")).as("value_milli"))
      val bounds = ev.groupBy(col("event_type"))
        .agg(expr(
          "approx_percentile(value_milli, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 1000)")
          .as("bs"))
      ev.join(broadcast(bounds), "event_type")
        .withColumn("decile",
          aggregate(col("bs"), lit(1L),
            (acc, b) => acc + when(col("value_milli") > b, 1L).otherwise(0L)))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("value_milli")).as("lo"), max(col("value_milli")).as("hi"))
        .orderBy("event_type", "decile")
    },
    // TPC-H Q10 shape: returned-item revenue, top-20 customers.
    "tpch_q10_returned_top" -> { (s, d) =>
      val custNat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"),
          CoreOps.scaledCenti(col("c_acctbal")).as("acctbal_c"), col("n_name"))
      Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
              col("o_orderdate") < expr("TIMESTAMP '1996-07-01 00:00:00'")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custNat, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("acctbal_c"), col("n_name"))
        .agg(sum(CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_c"))
        .orderBy(col("revenue_c").desc, col("c_custkey"))
        .limit(20)
    },
    // TPC-H Q13 shape: outer-join order-count distribution.
    "tpch_q13_order_dist" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    // TPC-H Q15 shape: top supplier(s) via max-of-aggregate subquery.
    "tpch_q15_top_supplier" -> { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP '1996-04-01 00:00:00'"))
        .groupBy(col("l_suppkey"))
        .agg(sum(CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("total_c"))
      rev
        .join(broadcast(rev.agg(max(col("total_c")).as("mx"))), col("total_c") === col("mx"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_c"))
        .orderBy("s_suppkey")
    },
    // TPC-H Q17 shape: small-quantity lines vs per-part average (correlated
    // aggregate rewritten as a broadcast join against the per-part avg).
    "tpch_q17_small_qty" -> { (s, d) =>
      val brandParts = Tables.part(s, d).filter(col("p_brand") === "Brand#3")
        .select(col("p_partkey"))
      val liOfParts = Tables.lineitem(s, d)
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      val avgQty = liOfParts.groupBy(col("p_partkey").as("avg_pk"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      liOfParts
        .join(broadcast(avgQty), col("p_partkey") === col("avg_pk"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(
          sum(CoreOps.scaledCenti(col("l_extendedprice"))).as("rev_c"),
          count(lit(1)).as("n"))
    },
    // TPC-H Q19 shape: disjunction of brand/size/quantity bands — the
    // OR-of-ANDs predicate pushdown/join test.
    "tpch_q19_brand_bands" -> { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 50) &&
              col("l_quantity").between(20, 30)))
        .agg(
          sum(CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_c"),
          count(lit(1)).as("n"))
    },
    // TPC-H Q22 shape: above-average balances with NO orders (scalar
    // subquery threshold + anti-join), grouped by nation.
    "tpch_q22_idle_rich" -> { (s, d) =>
      val cust = Tables.customer(s, d)
        .withColumn("acctbal_c", CoreOps.scaledCenti(col("c_acctbal")))
      // threshold from exactly-summed cents: avg is deterministic in any
      // engine (integer sum / count), unlike a double sum
      val thr = cust.filter(col("acctbal_c") > 0)
        .agg((sum(col("acctbal_c")) / count(lit(1))).as("avg_c"))
      cust
        .join(broadcast(thr), col("acctbal_c") > col("avg_c"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= expr("TIMESTAMP '1999-01-01 00:00:00'")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), sum(col("acctbal_c")).as("totacctbal_c"))
        .orderBy("c_nationkey")
    },
    // TPC-H Q2 shape: min-cost supplier per part within a region (the
    // correlated-min subquery). The container corpus ships no partsupp
    // table, so the part-supplier relation is DERIVED from lineitem —
    // per (part, supplier) the supply cost is the min quantized line
    // price, a deterministic BIGINT. Regional suppliers and the filtered
    // part dim broadcast; the correlated min is a window partitioned by
    // p_partkey (bounded by suppliers-per-part, never global).
    "tpch_q2_min_cost_supp" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ps = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(CoreOps.scaledCenti(col("l_extendedprice"))).as("supplycost_c"))
      val eu = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"),
          CoreOps.scaledCenti(col("s_acctbal")).as("acctbal_c"), col("n_name"))
      val cand = ps
        .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.part(s, d).filter(col("p_size") <= 5)
            .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
      cand
        .withColumn("min_cost_c",
          min(col("supplycost_c")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("supplycost_c") === col("min_cost_c"))
        .select(col("acctbal_c"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_type"), col("supplycost_c"))
        .orderBy(col("acctbal_c").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    },
    // TPC-H Q11 shape: per-part supply value from one nation's suppliers,
    // kept only above a fraction of the GLOBAL total (scalar-subquery
    // threshold, like Q22's but over group aggregates). The 1-row total
    // broadcasts back over a `>` condition.
    "tpch_q11_important_supply" -> { (s, d) =>
      val natSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val v = Tables.lineitem(s, d)
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(CoreOps.scaledCenti(col("l_extendedprice"))).as("value_c"))
      val thr = v.agg(floor(sum(col("value_c")) / 1000.0).cast("long").as("thr_c"))
      v.join(broadcast(thr), col("value_c") > col("thr_c"))
        .select(col("l_partkey"), col("value_c"))
        .orderBy(col("value_c").desc, col("l_partkey"))
    },
    // TPC-H Q12 shape: late-shipment priority pivot. The corpus carries
    // no l_shipmode/commitdate, so "late" is ship > order + 90 days and
    // the pivot category is l_linestatus — the conditional-aggregation
    // shape (sum of CASE) is the point, and it stays one join + one
    // partial-aggregating groupBy.
    "tpch_q12_late_priority" -> { (s, d) =>
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).filter(year(col("l_shipdate")) === 1997)
      li.join(ord, li("l_orderkey") === ord("o_orderkey") &&
          li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("low_line_count"))
        .orderBy("l_linestatus")
    },
    // TPC-H Q16 shape: distinct supplier count per part attribute,
    // excluding a brand/type/size slice and "complaint" suppliers
    // (negative balance stands in for the comment-text predicate). The
    // part-supplier relation derives from lineitem; the exclusion list is
    // a broadcast anti-join, never a NOT IN scan.
    "tpch_q16_supplier_cnt" -> { (s, d) =>
      val ps = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val complainers = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      ps
        .join(broadcast(complainers), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "bolt" &&
              col("p_size").isin(1, 4, 9, 16, 25, 36, 49))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },
    // TPC-H Q20 shape: suppliers holding a dominant share of a part's
    // flow (the nested-aggregate + semi-join shape; availqty > half the
    // shipped quantity becomes supplier share > half the part's 1998
    // total, all integer arithmetic). The per-part total is a window
    // bounded by suppliers-per-part; the dominant-supplier list is tiny
    // and broadcast back onto the regional supplier dim.
    "tpch_q20_excess_supply" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sq = Tables.lineitem(s, d)
        .filter(year(col("l_shipdate")) === 1998)
        .join(broadcast(Tables.part(s, d).filter(col("p_name").startsWith("small"))
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        // floor, not bare cast: Spark's cast('long') truncates doubles
        // while DuckDB's CAST(... AS BIGINT) rounds — floor is identical
        // in both engines (quantities are integral today; this guards
        // the convention against a fractional-quantity corpus regen)
        .agg(sum(floor(col("l_quantity")).cast("long")).as("qty"))
      val dom = sq
        .withColumn("total_qty",
          sum(col("qty")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("qty") * 2 > col("total_qty"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(dom), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), CoreOps.scaledCenti(col("s_acctbal")).as("acctbal_c"))
        .orderBy("s_name")
    },
    // TPC-H Q21 shape: suppliers who alone held up multi-supplier orders.
    // The classic EXISTS/NOT-EXISTS pair (kept verbatim in the oracle) is
    // re-planned as ONE per-order aggregate — distinct suppliers, distinct
    // LATE suppliers, late-line count — filtered to (multi-supplier, sole
    // late supplier): two keyed shuffles on l_orderkey instead of two
    // sorted self-joins of the fact table against itself, the shape that
    // survives a 100x fact table. The gate hash-proves the rewrite.
    "tpch_q21_waiting_supp" -> { (s, d) =>
      val ord = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      val li = Tables.lineitem(s, d)
      val late = li.join(ord, li("l_orderkey") === ord("o_orderkey") &&
          li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("l_orderkey").as("okey"))
        .agg(countDistinct(col("l_suppkey")).as("n_late_supp"),
          min(col("l_suppkey")).as("late_supp"),
          count(lit(1)).as("n_late_lines"))
        .filter(col("n_late_supp") === 1)
      val waits = li
        .join(late, li("l_orderkey") === late("okey"))
        .groupBy(col("okey"), col("late_supp"), col("n_late_lines"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"))
        .filter(col("n_supp") > 1)
        .groupBy(col("late_supp"))
        .agg(sum(col("n_late_lines")).as("numwait"))
      waits
        .join(broadcast(Tables.supplier(s, d)), col("late_supp") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    },
    // Top-k users by quantized spend (two-phase top-k at scale via AQE).
    "top_users_by_value" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(CoreOps.scaledMilli(col("value"))).as("total_milli"))
        .orderBy(col("total_milli").desc, col("user_id"))
        .limit(10)
    },
    // Cohort retention matrix: users grouped by first-seen week, tracked
    // across week offsets — the classic growth-analytics artifact beyond
    // user_retention's next-day view. Three keyed partial aggregates +
    // one broadcast-size cohort join; no windows.
    "cohort_retention" -> { (s, d) =>
      val weekly = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 604800000000").as("w"), col("user_id"))
        .distinct()
      val first = weekly.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
      val sizes = first.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
      weekly.join(first, "user_id")
        .groupBy(col("cw"), (col("w") - col("cw")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, "cw")
        .select(col("cw").as("cohort_week"), col("week_offset"),
          col("n_active"), col("cohort_size"),
          expr("n_active * 1000 div cohort_size").as("retention_milli"))
        .orderBy("cohort_week", "week_offset")
    },
    // Event-type transition matrix: per-user consecutive-event pairs
    // collapsed to (prev, next) counts with an integer permille share of
    // each prev row — the Markov flow summary behind "what do users do
    // after X" (session_paths mines whole traces; this is the pairwise
    // view). Plan: ONE lag window partitioned by user (bounded by a
    // user's activity, the hot-key posture sessionization documents),
    // then a |types|^2-bounded groupBy; the share window runs over that
    // tiny aggregate, never raw events.
    "event_transitions" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val seq = Tables.events(s, d).select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))).as("prev_type"))
      val c = seq.filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      c.withColumn("permille", expr("n * 1000 div sum(n) over (partition by prev_type)"))
        .orderBy("prev_type", "next_type")
    },
    // Key-skew report: the pre-join diagnostic for choosing a skew
    // strategy (salt? chunk? AQE skew-join?) — top-20 heaviest keys with
    // their permille share of all rows. One partial-agg groupBy, a 1-row
    // broadcast total, and a bounded TakeOrdered(20); nothing global.
    "key_skew_report" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      counts
        .crossJoin(broadcast(counts.agg(sum(col("n")).as("__t"))))
        .select(col("user_id"), col("n"),
          expr("n * 1000 div __t").as("permille"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(20)
    },
    // Daily distinct users (exact distinct under partial aggregation).
    "daily_active_users" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(countDistinct(col("user_id")).as("dau"), count(lit(1)).as("n"))
        .select(col("w.start").cast("long").as("day_start"), col("dau"), col("n"))
        .orderBy("day_start")
    },
    // IVM twin of daily_active_users: merge(base state, delta state) over
    // (day, user) support counts + the per-day event monoid must land on
    // the SAME hash as the oracle's plain count(DISTINCT) aggregate —
    // the maintained-dashboard form (delta work is delta-sized;
    // retractions via negated counts, IncrementalSpec).
    "dau_incremental" -> { (s, d) =>
      val ev = Tables.events(s, d)
      graft.functions.Incremental.dauFromState(
        graft.functions.Incremental.mergeDauStates(
          graft.functions.Incremental.dauState(
            ev.filter(pmod(col("event_id"), lit(10)) =!= 0)),
          graft.functions.Incremental.dauState(
            ev.filter(pmod(col("event_id"), lit(10)) === 0))))
        .orderBy("day_start")
    },
    // Event-rate anomaly days: per event type, days whose volume exceeds
    // 1.15x the trailing-7-day average — the monitoring query every event
    // pipeline runs (threshold tuned to the corpus's daily noise so the
    // gate checks real rows). Integer-exact: the threshold is the
    // cross-multiplied comparison 20*n*base_n > 23*base_sum, no division
    // anywhere. The
    // window partitions by event type over the DAILY aggregate (rows =
    // days x types — bounded regardless of corpus size).
    "events_anomaly_days" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("w.start").cast("long").as("day_start"),
          col("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day_start"))
        .rowsBetween(-7, -1)
      daily
        .withColumn("base_n", count(col("n")).over(w))
        .withColumn("base_sum", sum(col("n")).over(w))
        .filter(col("base_n") >= 3 &&
          col("n") * col("base_n") * 20 > col("base_sum") * 23)
        .select(col("event_type"), col("day_start"), col("n"),
          col("base_sum"), col("base_n"))
        .orderBy(col("event_type"), col("day_start"))
    },
    // Day-over-day cohort retention: of the users active on day d, the
    // share also active on d+1 — the standard activation/retention
    // analytics shape. One (user, day) distinct, then a keyed self-join
    // on (user, day+1): both shuffles are on bounded keys, no window.
    "user_retention" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("d"), col("user_id"))
        .distinct()
      val act = daily.groupBy(col("d")).agg(count(lit(1)).as("active"))
      val ret = daily.as("a")
        .join(daily.as("b"),
          col("a.user_id") === col("b.user_id") && col("b.d") === col("a.d") + 1)
        .groupBy(col("a.d").as("d")).agg(count(lit(1)).as("retained_next"))
      act.join(ret, Seq("d"), "left")
        .select(col("d").as("day_idx"), col("active"),
          coalesce(col("retained_next"), lit(0L)).as("retained_next"),
          expr("coalesce(retained_next, 0) * 1000 div active").as("retention_milli"))
        .orderBy("day_idx")
    },
    // HLL sketch twin of daily_active_users — the 100 TB form: fixed ~KB
    // state per day, map-side combinable, vs exact distinct's (day, user)
    // shuffle. Rows-only at the driver gate (sketches are engine-
    // specific); ApproxSpec pins the <=5%-of-exact accuracy contract.
    "daily_active_users_approx" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("dau"),
          count(lit(1)).as("n"))
        .select(col("w.start").cast("long").as("day_start"), col("dau"), col("n"))
        .orderBy("day_start")
    },
    // Mergeable-sketch rollup — the reason sketches beat exact distinct at
    // 100 TB: per-DAY DataSketches HLL sketches (the ~KB pre-aggregates a
    // real pipeline materializes once) are UNIONED up to weeks without
    // ever rescanning raw events or re-shuffling (day, user) pairs.
    // Adding a month of data touches only the new days' sketches. Rows-
    // only at the gate (sketch bytes are engine-specific); ApproxSpec
    // pins the accuracy contract against the exact weekly twin.
    "weekly_active_users_sketch" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
        .select(col("w.start").as("day"), col("sk"))
      daily
        .groupBy(window(col("day"), "7 days").as("w"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau"),
          count(lit(1)).as("n_days"))
        .select(col("w.start").cast("long").as("week_start"), col("wau"),
          col("n_days"))
        .orderBy("week_start")
    },
    // Heavy-hitter sketch twin of top_terms: DataSketches frequent-items
    // (approx_top_k) keeps a fixed-size, map-side-combinable summary —
    // the exact form shuffles one row per vocabulary term, the sketch
    // ships ~k tracked items per partition regardless of vocab size.
    // Rows-only at the gate; ApproxSpec pins exactness vs the exact twin
    // while the vocab fits the tracked-item budget.
    "top_terms_sketch" -> { (s, d) =>
      Tables.documents(s, d)
        .select(explode(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0)).as("t"))
        .agg(expr("approx_top_k(t, 20, 8192)").as("topk"))
        .select(explode(col("topk")).as("e"))
        .select(col("e.item").as("t"), col("e.count").as("n"))
        .orderBy(col("n").desc, col("t"))
    },
    // Event-stream enrichment: broadcast dimension join + rollup by segment.
    "events_enriched_by_segment" -> { (s, d) =>
      Tables.events(s, d)
        .join(broadcast(Tables.customer(s, d)), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(CoreOps.scaledMilli(col("value"))).as("total_milli"))
        .orderBy("c_mktsegment")
    },
    // TPC-H Q14 shape: conditional aggregation over a fact-dim join.
    "tpch_q14_promo_share" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP '1996-04-01 00:00:00'"))
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO",
            CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .otherwise(lit(0L))).as("promo_rev_c"),
          sum(CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("total_rev_c"))
    },
    // As-of (backward) join: each event enriched with the customer's most
    // recent order as of the event time — CoreOps.asofJoinBackward.
    "asof_latest_order" -> { (s, d) =>
      val left = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
      val right = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_order_key"))
      CoreOps.asofJoinBackward(left, right,
        leftKey = "user_id", rightKey = "o_custkey",
        tsL = "ts", tsR = "o_orderdate", valueCols = Seq("last_order_key"))
        .select(col("event_id"), col("user_id"), col("asof_last_order_key"))
        .orderBy("event_id")
    },
    // Analytic window functions: top-3 spend days per user.
    "rank_user_top_days" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"),
          window(col("ts"), "1 day").getField("start").cast("long").as("day_start"))
        .agg(sum(CoreOps.scaledMilli(col("value"))).as("spend_milli"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("spend_milli").desc, col("day_start"))
      daily.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy("user_id", "rank")
    },
    // Rollup aggregation with explicit ALL sentinel (engine-neutral nulls).
    "rollup_pricing" -> { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(CoreOps.scaledCenti(col("l_extendedprice"))).as("sum_base_c"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("rflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("lstatus"),
          col("sum_base_c"), col("n"))
        .orderBy("rflag", "lstatus")
    },
    // CUBE completes the grouping-sets family (rollup above): all four
    // (flag, status) strata in one pass — Spark expands grouping sets
    // before the partial aggregate, so the shuffle carries one partial
    // row per (stratum x group), never a re-scan per stratum. grouping()
    // flags disambiguate aggregated-away columns engine-portably.
    "cube_pricing" -> { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // grouping() only resolves inside the grouping-sets aggregate
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"),
          sum(CoreOps.scaledCenti(col("l_extendedprice"))).as("sum_base_c"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("rflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("lstatus"),
          col("g_flag"), col("g_status"), col("sum_base_c"), col("n"))
        .orderBy("rflag", "lstatus")
    },
    // Exact interpolated percentiles over quantized values. ORACLE-ONLY
    // AT SCALE: the exact `percentile` aggregate buffers every value of a
    // group in the agg buffer — with few groups that is one reducer
    // materializing a corpus fraction. The form to run at 100 TB is
    // percentiles_by_type_approx below; this exact form exists as its
    // accuracy oracle and for small/medium corpora.
    "percentiles_by_type" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("value_milli", CoreOps.scaledMilli(col("value")))
      ev.groupBy(col("event_type"))
        .agg(
          expr("percentile(value_milli, 0.5)").as("p50"),
          expr("percentile(value_milli, 0.9)").as("p90"),
          expr("percentile(value_milli, 0.99)").as("p99"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    // Sketch twin of percentiles_by_type: fixed-size quantile summaries,
    // map-side combinable — constant memory per group at any scale. No
    // DuckDB hash-parity oracle (sketch internals are engine-specific);
    // the accuracy contract (each percentile within 2% of the value range
    // of its exact twin, per event type) is pinned by ApproxSpec, and the
    // driver records the rows-only check.
    "percentiles_by_type_approx" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("value_milli", CoreOps.scaledMilli(col("value")))
      ev.groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(value_milli, 0.5, 1000)").as("p50"),
          expr("approx_percentile(value_milli, 0.9, 1000)").as("p90"),
          expr("approx_percentile(value_milli, 0.99, 1000)").as("p99"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    // JSON property extraction + aggregation over the props column.
    "json_props_sum" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    // Sequence mining: top user-journey paths — the ordered event-type
    // trace of each (4h-gap) session, ranked by frequency. Composes the
    // A4 session machinery with a deterministic ordered path aggregate
    // (array_sort over (ts, id, type) structs — collect_list alone has
    // no order contract).
    "session_paths" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "4 hours").as("w"))
        .agg(array_join(transform(array_sort(collect_list(struct(
          unix_micros(col("ts")).as("t"), col("event_id").as("i"),
          col("event_type").as("e")))), x => x.getField("e")), ">").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(50)
    },
    // SCD Type 2: per-user event_type change log collapsed into
    // validity-interval version rows (CDC -> dimension-table compaction).
    "scd2_user_state" -> { (s, d) =>
      CoreOps.scd2History(Tables.events(s, d), "user_id", "ts",
        tieBreak = "event_id", attrCol = "event_type")
        .orderBy("user_id", "valid_from_us")
    },
    // Pivot: daily value totals fanned out to one column per event type
    // (explicit value list, so the plan needs no extra distinct pass).
    "pivot_daily_by_type" -> { (s, d) =>
      val types = Seq("click", "view", "purchase", "error", "signup")
      types.foldLeft(
        Tables.events(s, d)
          .withColumn("day_us", unix_micros(date_trunc("DAY", col("ts"))))
          .groupBy(col("day_us"))
          .pivot("event_type", types)
          .agg(sum(CoreOps.scaledCenti(col("value")))))(
        (df, t) => df.withColumnRenamed(t, s"${t}_centi"))
        .orderBy("day_us")
    },
    // (the co-purchase graph family lives in graphFamilyQueries above —
    // one body for the gate's self-contained forms and Bench's amortized
    // prebuilt-edge forms)
    // Data-quality audit: per-column profile of orders in ONE aggregate
    // pass (nulls, exact distincts, portable min/max reprs).
    "table_profile_orders" -> { (s, d) =>
      // filled read (per-query opt-in): the profile is a 7x
      // count-distinct expand — compute-dense behind a single-task scan
      graft.functions.Profiling.tableProfile(
        Tables.tableFilled(s, d, "orders", "o_orderkey"), Seq(
        "o_orderkey" -> "long", "o_custkey" -> "long",
        "o_orderstatus" -> "string", "o_totalprice" -> "double_centi",
        "o_orderdate" -> "ts_us", "o_orderpriority" -> "string"))
        .orderBy("column")
    },
    // Incremental view maintenance: the Q1 summary rebuilt as
    // merge(base-batch summary, delta-batch summary) — must land on the
    // SAME hash as the oracle's plain full aggregate (the monoid-merge
    // proof against an independent engine). Delta work is delta-sized.
    "tpch_q1_incremental" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      graft.functions.Incremental.mergePricingSummaries(
        graft.functions.Incremental.pricingSummary(
          li.filter(pmod(col("l_orderkey"), lit(10)) =!= 0)),
        graft.functions.Incremental.pricingSummary(
          li.filter(pmod(col("l_orderkey"), lit(10)) === 0)))
        .orderBy("l_returnflag", "l_linestatus")
    },
    // Join-view IVM: a materialized orders x customer view maintained as
    // V_old + (dA x B_old) + (A_old x dB) + (dA x dB) — deltas on BOTH
    // sides at once — must land on the oracle's plain-join hash (joins
    // distribute over union; each delta term is delta-priced).
    "join_view_incremental" -> { (s, d) =>
      import graft.operators.CoreOps.scaledCenti
      val a = Tables.orders(s, d).select(
        col("o_custkey").as("custkey"), col("o_orderkey"),
        scaledCenti(col("o_totalprice")).as("o_totalprice_c"))
      val b = Tables.customer(s, d).select(
        col("c_custkey").as("custkey"), col("c_name"),
        scaledCenti(col("c_acctbal")).as("c_acctbal_c"))
      val (aOld, aDelta) = (a.filter(pmod(col("o_orderkey"), lit(10)) =!= 0),
        a.filter(pmod(col("o_orderkey"), lit(10)) === 0))
      val (bOld, bDelta) = (b.filter(pmod(col("custkey"), lit(7)) =!= 0),
        b.filter(pmod(col("custkey"), lit(7)) === 0))
      aOld.join(bOld, "custkey")
        .unionByName(graft.functions.Incremental.deltaJoinView(
          aOld, aDelta, bOld, bDelta, "custkey"))
        .select(col("o_orderkey"), col("custkey"), col("o_totalprice_c"),
          col("c_name"), col("c_acctbal_c"))
        .orderBy("o_orderkey")
    },
    // Join+AGGREGATE IVM (the composite rung above join_view_incremental,
    // the tpch_q3/q10 revenue-dashboard shape): the customer-revenue view
    // gamma(orders x customer) maintained as merge(gamma(old join),
    // gamma(deltaJoinView)) under deltas on BOTH sides — the join delta
    // folds into the per-key monoid state (integer sums + support count),
    // the full view is never materialized, and the merged state must land
    // on the oracle's PLAIN full join+aggregate hash. Retractions via
    // negated partial sums (IncrementalSpec).
    "join_agg_incremental" -> { (s, d) =>
      import graft.operators.CoreOps.scaledCenti
      import graft.functions.Incremental
      val a = Tables.orders(s, d).select(
        col("o_custkey").as("custkey"), col("o_orderkey"),
        scaledCenti(col("o_totalprice")).as("o_totalprice_c"))
      val b = Tables.customer(s, d).select(
        col("c_custkey").as("custkey"), col("c_name"))
      val (aOld, aDelta) = (a.filter(pmod(col("o_orderkey"), lit(10)) =!= 0),
        a.filter(pmod(col("o_orderkey"), lit(10)) === 0))
      val (bOld, bDelta) = (b.filter(pmod(col("custkey"), lit(7)) =!= 0),
        b.filter(pmod(col("custkey"), lit(7)) === 0))
      val keys = Seq("custkey", "c_name")
      val sums = Seq("o_totalprice_c")
      Incremental.mergeJoinAggStates(
        Incremental.joinAggState(aOld.join(bOld, "custkey"), keys, sums),
        Incremental.joinAggState(
          Incremental.deltaJoinView(aOld, aDelta, bOld, bDelta, "custkey"),
          keys, sums),
        keys, sums)
        .select(col("custkey"), col("c_name"),
          col("o_totalprice_c").as("revenue_c"), col("n").as("n_orders"))
        .orderBy("custkey")
    })

  /** DuckDB twin of [[graft.functions.Graph.pageRank]]: the 5 rounds
    * unrolled as a CTE chain with identical floor-division fixed-point
    * arithmetic (`//` = Spark's `div` on positive longs). */
  private val pagerankOracle: String = {
    val its = (1 to 5).map { k =>
      s"""it$k AS (SELECT p.dst AS node,
              CAST(150000 + (850 * SUM(i.r // d.outd)) // 1000 AS BIGINT) AS r
            FROM pairs p
            JOIN it${k - 1} i ON i.node = p.src
            JOIN deg d ON d.src = p.src
            GROUP BY 1)"""
    }.mkString(",\n          ")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey),
          deg AS (SELECT src, count(*) AS outd FROM pairs GROUP BY 1),
          it0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
          $its
        SELECT node, r AS rank_micro FROM it5 ORDER BY node"""
  }

  /** DuckDB twin of [[graft.functions.Graph.pageRankWeighted]] over the
    * co-occurrence-weighted co-purchase graph: contribution
    * `(r * w) // W(u)`, same unrolled 5-round chain. */
  private val pagerankWeightedOracle: String = {
    val its = (1 to 5).map { k =>
      s"""it$k AS (SELECT p.dst AS node,
              CAST(150000 + (850 * SUM((i.r * p.w) // d.tw)) // 1000 AS BIGINT) AS r
            FROM pairs p
            JOIN it${k - 1} i ON i.node = p.src
            JOIN deg d ON d.src = p.src
            GROUP BY 1)"""
    }.mkString(",\n          ")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
                           count(*) AS w
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey
                    GROUP BY 1, 2),
          deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS tw FROM pairs GROUP BY 1),
          it0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
          $its
        SELECT node, r AS rank_micro FROM it5 ORDER BY node"""
  }

  /** DuckDB twin of [[graft.functions.Graph.personalizedPageRank]]: 4
    * unrolled rounds, seed-only teleport, FULL OUTER seed/contribution
    * merge — identical integer arithmetic. */
  private val pprOracle: String = {
    val its = (1 to 4).map { k =>
      s"""c$k AS (SELECT p.dst AS node,
              CAST((850 * SUM(i.r // d.outd)) // 1000 AS BIGINT) AS cr
            FROM pairs p
            JOIN it${k - 1} i ON i.node = p.src
            JOIN deg d ON d.src = p.src
            GROUP BY 1),
          it$k AS (SELECT COALESCE(s.node, c.node) AS node,
              CAST(COALESCE(s.sb, 0) + COALESCE(c.cr, 0) AS BIGINT) AS r
            FROM sb s FULL OUTER JOIN c$k c ON c.node = s.node)"""
    }.mkString(",\n          ")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey),
          deg AS (SELECT src, count(*) AS outd FROM pairs GROUP BY 1),
          seeds AS (SELECT unnest([1, 2, 3, 4, 5]) AS node),
          sb AS (SELECT node, CAST(150000 AS BIGINT) AS sb FROM seeds),
          it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM seeds),
          $its
        SELECT node, r AS rank_micro FROM it4 ORDER BY node"""
  }

  /** DuckDB twin of [[graft.functions.Graph.kCore]] (k=80, 5 peel rounds
    * unrolled): aN = survivors after round N, eN = edges among a(N-1). */
  private val kcoreOracle: String = {
    val rounds = (1 to 5).map { i =>
      s"""e$i AS (SELECT p.src, p.dst FROM pairs p
              JOIN a${i - 1} x ON x.node = p.src
              JOIN a${i - 1} y ON y.node = p.dst),
          a$i AS (SELECT src AS node FROM
              (SELECT src, count(*) AS d FROM e$i GROUP BY 1) WHERE d >= 80)"""
    }.mkString(",\n          ")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey),
          a0 AS (SELECT src AS node FROM
              (SELECT src, count(*) AS d FROM pairs GROUP BY 1) WHERE d >= 80),
          $rounds,
          ef AS (SELECT p.src, p.dst FROM pairs p
              JOIN a5 x ON x.node = p.src
              JOIN a5 y ON y.node = p.dst)
        SELECT src AS node, count(*) AS core_deg FROM ef
        GROUP BY 1 ORDER BY node"""
  }

  /** DuckDB twin of [[graft.functions.Graph.commonNeighborLinks]]
    * (degCap=64, top 100): identical floor-division Adamic–Adar mass,
    * identical (aa_micro DESC, a, c) total order. */
  private val linkPredictionOracle: String =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                  FROM li a JOIN li b
                    ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey),
        deg AS (SELECT src, count(*) AS d FROM pairs GROUP BY 1),
        inc AS (SELECT p.src AS b, p.dst AS x, g.d
                FROM pairs p JOIN deg g ON g.src = p.src WHERE g.d <= 64),
        cand AS (SELECT i.x AS a, j.x AS c,
                   CAST(SUM(1000000 // i.d) AS BIGINT) AS aa_micro,
                   count(*) AS common_cnt
                 FROM inc i JOIN inc j ON i.b = j.b AND i.x < j.x
                 GROUP BY 1, 2)
      SELECT a, c, aa_micro, common_cnt FROM cand
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.src = cand.a AND p.dst = cand.c)
      ORDER BY aa_micro DESC, a, c LIMIT 100"""

  /** DuckDB twin of [[graft.functions.Graph.bfsHops]] (seeds 1..5,
    * 3 hops unrolled): fN = hop-N discoveries, dN = visited through N. */
  private val bfsOracle: String = {
    val hops = (1 to 3).map { h =>
      s"""n$h AS (SELECT DISTINCT p.dst AS node FROM pairs p
              JOIN f${h - 1} f ON f.node = p.src),
          f$h AS (SELECT node, $h AS hop FROM n$h
              WHERE node NOT IN (SELECT node FROM d${h - 1})),
          d$h AS (SELECT * FROM d${h - 1} UNION ALL SELECT * FROM f$h)"""
    }.mkString(",\n          ")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey),
          d0 AS (SELECT CAST(unnest([1, 2, 3, 4, 5]) AS BIGINT) AS node,
                        0 AS hop),
          f0 AS (SELECT node FROM d0),
          $hops
        SELECT node, hop FROM d3 ORDER BY node"""
  }

  /** DuckDB twin of [[graft.functions.Graph.hits]] (3 rounds unrolled):
    * arN = raw authority (from h(N-1)), hrN = raw hub (from RAW arN),
    * hN = max-rescaled hub; the reported authority is ar3 rescaled. */
  private val hitsOracle: String = {
    val rounds = (1 to 3).map { i =>
      s"""ar$i AS (SELECT p.dst, CAST(SUM(h.s) AS BIGINT) AS ra
              FROM pairs p JOIN h${i - 1} h ON h.node = p.src GROUP BY 1),
          hr$i AS (SELECT p.src, CAST(SUM(a.ra) AS BIGINT) AS rh
              FROM pairs p JOIN ar$i a ON a.dst = p.dst GROUP BY 1),
          h$i AS (SELECT src AS node,
              CAST(rh * 1000000 // (SELECT max(rh) FROM hr$i) AS BIGINT) AS s
              FROM hr$i)"""
    }.mkString(",\n          ")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey),
          nodes AS (SELECT DISTINCT src AS node FROM pairs),
          h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM nodes),
          $rounds,
          a3s AS (SELECT dst AS node,
              CAST(ra * 1000000 // (SELECT max(ra) FROM ar3) AS BIGINT) AS s
              FROM ar3)
        SELECT n.node, CAST(coalesce(h3.s, 0) AS BIGINT) AS hub_m,
               CAST(coalesce(a3s.s, 0) AS BIGINT) AS auth_m
        FROM nodes n
        LEFT JOIN h3 ON h3.node = n.node
        LEFT JOIN a3s ON a3s.node = n.node
        ORDER BY n.node"""
  }

  /** The Q1 pricing-summary oracle — shared verbatim by
    * `tpch_q1_pricing` and the IVM-merged `tpch_q1_incremental`. */
  private val q1OracleSql: String =
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(floor(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
              CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
              CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
              CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*(1+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_c,
              count(*) AS n
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** Shared CTE body of the [[graft.functions.Graph.deterministicWalks]]
    * twins (4 steps unrolled): sN = per-step salted-hash candidates,
    * wN = the argmin pick, wk = the full (wid, step, node) trace. Same
    * 48-bit md5 idiom as `shuffle_shards`. */
  private val walksCte: String = {
    val stepCtes = (1 to 4).map { s =>
      s"""s$s AS (SELECT w.wid, p.dst,
              CAST(('0x' || substr(md5(
                CAST(w.wid AS VARCHAR) || '_' || CAST(p.dst AS VARCHAR) || '_$s'),
                1, 12)) AS BIGINT) AS h
            FROM w${s - 1} w JOIN pairs p ON p.src = w.node),
          w$s AS (SELECT wid, $s AS step, dst AS node FROM (
              SELECT wid, dst, row_number() OVER (
                PARTITION BY wid ORDER BY h, dst) AS rn FROM s$s)
            WHERE rn = 1)"""
    }.mkString(",\n          ")
    s"""li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey),
          w0 AS (SELECT src AS wid, 0 AS step, src AS node
                 FROM (SELECT DISTINCT src FROM pairs) WHERE src % 40 = 0),
          $stepCtes,
          wk AS (SELECT * FROM w0 UNION ALL SELECT * FROM w1
          UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3
          UNION ALL SELECT * FROM w4)"""
  }

  private val walksOracle: String =
    s"""WITH $walksCte
        SELECT wid, step, node FROM wk ORDER BY wid, step"""

  /** DuckDB twin of [[graft.functions.Graph.node2vecWalks]] (4 steps
    * unrolled): cN = candidates with the p/q weight CASE (backtrack /
    * distance-1 via a LEFT JOIN back onto pairs / escape), bN = the
    * (wid, prev, cur) state after the `(h*1000)//w` race argmin. Step 1
    * is flat-weighted (no previous node), the node2vec convention.
    */
  private val biasedWalksOracle: String = {
    val stepCtes = (1 to 4).map { s =>
      val weight =
        if (s == 1) "1000"
        else """CASE WHEN p.dst = b.prev THEN 100
                     WHEN p2.src IS NOT NULL THEN 1000
                     ELSE 2500 END"""
      val nbrJoin =
        if (s == 1) ""
        else "LEFT JOIN pairs p2 ON p2.src = b.prev AND p2.dst = p.dst"
      s"""c$s AS (SELECT b.wid, b.cur, p.dst,
              CAST(('0x' || substr(md5(
                CAST(b.wid AS VARCHAR) || '_' || CAST(p.dst AS VARCHAR) || '_$s'),
                1, 12)) AS BIGINT) AS h,
              $weight AS w
            FROM b${s - 1} b JOIN pairs p ON p.src = b.cur
            $nbrJoin),
          b$s AS (SELECT wid, cur AS prev, dst AS cur FROM (
              SELECT wid, cur, dst, row_number() OVER (
                PARTITION BY wid ORDER BY (h * 1000) // w, dst) AS rn FROM c$s)
            WHERE rn = 1)"""
    }.mkString(",\n          ")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey),
          b0 AS (SELECT src AS wid, src AS prev, src AS cur
                 FROM (SELECT DISTINCT src FROM pairs) WHERE src % 40 = 0),
          $stepCtes
        SELECT wid, step, node FROM (
          SELECT wid, 0 AS step, cur AS node FROM b0
          UNION ALL SELECT wid, 1, cur FROM b1
          UNION ALL SELECT wid, 2, cur FROM b2
          UNION ALL SELECT wid, 3, cur FROM b3
          UNION ALL SELECT wid, 4, cur FROM b4)
        ORDER BY wid, step"""
  }

  /** DuckDB twin of [[graft.functions.Graph.skipGramPairs]] over the
    * same unrolled walks: both-direction window-2 co-occurrence counts. */
  private val walkPairsOracle: String =
    s"""WITH $walksCte
        SELECT a.node AS center, b.node AS context, count(*) AS pair_cnt
        FROM wk a JOIN wk b
          ON a.wid = b.wid AND a.step <> b.step
         AND abs(a.step - b.step) <= 2
        GROUP BY 1, 2
        ORDER BY center, context"""

  /** `log2(x) * 1024` in DuckDB (the [[graft.functions.TextAnalysis]]
    * bit-length idiom: integer part from the binary digit count, 10-bit
    * linear interpolation — identical arithmetic on both engines). */
  private def duckLog2Q10(x: String): String =
    s"((length(bin($x)) - 1) * 1024 + " +
      s"(($x << 10) // (CAST(1 AS BIGINT) << (length(bin($x)) - 1))) - 1024)"

  /** DuckDB twin of [[graft.functions.Graph.sgnsNegatives]]: the same
    * unrolled walks -> unigram counts -> integer cnt^(3/4) weights
    * (Q10 log round-trip) -> cumulative intervals -> 3 md5 draws per
    * skip-gram pair, resolved with a plain RANGE join (the Spark side's
    * bucketed equi-join must produce the identical assignment). */
  private val walkNegativesOracle: String =
    s"""WITH $walksCte,
          uni AS (SELECT node, count(*) AS cnt FROM wk GROUP BY 1),
          wts AS (SELECT node,
                    ((y % 1024 + 1024) * (CAST(1 AS BIGINT) << (y // 1024))) // 1024 AS w
                  FROM (SELECT node, (3 * ${duckLog2Q10("cnt")}) // 4 AS y FROM uni)),
          cum AS (SELECT node, w,
                    CAST(SUM(w) OVER (ORDER BY node
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
                  FROM wts),
          iv AS (SELECT node, hi - w AS lo, hi FROM cum),
          tot AS (SELECT max(hi) AS t FROM iv),
          prs AS (SELECT a.node AS center, b.node AS context, count(*) AS pair_cnt
                  FROM wk a JOIN wk b
                    ON a.wid = b.wid AND a.step <> b.step
                   AND abs(a.step - b.step) <= 2
                  GROUP BY 1, 2),
          drw AS (SELECT center, context, pair_cnt, j AS neg_rank,
                    CAST(('0x' || substr(md5(
                      CAST(center AS VARCHAR) || '_' || CAST(context AS VARCHAR)
                        || '_' || CAST(j AS VARCHAR)), 1, 12)) AS BIGINT) % t AS draw
                  FROM prs
                  CROSS JOIN tot
                  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS j))
        SELECT d.center, d.context, d.pair_cnt, d.neg_rank, i.node AS neg_node
        FROM drw d JOIN iv i ON d.draw >= i.lo AND d.draw < i.hi
        ORDER BY center, context, neg_rank"""

  private val analyticsOracles: Map[String, String] = Map(
    "graph_pagerank" -> pagerankOracle,
    "graph_pagerank_weighted" -> pagerankWeightedOracle,
    "graph_ppr" -> pprOracle,
    "graph_kcore" -> kcoreOracle,
    // the incremental refresh must land on the cold peel's hash
    "graph_kcore_incremental" -> kcoreOracle,
    // incremental CC refresh must land on the cold reachability hash
    "graph_cc_incremental" ->
      """WITH RECURSIVE
          li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          half AS (SELECT a.pk AS src, b.pk AS dst
                   FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                   GROUP BY 1, 2 HAVING count(*) >= 2),
          edges AS (SELECT src AS a, dst AS b FROM half
                    UNION SELECT dst, src FROM half),
          reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) s(a)
            UNION
            SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node)
          SELECT node, min(r) AS cluster_id
          FROM reach GROUP BY 1 ORDER BY node""",
    "link_prediction" -> linkPredictionOracle,
    "graph_hops" -> bfsOracle,
    // the incremental refresh must land on the cold recompute's hash
    "graph_hops_incremental" -> bfsOracle,
    "graph_hits" -> hitsOracle,
    "graph_walks" -> walksOracle,
    "graph_walks_biased" -> biasedWalksOracle,
    "graph_walk_pairs" -> walkPairsOracle,
    "graph_walk_negatives" -> walkNegativesOracle,
    "table_profile_orders" -> {
      def row(c: String, minR: String, maxR: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
               count(*) - count($c) AS n_nulls,
               count(DISTINCT $c) AS n_distinct,
               $minR AS min_repr, $maxR AS max_repr FROM orders"""
      Seq(
        row("o_orderkey", "CAST(min(o_orderkey) AS VARCHAR)",
          "CAST(max(o_orderkey) AS VARCHAR)"),
        row("o_custkey", "CAST(min(o_custkey) AS VARCHAR)",
          "CAST(max(o_custkey) AS VARCHAR)"),
        row("o_orderstatus", "min(o_orderstatus)", "max(o_orderstatus)"),
        row("o_totalprice",
          "CAST(CAST(floor(min(o_totalprice)*100) AS BIGINT) AS VARCHAR)",
          "CAST(CAST(floor(max(o_totalprice)*100) AS BIGINT) AS VARCHAR)"),
        row("o_orderdate", "CAST(epoch_us(min(o_orderdate)) AS VARCHAR)",
          "CAST(epoch_us(max(o_orderdate)) AS VARCHAR)"),
        row("o_orderpriority", "min(o_orderpriority)", "max(o_orderpriority)"))
        .mkString(" UNION ALL ") + " ORDER BY \"column\""
    },
    "graph_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey),
          deg AS (SELECT src, count(*) AS d FROM pairs GROUP BY 1),
          o AS (SELECT p.src, p.dst
                FROM pairs p JOIN deg a ON a.src = p.src
                             JOIN deg b ON b.src = p.dst
                WHERE a.d < b.d OR (a.d = b.d AND p.src < p.dst)),
          t AS (SELECT w.a, w.b, w.c
                FROM (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                      FROM o e1 JOIN o e2 ON e1.dst = e2.src) w
                JOIN o e3 ON e3.src = w.a AND e3.dst = w.c)
          SELECT node, count(*) AS tri_cnt FROM (
            SELECT a AS node FROM t
            UNION ALL SELECT b FROM t
            UNION ALL SELECT c FROM t)
          GROUP BY 1 ORDER BY node""",
    // plain cold triangle count over the SURVIVING restricted edges —
    // the maintainer's batched inserts + reversed delete must land on it
    "graph_triangles_maintained" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey
                    WHERE a.l_partkey % 10 = 0 AND b.l_partkey % 10 = 0),
          surv AS (SELECT src, dst FROM pairs
                   WHERE NOT (src < dst AND (src * 11 + dst) % 7 = 0)
                     AND NOT (dst < src AND (dst * 11 + src) % 7 = 0)),
          deg AS (SELECT src, count(*) AS d FROM surv GROUP BY 1),
          o AS (SELECT p.src, p.dst
                FROM surv p JOIN deg a ON a.src = p.src
                            JOIN deg b ON b.src = p.dst
                WHERE a.d < b.d OR (a.d = b.d AND p.src < p.dst)),
          t AS (SELECT w.a, w.b, w.c
                FROM (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                      FROM o e1 JOIN o e2 ON e1.dst = e2.src) w
                JOIN o e3 ON e3.src = w.a AND e3.dst = w.c)
          SELECT node, count(*) AS tri_cnt FROM (
            SELECT a AS node FROM t
            UNION ALL SELECT b FROM t
            UNION ALL SELECT c FROM t)
          GROUP BY 1 ORDER BY node""",
    "graph_triangles_delta" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          sym AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                  FROM li a JOIN li b
                    ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey),
          half AS (SELECT src, dst FROM sym WHERE src < dst),
          d AS (SELECT src AS u, dst AS v FROM half
                WHERE (src * 31 + dst) % 10 = 0),
          -- T1: closers of each delta edge in the full graph (a triangle
          -- with k delta edges lands k times)
          t1 AS (SELECT d.u, d.v, e1.dst AS w
                 FROM d JOIN sym e1 ON e1.src = d.u
                        JOIN sym e2 ON e2.src = d.v AND e2.dst = e1.dst),
          symd AS (SELECT u, v FROM d UNION ALL SELECT v, u FROM d),
          -- T2: two delta edges sharing w, closed by ANY full half-edge
          t2 AS (SELECT w1.v AS u, w2.v AS v, w1.u AS w
                 FROM symd w1 JOIN symd w2
                   ON w1.u = w2.u AND w1.v < w2.v
                 JOIN half h ON h.src = w1.v AND h.dst = w2.v),
          -- T3: delta-only triangles, canonical-distinct (once each)
          t3 AS (SELECT DISTINCT least(d.u, d.v, s1.v) AS u,
                   d.u + d.v + s1.v - least(d.u, d.v, s1.v)
                     - greatest(d.u, d.v, s1.v) AS v,
                   greatest(d.u, d.v, s1.v) AS w
                 FROM d JOIN symd s1 ON s1.u = d.u
                        JOIN symd s2 ON s2.u = d.v AND s2.v = s1.v)
          SELECT node, CAST(sum(m) AS BIGINT) AS tri_delta FROM (
            SELECT u AS node, 1 AS m FROM t1
            UNION ALL SELECT v, 1 FROM t1
            UNION ALL SELECT w, 1 FROM t1
            UNION ALL SELECT u, -1 FROM t2
            UNION ALL SELECT v, -1 FROM t2
            UNION ALL SELECT w, -1 FROM t2
            UNION ALL SELECT u, 1 FROM t3
            UNION ALL SELECT v, 1 FROM t3
            UNION ALL SELECT w, 1 FROM t3)
          GROUP BY 1 HAVING sum(m) <> 0 ORDER BY node""",
    // the retraction must land on the BASE graph's cold triangle counts
    "graph_triangles_retract" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
          pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                    FROM li a JOIN li b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey),
          -- the base graph: undirected edges OUTSIDE the 10% delta split
          base AS (SELECT src, dst FROM pairs
                   WHERE (least(src, dst) * 31 + greatest(src, dst)) % 10 <> 0),
          deg AS (SELECT src, count(*) AS d FROM base GROUP BY 1),
          o AS (SELECT p.src, p.dst
                FROM base p JOIN deg a ON a.src = p.src
                            JOIN deg b ON b.src = p.dst
                WHERE a.d < b.d OR (a.d = b.d AND p.src < p.dst)),
          t AS (SELECT w.a, w.b, w.c
                FROM (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                      FROM o e1 JOIN o e2 ON e1.dst = e2.src) w
                JOIN o e3 ON e3.src = w.a AND e3.dst = w.c)
          SELECT node, count(*) AS tri_cnt FROM (
            SELECT a AS node FROM t
            UNION ALL SELECT b FROM t
            UNION ALL SELECT c FROM t)
          GROUP BY 1 ORDER BY node""",
    "session_paths" ->
      """WITH o AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 14400000000
                       THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM o),
         p AS (SELECT user_id, sid,
                 string_agg(event_type, '>' ORDER BY ts, event_id) AS path
               FROM sess GROUP BY 1, 2)
         SELECT path, count(*) AS n_sessions
         FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 50""",
    "scd2_user_state" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
                    FROM events),
          x AS (SELECT user_id, event_type, tsu, event_id,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY tsu, event_id) AS prev
                FROM e),
          isl AS (SELECT user_id, event_type, tsu, event_id FROM x
                  WHERE prev IS NULL OR prev <> event_type)
          SELECT user_id, event_type AS attr, tsu AS valid_from_us,
                 lead(tsu) OVER (PARTITION BY user_id
                   ORDER BY tsu, event_id) AS valid_to_us,
                 CAST(lead(tsu) OVER (PARTITION BY user_id
                   ORDER BY tsu, event_id) IS NULL AS BIGINT) AS is_current
          FROM isl ORDER BY user_id, valid_from_us""",
    "pivot_daily_by_type" ->
      """SELECT epoch_us(date_trunc('day', ts)) AS day_us,
                CAST(sum(CASE WHEN event_type = 'click'
                  THEN CAST(floor(value*100) AS BIGINT) END) AS BIGINT) AS click_centi,
                CAST(sum(CASE WHEN event_type = 'view'
                  THEN CAST(floor(value*100) AS BIGINT) END) AS BIGINT) AS view_centi,
                CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value*100) AS BIGINT) END) AS BIGINT) AS purchase_centi,
                CAST(sum(CASE WHEN event_type = 'error'
                  THEN CAST(floor(value*100) AS BIGINT) END) AS BIGINT) AS error_centi,
                CAST(sum(CASE WHEN event_type = 'signup'
                  THEN CAST(floor(value*100) AS BIGINT) END) AS BIGINT) AS signup_centi
         FROM events GROUP BY 1 ORDER BY 1""",
    "tpch_q1_pricing" -> q1OracleSql,
    // the incremental (merged base+delta) form must land on the SAME
    // hash as the plain full aggregate — that equality IS the IVM proof
    "tpch_q1_incremental" -> q1OracleSql,
    // plain full join: the composed delta terms must hash-match it
    "join_view_incremental" ->
      """SELECT o.o_orderkey, c.c_custkey AS custkey,
                CAST(floor(o.o_totalprice*100) AS BIGINT) AS o_totalprice_c,
                c.c_name,
                CAST(floor(c.c_acctbal*100) AS BIGINT) AS c_acctbal_c
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o.o_orderkey""",
    // plain full join+aggregate: the delta-folded monoid state must
    // hash-match it (the join-agg IVM proof against an independent engine)
    "join_agg_incremental" ->
      """SELECT o.o_custkey AS custkey, c.c_name,
                CAST(sum(CAST(floor(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c,
                count(*) AS n_orders
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1, 2
         ORDER BY custkey""",
    "tpch_q3_top_orders" ->
      """SELECT o_orderkey,
                CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS rev_c
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY o_orderkey
         ORDER BY rev_c DESC, o_orderkey LIMIT 10""",
    "tpch_q5_nation_revenue" ->
      """SELECT n_name,
                CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name ORDER BY n_name""",
    "tpch_q6_revenue_delta" ->
      """SELECT CAST(sum(CAST(floor(l_extendedprice*l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""",
    "tpch_q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, sum_qty_c FROM (
           SELECT l_orderkey,
                  CAST(sum(CAST(floor(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
           FROM lineitem GROUP BY l_orderkey
           HAVING sum_qty_c > 15000) q
         JOIN orders ON l_orderkey = o_orderkey
         ORDER BY sum_qty_c DESC, o_orderkey LIMIT 20""",
    "tpch_q4_priority_count" ->
      """SELECT o_orderpriority, count(*) AS n
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate)
         GROUP BY 1 ORDER BY 1""",
    "tpch_q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
                CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "tpch_q8_market_share" ->
      """WITH base AS (
           SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
                  n1.n_name AS supp_nation,
                  CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT) AS cents
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
           JOIN region ON n2.n_regionkey = r_regionkey
           WHERE r_name = 'ASIA')
         SELECT l_year, nation_rev_c, total_rev_c,
                CAST(floor(nation_rev_c * 1000.0 / total_rev_c) AS BIGINT) AS share_milli
         FROM (
           SELECT l_year,
                  CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN cents ELSE 0 END) AS BIGINT)
                    AS nation_rev_c,
                  CAST(sum(cents) AS BIGINT) AS total_rev_c
           FROM base GROUP BY 1)
         ORDER BY l_year""",
    "tpch_q9_profit" ->
      """SELECT n_name, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS o_year,
                CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)
                       - CAST(floor(l_quantity*p_retailprice*10) AS BIGINT)) AS BIGINT) AS profit_c
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%widget%'
         GROUP BY 1, 2
         ORDER BY n_name, o_year DESC""",
    "funnel_click_purchase" -> funnelOracleSql,
    "funnel_chunked" -> funnelOracleSql,
    "funnel_steps" ->
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         m1 AS (SELECT user_id, ts_us, event_id FROM (
                  SELECT user_id, ts_us, event_id,
                         row_number() OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS rn
                  FROM ev WHERE event_type = 'view') WHERE rn = 1),
         m2 AS (SELECT user_id, ts_us, event_id FROM (
                  SELECT e.user_id, e.ts_us, e.event_id,
                         row_number() OVER (PARTITION BY e.user_id
                           ORDER BY e.ts_us, e.event_id) AS rn
                  FROM ev e JOIN m1 ON m1.user_id = e.user_id
                   AND (e.ts_us > m1.ts_us
                        OR (e.ts_us = m1.ts_us AND e.event_id > m1.event_id))
                  WHERE e.event_type = 'click') WHERE rn = 1),
         m3 AS (SELECT user_id, ts_us, event_id FROM (
                  SELECT e.user_id, e.ts_us, e.event_id,
                         row_number() OVER (PARTITION BY e.user_id
                           ORDER BY e.ts_us, e.event_id) AS rn
                  FROM ev e JOIN m2 ON m2.user_id = e.user_id
                   AND (e.ts_us > m2.ts_us
                        OR (e.ts_us = m2.ts_us AND e.event_id > m2.event_id))
                  WHERE e.event_type = 'purchase') WHERE rn = 1)
         SELECT m1.user_id, m1.ts_us AS t1_us, m2.ts_us AS t2_us,
                m3.ts_us AS t3_us,
                CAST(1 + CASE WHEN m2.user_id IS NULL THEN 0 ELSE 1 END
                       + CASE WHEN m3.user_id IS NULL THEN 0 ELSE 1 END
                     AS BIGINT) AS steps_reached
         FROM m1 LEFT JOIN m2 USING (user_id) LEFT JOIN m3 USING (user_id)
         ORDER BY m1.user_id""",
    "value_deciles" ->
      """WITH v AS (
           SELECT event_type, CAST(floor(value*1000) AS BIGINT) AS value_milli, event_id
           FROM events),
         t AS (
           SELECT event_type, value_milli,
                  CAST(ntile(10) OVER (PARTITION BY event_type
                    ORDER BY value_milli, event_id) AS BIGINT) AS decile
           FROM v)
         SELECT event_type, decile, count(*) AS n,
                min(value_milli) AS lo, max(value_milli) AS hi
         FROM t GROUP BY 1, 2 ORDER BY event_type, decile""",
    "tpch_q10_returned_top" ->
      """SELECT c_custkey, c_name,
                CAST(floor(c_acctbal*100) AS BIGINT) AS acctbal_c, n_name,
                CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue_c DESC, c_custkey LIMIT 20""",
    "tpch_q13_order_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey) c
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "tpch_q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS total_c
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_c
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_c = (SELECT max(total_c) FROM rev)
         ORDER BY s_suppkey""",
    "tpch_q17_small_qty" ->
      """WITH li AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#3'),
         a AS (SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty FROM li GROUP BY 1)
         SELECT CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev_c,
                count(*) AS n
         FROM li JOIN a ON l_partkey = pk
         WHERE l_quantity < 0.2 * avg_qty""",
    "tpch_q19_brand_bands" ->
      """SELECT CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c,
                count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 30)""",
    "tpch_q22_idle_rich" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
                           CAST(floor(c_acctbal*100) AS BIGINT) AS acctbal_c
                    FROM customer)
         SELECT c_nationkey, count(*) AS numcust,
                CAST(sum(acctbal_c) AS BIGINT) AS totacctbal_c
         FROM c
         WHERE acctbal_c > (SELECT sum(acctbal_c) * 1.0 / count(*) FROM c WHERE acctbal_c > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
         GROUP BY 1 ORDER BY 1""",
    "tpch_q2_min_cost_supp" ->
      """WITH ps AS (
           SELECT l_partkey, l_suppkey,
                  min(CAST(floor(l_extendedprice*100) AS BIGINT)) AS supplycost_c
           FROM lineitem GROUP BY 1, 2),
         eu AS (
           SELECT s_suppkey, s_name,
                  CAST(floor(s_acctbal*100) AS BIGINT) AS acctbal_c, n_name
           FROM supplier
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         cand AS (
           SELECT p.p_partkey, p.p_type, eu.s_name, eu.acctbal_c, eu.n_name,
                  ps.supplycost_c,
                  min(ps.supplycost_c) OVER (PARTITION BY p.p_partkey) AS min_cost_c
           FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey
           JOIN part p ON ps.l_partkey = p.p_partkey
           WHERE p.p_size <= 5)
         SELECT acctbal_c, s_name, n_name, p_partkey, p_type, supplycost_c
         FROM cand WHERE supplycost_c = min_cost_c
         ORDER BY acctbal_c DESC, n_name, s_name, p_partkey LIMIT 100""",
    "tpch_q11_important_supply" ->
      """WITH v AS (
           SELECT l_partkey,
                  CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS value_c
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_7' GROUP BY 1)
         SELECT l_partkey, value_c FROM v
         WHERE value_c > (SELECT CAST(floor(sum(value_c)/1000.0) AS BIGINT) FROM v)
         ORDER BY value_c DESC, l_partkey""",
    "tpch_q12_late_priority" ->
      """SELECT l_linestatus,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
           AND EXTRACT(year FROM l_shipdate) = 1997
         GROUP BY 1 ORDER BY 1""",
    "tpch_q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
                CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#5' AND p_type <> 'bolt'
           AND p_size IN (1,4,9,16,25,36,49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "tpch_q20_excess_supply" ->
      """WITH sq AS (
           SELECT l_partkey, l_suppkey,
                  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE 'small%' AND EXTRACT(year FROM l_shipdate) = 1998
           GROUP BY 1, 2),
         tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM sq GROUP BY 1),
         dom AS (SELECT DISTINCT l_suppkey FROM sq JOIN tot USING (l_partkey)
                 WHERE 2*qty > total_qty)
         SELECT s_name, CAST(floor(s_acctbal*100) AS BIGINT) AS acctbal_c
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND s_suppkey IN (SELECT l_suppkey FROM dom)
         ORDER BY s_name""",
    "tpch_q21_waiting_supp" ->
      """WITH l1 AS (
           SELECT l_orderkey, l_suppkey
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'
             AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
         SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
         FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
         WHERE EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM l1 l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey)
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10""",
    "top_users_by_value" ->
      """SELECT user_id,
                CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS total_milli
         FROM events GROUP BY user_id
         ORDER BY total_milli DESC, user_id LIMIT 10""",
    "cohort_retention" ->
      """WITH weekly AS (
           SELECT DISTINCT epoch_us(ts) // 604800000000 AS w, user_id FROM events),
         first AS (SELECT user_id, min(w) AS cw FROM weekly GROUP BY 1),
         sizes AS (SELECT cw, count(*) AS cohort_size FROM first GROUP BY 1),
         act AS (SELECT f.cw, w.w - f.cw AS week_offset, count(*) AS n_active
                 FROM weekly w JOIN first f USING (user_id) GROUP BY 1, 2)
         SELECT a.cw AS cohort_week, a.week_offset, a.n_active, s.cohort_size,
                CAST((a.n_active * 1000) // s.cohort_size AS BIGINT) AS retention_milli
         FROM act a JOIN sizes s USING (cw)
         ORDER BY cohort_week, week_offset""",
    "event_transitions" ->
      """WITH seq AS (
           SELECT user_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev_type
           FROM events),
         c AS (SELECT prev_type, event_type AS next_type,
                      CAST(count(*) AS BIGINT) AS n
               FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, next_type, n,
                CAST((n * 1000) // sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
                  AS permille
         FROM c ORDER BY prev_type, next_type""",
    "key_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
          t AS (SELECT sum(n) AS t FROM c)
         SELECT c.user_id, c.n, CAST((c.n * 1000) // t.t AS BIGINT) AS permille
         FROM c, t ORDER BY c.n DESC, c.user_id LIMIT 20""",
    "daily_active_users" ->
      """SELECT (epoch_us(ts)//86400000000)*86400 AS day_start,
                count(DISTINCT user_id) AS dau, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    // the IVM-merged DAU must land on the same plain-aggregate hash
    "dau_incremental" ->
      """SELECT (epoch_us(ts)//86400000000)*86400 AS day_start,
                count(DISTINCT user_id) AS dau, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "events_anomaly_days" ->
      """WITH daily AS (SELECT event_type, (epoch_us(ts)//86400000000)*86400 AS day_start,
                               count(*) AS n
                        FROM events GROUP BY 1, 2),
          base AS (SELECT *, count(n) OVER w AS base_n, sum(n) OVER w AS base_sum
                   FROM daily
                   WINDOW w AS (PARTITION BY event_type ORDER BY day_start
                                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
          SELECT event_type, day_start, n,
                 CAST(base_sum AS BIGINT) AS base_sum, CAST(base_n AS BIGINT) AS base_n
          FROM base WHERE base_n >= 3 AND 20 * n * base_n > 23 * base_sum
          ORDER BY event_type, day_start""",
    "user_retention" ->
      """WITH daily AS (SELECT DISTINCT epoch_us(ts)//86400000000 AS d, user_id
                        FROM events),
          act AS (SELECT d, count(*) AS active FROM daily GROUP BY d),
          ret AS (SELECT a.d, count(*) AS retained_next
                  FROM daily a JOIN daily b
                    ON b.user_id = a.user_id AND b.d = a.d + 1
                  GROUP BY a.d)
          SELECT act.d AS day_idx, act.active,
                 coalesce(ret.retained_next, 0) AS retained_next,
                 coalesce(ret.retained_next, 0) * 1000 // act.active AS retention_milli
          FROM act LEFT JOIN ret ON ret.d = act.d
          ORDER BY day_idx""",
    "events_enriched_by_segment" ->
      """SELECT c_mktsegment, count(*) AS n,
                CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS total_milli
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "tpch_q14_promo_share" ->
      """SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS promo_rev_c,
                CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS total_rev_c
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""",
    "asof_latest_order" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_order_key
                    FROM orders GROUP BY 1, 2)
         SELECT event_id, user_id, last_order_key AS asof_last_order_key
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
         ORDER BY event_id""",
    "rank_user_top_days" ->
      """WITH daily AS (
           SELECT user_id, (epoch_us(ts)//86400000000)*86400 AS day_start,
                  CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS spend_milli
           FROM events GROUP BY 1, 2)
         SELECT user_id, day_start, spend_milli, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY user_id
             ORDER BY spend_milli DESC, day_start) AS BIGINT) AS rank
           FROM daily)
         WHERE rank <= 3 ORDER BY user_id, rank""",
    "rollup_pricing" ->
      """SELECT coalesce(l_returnflag, '<all>') AS rflag,
                coalesce(l_linestatus, '<all>') AS lstatus,
                CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
                count(*) AS n
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY rflag, lstatus""",
    "cube_pricing" ->
      """SELECT coalesce(l_returnflag, '<all>') AS rflag,
                coalesce(l_linestatus, '<all>') AS lstatus,
                CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
                CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
                CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
                count(*) AS n
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY rflag, lstatus""",
    "percentiles_by_type" ->
      """SELECT event_type,
                quantile_cont(CAST(floor(value*1000) AS BIGINT), 0.5) AS p50,
                quantile_cont(CAST(floor(value*1000) AS BIGINT), 0.9) AS p90,
                quantile_cont(CAST(floor(value*1000) AS BIGINT), 0.99) AS p99,
                count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "json_props_sum" ->
      """SELECT event_type,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""")
}
