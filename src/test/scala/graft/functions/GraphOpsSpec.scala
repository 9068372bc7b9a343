package graft.functions

import graft.SparkSpec
import graft.functions.Checkpoints.Owned

/** Property tests for the round-11 graph additions: k-core peeling,
  * common-neighbor link prediction, multi-source BFS. Each operator is
  * checked against a naive in-memory implementation on random graphs
  * (the [[FunctionsSpec]] triangle-spec idiom) plus hand-traced planted
  * shapes.
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Random symmetric edge list + its adjacency map. */
  private def randomGraph(seed: Long, nodes: Int, draws: Int)
      : (Seq[(Long, Long)], Map[Long, Set[Long]]) = {
    val rnd = new scala.util.Random(seed)
    val raw = Seq.fill(draws)((rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      .filter(p => p._1 != p._2).distinct
    val sym = (raw ++ raw.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (sym, adj)
  }

  /** Naive synchronous peeling, `rounds` rounds — the kCore contract. */
  private def naivePeel(adj: Map[Long, Set[Long]], k: Int, rounds: Int)
      : Map[Long, Long] = {
    var alive = adj.filter(_._2.size >= k).keySet
    for (_ <- 1 to rounds)
      alive = alive.filter(n => (adj(n) & alive).size >= k)
    alive.map(n => n -> (adj(n) & alive).size.toLong).toMap
  }

  /** Shuffle exchanges in a printed physical plan. The lookbehinds drop
    * `BroadcastExchange` (its node name embeds the word) and
    * `ReusedExchange` (a reuse of either kind moves no new rows).
    */
  private def shuffleExchanges(plan: String): Int =
    "(?<!Broadcast)(?<!Reused)Exchange ".r.findAllIn(plan).length

  /** The served-path layout property: a per-round step that joins a
    * stored bucketed edge table on its bucket key shuffles at most the
    * node-sized side (one Exchange), and the edge scan reads bucketed.
    * Broadcast joins are off while planning, so a small node frame
    * cannot hide an edge-side exchange behind a broadcast.
    */
  private def assertEdgeSideUnshuffled(
      steps: (String, org.apache.spark.sql.DataFrame)*): Unit = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try steps.foreach { case (name, step) =>
      val plan = step.queryExecution.executedPlan.toString
      assert(shuffleExchanges(plan) <= 1, s"$name: edge side must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"$name: edge scan must read bucketed:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** The smoke corpus the served-path tests build their graphs from. */
  private lazy val lineitem = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")

  /** `df` written as a catalog table bucketed (8 buckets) on `key`. */
  private def bucketed(df: org.apache.spark.sql.DataFrame, table: String,
      key: String): org.apache.spark.sql.DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val path = tempDir(s"graft-$table").toString
    graft.sinks.Lake.writeBucketed(df, table, path, Seq(key), numBuckets = 8)
    spark.table(table)
  }

  test("kCore equals naive synchronous peeling on random graphs") {
    for (seed <- Seq(23L, 29L); k <- Seq(2, 3, 4)) {
      val (sym, adj) = randomGraph(seed, 24, 90)
      val got = Graph.kCore(sym.toDF("src", "dst"), "src", "dst", k, rounds = 6)
        .as[(Long, Long)].collect().toMap
      assert(got === naivePeel(adj, k, 6), s"seed $seed k $k")
      // 6 rounds is past the fixpoint on these graphs: one more round
      // changes nothing (the exact-k-core claim)
      val more = Graph.kCore(sym.toDF("src", "dst"), "src", "dst", k, rounds = 7)
        .as[(Long, Long)].collect().toMap
      assert(got === more, s"seed $seed k $k: round 7 still peeling")
      // the incremental half-edge plan is bit-identical on the same graph
      val half = sym.filter(p => p._1 < p._2)
      val gotHalf = Graph.kCoreHalf(half.toDF("src", "dst"), k, rounds = 6)
        .as[(Long, Long)].collect().toMap
      assert(gotHalf === got, s"seed $seed k $k: half-edge plan diverges")
      // ...including MID-PEEL (budget exhausted before the fixpoint: the
      // closing subtraction must align degrees to the final survivor set)
      for (r <- Seq(1, 2)) {
        val syncR = Graph.kCore(sym.toDF("src", "dst"), "src", "dst", k, rounds = r)
          .as[(Long, Long)].collect().toMap
        val incR = Graph.kCoreHalf(half.toDF("src", "dst"), k, rounds = r)
          .as[(Long, Long)].collect().toMap
        assert(incR === syncR, s"seed $seed k $k rounds $r: mid-peel diverges")
      }
    }
  }

  test("kCore: K5 with a pendant chain peels down to exactly the K5") {
    // K5 on 0..4 (degree 4 inside) + chain 4-10-11 (degrees 1..2):
    // 3-core = the K5, every member at in-core degree 4
    val k5 = for { a <- 0L to 4L; b <- 0L to 4L if a != b } yield (a, b)
    val chain = Seq((4L, 10L), (10L, 4L), (10L, 11L), (11L, 10L))
    val got = Graph.kCore((k5 ++ chain).toDF("src", "dst"), "src", "dst",
        k = 3, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === (0L to 4L).map(_ -> 4L).toMap)
  }

  test("commonNeighborLinks equals naive capped Adamic-Adar on random graphs") {
    for (seed <- Seq(31L, 37L); cap <- Seq(4, 8)) {
      val (sym, adj) = randomGraph(seed, 20, 70)
      val got = Graph.commonNeighborLinks(sym.toDF("src", "dst"), "src", "dst",
          degCap = cap, topK = 1000)
        .as[(Long, Long, Long, Long)].collect().toSeq
      // naive: for each non-adjacent a<c, AA mass through capped-degree
      // common neighbors, floor division in micro-units
      val nodes = adj.keys.toSeq.sorted
      val naive = (for {
        i <- nodes.indices; j <- (i + 1) until nodes.size
        a = nodes(i); c = nodes(j)
        if !adj(a)(c)
        common = (adj(a) & adj(c)).filter(b => adj(b).size <= cap)
        if common.nonEmpty
      } yield (a, c, common.toSeq.map(b => 1000000L / adj(b).size).sum,
        common.size.toLong)).toSeq
      assert(got.toSet === naive.toSet, s"seed $seed cap $cap")
      // output order is the declared total order
      val ord = got.map(r => (-r._3, r._1, r._2))
      assert(ord === ord.sorted, s"seed $seed cap $cap: order")
    }
  }

  test("commonNeighborLinks: square predicts its two diagonals only") {
    // cycle 0-1-2-3-0: diagonals {0,2} and {1,3} each share two degree-2
    // neighbors -> aa 2 * (1000000 div 2) = 1000000, count 2
    val sq = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val sym = sq ++ sq.map(_.swap)
    val got = Graph.commonNeighborLinks(sym.toDF("src", "dst"), "src", "dst",
        degCap = 10, topK = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((0L, 2L, 1000000L, 2L), (1L, 3L, 1000000L, 2L)))
  }

  test("bfsHops equals naive BFS on random graphs, truncated at maxHops") {
    for (seed <- Seq(41L, 43L)) {
      val (sym, adj) = randomGraph(seed, 30, 50)
      val seeds = Seq(0L, 1L)
      for (maxHops <- Seq(1, 2, 4)) {
        val got = Graph.bfsHops(sym.toDF("src", "dst"), "src", "dst", seeds, maxHops)
          .as[(Long, Int)].collect().toMap
        // naive BFS from the seed set
        var dist = seeds.map(_ -> 0).toMap
        var frontier = seeds.toSet
        for (h <- 1 to maxHops) {
          val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- dist.keySet
          dist = dist ++ next.map(_ -> h)
          frontier = next
        }
        assert(got === dist, s"seed $seed maxHops $maxHops")
      }
    }
  }

  test("hits equals a naive integer HITS on random graphs") {
    def naiveHits(adj: Map[Long, Set[Long]], iters: Int): Map[Long, (Long, Long)] = {
      // symmetric adj: in-neighbors == out-neighbors. One normalization
      // per round (hub side); reported authority = final RAW frame
      // rescaled — the hits() contract
      val nodes = adj.keys.toSeq.sorted
      var hub = nodes.map(_ -> 1000000L).toMap
      var auth = Map.empty[Long, Long]
      for (i <- 1 to iters) {
        val ra = nodes.map(n => n -> adj(n).toSeq.map(hub).sum).toMap
        val rh = nodes.map(n => n -> adj(n).toSeq.map(ra).sum).toMap
        val mxh = rh.values.max
        hub = rh.view.mapValues(v => v * 1000000L / mxh).toMap
        if (i == iters) {
          val mxa = ra.values.max
          auth = ra.view.mapValues(v => v * 1000000L / mxa).toMap
        }
      }
      nodes.map(n => n -> (hub(n), auth(n))).toMap
    }
    for (seed <- Seq(47L, 53L); iters <- Seq(1, 3)) {
      val (sym, adj) = randomGraph(seed, 22, 80)
      val got = Graph.hits(sym.toDF("src", "dst"), "src", "dst", iters)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got === naiveHits(adj, iters), s"seed $seed iters $iters")
    }
  }

  test("hits: symmetric star — center is the sole top authority") {
    val star = ((1L to 5L).map(l => (0L, l)) ++ (1L to 5L).map(l => (l, 0L)))
      .toDF("src", "dst")
    val got = Graph.hits(star, "src", "dst", iterations = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // hand-traced: every hub rescales back to 1e6 each round; authority
    // stays (center 1e6, each leaf 200000 = 1e6 div 5)
    assert(got === ((0L -> (1000000L, 1000000L)) +:
      (1L to 5L).map(_ -> (1000000L, 200000L))).toMap)
  }

  test("hits rescale is exact past Long.MaxValue/1e6 raw scores") {
    // parallel-edge amplified 2-node graph: ra = 4000e6, rh = 1.6e13, so
    // the rescale product rh * 1e6 = 1.6e19 OVERFLOWS a long (Long.Max
    // ~9.2e18) — the pre-r12 multiply wrapped negative here while the
    // DuckDB twin (HUGEINT) stayed exact. The DECIMAL(38,0) widening
    // must land both nodes at exactly 1e6 hub and 1e6 authority.
    val dup = (1 to 4000).flatMap(_ => Seq((0L, 1L), (1L, 0L))).toDF("src", "dst")
    val got = Graph.hits(dup, "src", "dst", iterations = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map(0L -> (1000000L, 1000000L), 1L -> (1000000L, 1000000L)))
  }

  test("hits served from src- and dst-bucketed edge tables equals direct") {
    // the cluster form doubled for hits' two propagation directions: the
    // SAME edge set stored twice (bucketed by src for the authority
    // half-step, by dst for the hub half-step), broadcastScores=false +
    // checkpointEdges=false — bit-equality with the direct path, and
    // each half-step's join leaves the edge side unshuffled
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val edges = Graph.copurchaseEdges(graft.sources.Tables.lineitem(spark, d))
    val direct = Graph.hits(edges, "src", "dst", iterations = 3)
      .as[(Long, Long, Long)].collect().toSet
    val base = tempDir("graft-hitsedges").toString
    spark.sql("DROP TABLE IF EXISTS hits_edges_src")
    spark.sql("DROP TABLE IF EXISTS hits_edges_dst")
    graft.sinks.Lake.writeBucketed(edges, "hits_edges_src", s"$base/src",
      Seq("src"), numBuckets = 8)
    graft.sinks.Lake.writeBucketed(edges, "hits_edges_dst", s"$base/dst",
      Seq("dst"), numBuckets = 8)
    val served = Graph.hits(spark.table("hits_edges_src"), "src", "dst",
        iterations = 3, broadcastScores = false, checkpointEdges = false,
        edgesByDst = Some(spark.table("hits_edges_dst")))
      .as[(Long, Long, Long)].collect().toSet
    assert(served === direct, "bucketed hits serving path diverges from direct")
    val eSrc = spark.table("hits_edges_src")
    val eDst = spark.table("hits_edges_dst")
    val score = eSrc.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("s")).checkpointed()
    assertEdgeSideUnshuffled(
      "auth(src)" -> eSrc
        .join(score.select(col("node").as("src"), col("s").as("h")), "src")
        .select(col("dst"), col("h")),
      "hub(dst)" -> eDst
        .join(score.select(col("node").as("dst"), col("s").as("a")), "dst")
        .select(col("src"), col("a")))
  }

  test("hits(verifyEdgeSets = true) throws when the two edge frames differ") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val direct = Graph.hits(edges, "src", "dst", iterations = 2)
      .as[(Long, Long, Long)].collect().toSet
    // the same edge set in a second frame passes the guard unchanged
    val same = Graph.hits(edges, "src", "dst", iterations = 2,
        edgesByDst = Some(edges.orderBy("dst")), verifyEdgeSets = true)
      .as[(Long, Long, Long)].collect().toSet
    assert(same === direct)
    val ex = intercept[IllegalArgumentException] {
      Graph.hits(edges, "src", "dst", iterations = 2,
        edgesByDst = Some(edges.filter($"src" =!= 1L)), verifyEdgeSets = true)
    }
    assert(ex.getMessage.contains("edgesByDst (2 rows) differ"), ex.getMessage)
  }

  test("skipGramPairs: window band, both directions, repeat counting") {
    val walks = Seq(
      (10L, 0, 0L), (10L, 1, 1L), (10L, 2, 2L), (10L, 3, 3L), // distinct chain
      (20L, 0, 7L), (20L, 1, 8L), (20L, 2, 7L))               // repeated node
      .toDF("wid", "step", "node")
    val got = Graph.skipGramPairs(walks, window = 2)
      .as[(Long, Long, Long)].collect().toSet
    val chainPairs = Set( // |i-j| <= 2, i != j, both directions, cnt 1 each
      (0L, 1L), (0L, 2L), (1L, 0L), (1L, 2L), (1L, 3L),
      (2L, 0L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 2L))
      .map { case (a, b) => (a, b, 1L) }
    // walk 20 (7,8,7): (7,8) from steps (0,1)+(2,1), (8,7) from (1,0)+(1,2),
    // (7,7) from (0,2)+(2,0)
    val repeatPairs = Set((7L, 8L, 2L), (8L, 7L, 2L), (7L, 7L, 2L))
    assert(got === chainPairs ++ repeatPairs)
    // pairs never cross walks: node 3 (walk 10) and node 7 (walk 20)
    assert(!got.exists(p => p._1 === 3L && p._2 === 7L))
  }

  test("deterministicWalks equals a naive salted-md5 walk on random graphs") {
    def h48(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16)
    }
    for (seed <- Seq(59L, 61L)) {
      val (sym, adj) = randomGraph(seed, 18, 60)
      val seedsSeq = adj.keys.toSeq.sorted.take(5)
      val got = Graph.deterministicWalks(sym.toDF("src", "dst"),
          "src", "dst", seedsSeq.toDF("node"), steps = 3)
        .as[(Long, Int, Long)].collect().toSet
      val naive = seedsSeq.flatMap { wid =>
        var cur = wid
        (wid, 0, wid) +: (1 to 3).flatMap { s =>
          val nbrs = adj.getOrElse(cur, Set.empty)
          if (nbrs.isEmpty) None
          else {
            cur = nbrs.toSeq.map(d => (h48(s"${wid}_${d}_$s"), d)).min._2
            Some((wid, s, cur))
          }
        }
      }.toSet
      assert(got === naive, s"seed $seed")
    }
  }

  test("pageRankWeighted: w=1 degenerates to pageRank; naive weighted " +
      "fixed-point equivalence") {
    val (sym, adj) = randomGraph(83L, 20, 70)
    // w = 1 everywhere: (r * 1) div tw == r div outd — bit-identical
    val flat = sym.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w")
    val viaW = Graph.pageRankWeighted(flat, "src", "dst", "w", iterations = 5)
      .as[(Long, Long)].collect().toMap
    val plain = Graph.pageRank(sym.toDF("src", "dst"), "src", "dst", iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(viaW === plain, "w=1 weighted pagerank diverges from pageRank")
    // deterministic weights (hash-derived, 1..5), naive JVM fixed point
    val weighted = sym.map { case (s, d) => (s, d, 1L + math.abs((s * 31 + d) % 5)) }
    val tw = weighted.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val contrib = weighted.groupBy(_._2).view.mapValues(_.map {
        case (s, _, ww) => r(s) * ww / tw(s)
      }.sum).toMap
      r = contrib.map { case (n, c) => n -> (150000L + 850L * c / 1000L) }
    }
    val gotW = Graph.pageRankWeighted(weighted.toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(gotW === r, "weighted pagerank diverges from the naive fixed point")
  }

  test("node2vecWalks equals a naive biased walk on random graphs") {
    def h48(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16)
    }
    def naive(adj: Map[Long, Set[Long]], seedsSeq: Seq[Long], steps: Int,
        ret: Long, in: Long, out: Long): Set[(Long, Int, Long)] =
      seedsSeq.flatMap { wid =>
        var prev = wid
        var cur = wid
        (wid, 0, wid) +: (1 to steps).flatMap { s =>
          val nbrs = adj.getOrElse(cur, Set.empty)
          if (nbrs.isEmpty) None
          else {
            val pick = nbrs.toSeq.map { d =>
              val w =
                if (s == 1) 1000L
                else if (d == prev) ret
                else if (adj.getOrElse(prev, Set.empty).contains(d)) in
                else out
              ((h48(s"${wid}_${d}_$s") * 1000L / w, d), d)
            }.minBy(_._1)._2
            prev = cur; cur = pick
            Some((wid, s, cur))
          }
        }
      }.toSet
    for (seed <- Seq(67L, 71L); (r, i, o) <- Seq((100L, 1000L, 2500L), (4000L, 500L, 1000L))) {
      val (sym, adj) = randomGraph(seed, 18, 60)
      val seedsSeq = adj.keys.toSeq.sorted.take(6)
      val got = Graph.node2vecWalks(sym.toDF("src", "dst"), "src", "dst",
          seedsSeq.toDF("node"), steps = 4,
          retPermille = r.toInt, inPermille = i.toInt, outPermille = o.toInt)
        .as[(Long, Int, Long)].collect().toSet
      assert(got === naive(adj, seedsSeq, 4, r, i, o), s"seed $seed weights ($r,$i,$o)")
    }
  }

  test("node2vecWalks: the return weight moves the backtrack rate") {
    val (sym, adj) = randomGraph(97L, 30, 120)
    val seedsSeq = adj.keys.toSeq.sorted.take(10).toDF("node")
    def backtracks(retPermille: Int): Long = {
      val w = Graph.node2vecWalks(sym.toDF("src", "dst"), "src", "dst",
          seedsSeq, steps = 5, retPermille, inPermille = 1000, outPermille = 1000)
        .as[(Long, Int, Long)].collect().toSeq
      // immediate backtracks: node at step s equals node at step s-2
      val byWalk = w.groupBy(_._1).values
      byWalk.map { trace =>
        val m = trace.map(t => t._2 -> t._3).toMap
        (2 to 5).count(s => m.contains(s) && m.get(s) == m.get(s - 2)).toLong
      }.sum
    }
    val lo = backtracks(1)       // backtracking ~forbidden (race key x1000)
    val hi = backtracks(1000000) // backtracking ~forced (race key /1000)
    // not exactly 0 vs max: degree-1 dead ends force a backtrack at any
    // weight, and a 1e-3-tail hash can still win a forbidden race — the
    // pinned property is the ORDER, which is what the p parameter means
    assert(lo < hi, s"return weight had no effect: lo=$lo hi=$hi")
  }

  test("deterministicWalks: a directed chain walks straight down it") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.deterministicWalks(chain, "src", "dst",
        Seq(0L).toDF("node"), steps = 3)
      .as[(Long, Int, Long)].collect().toSet
    assert(got === Set((0L, 0, 0L), (0L, 1, 1L), (0L, 2, 2L), (0L, 3, 3L)))
    // a sink seed stops after step 0
    val short = Graph.deterministicWalks(chain, "src", "dst",
        Seq(3L).toDF("node"), steps = 3)
      .as[(Long, Int, Long)].collect().toSet
    assert(short === Set((3L, 0, 3L)))
  }

  test("pageRank served from a bucketed edge table equals the direct path") {
    // the cluster serving form: edges written once via Lake.writeBucketed
    // (catalog-backed, bucketed on src), then pageRank with
    // broadcastRanks=false + checkpointEdges=false — per round only the
    // node-sized rank frame shuffles to the edge bucketing: fixed-point
    // bit-equality on the real co-purchase graph, and the per-round
    // rank join leaves the edge side unshuffled
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val edges = Graph.copurchaseEdges(graft.sources.Tables.lineitem(spark, d))
    val direct = Graph.pageRank(edges, "src", "dst", iterations = 5)
      .as[(Long, Long)].collect().toMap
    spark.sql("DROP TABLE IF EXISTS pr_edges_spec")
    val base = tempDir("graft-predges").toString
    graft.sinks.Lake.writeBucketed(edges, "pr_edges_spec", s"$base/edges",
      Seq("src"), numBuckets = 8)
    val served = Graph.pageRank(spark.table("pr_edges_spec"), "src", "dst",
        iterations = 5, broadcastRanks = false, checkpointEdges = false)
      .as[(Long, Long)].collect().toMap
    assert(served === direct, "bucketed serving path diverges from direct pageRank")
    val edgesB = spark.table("pr_edges_spec")
    val rankFrame = edgesB.groupBy(col("src")).agg(count(lit(1)).as("outd"))
      .select(col("src"), lit(1000000L).as("r"), col("outd")).checkpointed()
    assertEdgeSideUnshuffled("rank join" -> edgesB.join(rankFrame, "src")
      .select(col("dst"), expr("r div outd").as("c")))
  }

  test("bfsHops: chain distances, unreached nodes absent, seeds at hop 0") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L))
    val sym = chain ++ chain.map(_.swap)
    val got = Graph.bfsHops(sym.toDF("src", "dst"), "src", "dst", Seq(0L), 2)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 2)) // 3,4 beyond; 8,9 disconnected
  }

  test("communityLabels served from a dst-bucketed symmetric edge table equals direct") {
    // pre-symmetrized edges stored bucketed by dst with
    // assumeSymmetric=true + checkpointEdges=false: the per-round vote
    // join moves only the label frame
    import org.apache.spark.sql.functions._
    val direct = Graph.communityLabels(Graph.copurchaseHalfEdges(lineitem), "src", "dst",
        rounds = 3)
      .as[(Long, Long)].collect().toSet
    val sym = bucketed(Graph.copurchaseEdges(lineitem), "lpa_sym_spec", "dst")
    val served = Graph.communityLabels(sym, "src", "dst", rounds = 3,
        assumeSymmetric = true, checkpointEdges = false)
      .as[(Long, Long)].collect().toSet
    assert(served === direct, "bucketed LPA serving path diverges from direct")
    val labels = sym.select(col("dst").as("node")).distinct()
      .withColumn("label", col("node")).checkpointed()
    assertEdgeSideUnshuffled("vote join" -> sym
      .join(labels.select(col("node").as("dst"), col("label")), "dst")
      .select(col("src"), col("label")))
  }

  test("sgnsNegatives: exactly k per pair; the bucketed equi-join equals " +
      "a naive range join; weights follow the integer cnt^(3/4)") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val e = Graph.copurchaseEdges(graft.sources.Tables.lineitem(spark, d))
    val seeds = e.select(col("src").as("node")).distinct()
      .filter(pmod(col("node"), lit(40)) === 0)
    val walks = Graph.deterministicWalks(e, "src", "dst", seeds, steps = 4)
      .checkpointed()
    val k = 4
    val got = Graph.sgnsNegatives(walks, window = 2, negatives = k)
      .checkpointed()
    // every (center, context) pair emits exactly k negatives — i.e. each
    // draw lands in exactly ONE noise interval through the bucketed join
    val nPairs = Graph.skipGramPairs(walks, window = 2).count()
    assert(got.count() === nPairs * k)
    assert(got.groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"), countDistinct(col("neg_rank")).as("r"))
      .filter(col("n") =!= k || col("r") =!= k).count() === 0L)
    // the bucketed equi-join must assign each draw to the same interval a
    // naive range join would (recall-loss-free bucketing)
    val noise = Graph.sgnsNoiseTable(walks).checkpointed()
    val total = noise.agg(max(col("hi"))).head().getLong(0)
    val naive = Graph.skipGramPairs(walks, window = 2)
      .withColumn("neg_rank", explode(expr(s"sequence(1L, ${k}L)")))
      .withColumn("draw",
        conv(substring(md5(concat_ws("_",
          col("center"), col("context"), col("neg_rank"))), 1, 12), 16, 10)
          .cast("long") % lit(total))
      .join(noise, col("draw") >= col("lo") && col("draw") < col("hi"))
      .select(col("center"), col("context"), col("pair_cnt"),
        col("neg_rank"), col("node").as("neg_node"))
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
      "bucketed interval join diverges from the naive range join")
    // weight spot-checks: the integer Q10 round-trip of cnt^(3/4)
    // (exact at powers of 16: 16^(3/4) = 8)
    def w(cnt: Long): Long = {
      val y = 3L * graft.functions.TextAnalysis.log2Q10(cnt) / 4L
      ((y % 1024 + 1024) * (1L << (y / 1024).toInt)) / 1024
    }
    assert(w(1L) === 1L)
    assert(w(16L) === 8L)
    assert(w(256L) === 64L)
    // monotone, and strictly flatter than linear on a doubling
    assert(w(100L) > w(50L) && w(100L) < 2 * w(50L))
    // the chunked two-pass prefix sum is chunk-size-invariant: a tiny
    // chunkDiv (many chunks, every boundary exercised) lays out the
    // SAME intervals as one chunk holding the whole vocab
    val chunked = Graph.sgnsNoiseTable(walks, chunkDiv = 4L)
    assert(chunked.exceptAll(noise).isEmpty && noise.exceptAll(chunked).isEmpty,
      "chunked noise-table prefix sum diverges from the single-chunk layout")
  }

  test("communityLabels: assumeSymmetric input is result-invariant") {
    import org.apache.spark.sql.functions._
    val (sym, _) = randomGraph(seed = 77L, nodes = 120, draws = 900)
    val symDf = sym.toDF("src", "dst").checkpointed()
    val half = symDf.filter(col("src") < col("dst"))
    // pre-symmetrized input with the symmetrize skipped equals the
    // symmetrize-inside default
    val c = Graph.communityLabels(half, "src", "dst", rounds = 3)
    val d = Graph.communityLabels(symDf.distinct(), "src", "dst", rounds = 3,
      assumeSymmetric = true, checkpointEdges = false)
    assert(c.exceptAll(d).isEmpty && d.exceptAll(c).isEmpty)
  }

  test("maintained co-purchase weight table equals the full rebuild " +
      "batch-by-batch; replay is a no-op; an order cancellation retracts") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val li = graft.sources.Tables.lineitem(spark, d)
    val stateDir = tempDir("graft-cpw").toString
    // three order-batches (split by l_orderkey → COMPLETE baskets, the
    // maintenance contract), applied in sequence
    val batches = (0 to 2).map(r => li.filter(pmod(col("l_orderkey"), lit(3)) === r))
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    for ((b, i) <- batches.zipWithIndex) {
      assert(Graph.maintainCopurchaseWeights(spark, stateDir, b,
        partitions = 16, batchId = i.toLong))
      val want = Graph.copurchaseEdgesWeighted(
        li.filter(pmod(col("l_orderkey"), lit(3)) <= i))
      val got = Graph.readCopurchaseWeights(spark, stateDir).get
      assert(same(got, want),
        s"maintained weighted edge table diverges from the rebuild after batch $i")
    }
    // replay batch 1: marker-guarded no-op
    assert(!Graph.maintainCopurchaseWeights(spark, stateDir, batches(1),
      partitions = 16, batchId = 1L))
    assert(same(Graph.readCopurchaseWeights(spark, stateDir).get,
      Graph.copurchaseEdgesWeighted(li)))
    // cancel batch 2's orders (sign = -1, same complete-basket contract):
    // the table downdates to exactly the batch-0+1 rebuild — pairs whose
    // weight cancels to zero drop
    assert(Graph.maintainCopurchaseWeights(spark, stateDir, batches(2),
      partitions = 16, batchId = 3L, sign = -1L))
    assert(same(Graph.readCopurchaseWeights(spark, stateDir).get,
      Graph.copurchaseEdgesWeighted(
        li.filter(pmod(col("l_orderkey"), lit(3)) =!= 2))),
      "retraction diverges from the survivor rebuild")
  }

  test("triangleCountDelta: maintained per-node counts equal the full " +
      "recompute bit-for-bit for inserts AND deletes, including planted " +
      "2-delta-edge and 3-delta-edge triangles") {
    import org.apache.spark.sql.functions._
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    for (seed <- Seq(41L, 43L); fracMod <- Seq(10, 4)) {
      val (sym, _) = randomGraph(seed, 20, 140) // dense on purpose
      val half = sym.filter(p => p._1 < p._2)
      // planted: {100,101,102} all-delta (T3 term), {50,51,52} with the
      // base edge (50,51) and two delta edges (T2 term) — the
      // inclusion-exclusion must fire, not just the 1-new common case
      val planted2Base = Seq((50L, 51L))
      val planted2Delta = Seq((50L, 52L), (51L, 52L))
      val planted3 = Seq((100L, 101L), (100L, 102L), (101L, 102L))
      val (deltaRaw, baseRaw) = half.partition(p => (p._1 * 31 + p._2) % fracMod == 0)
      val baseSeq = (baseRaw ++ planted2Base).distinct
      val deltaSeq = (deltaRaw ++ planted2Delta ++ planted3).distinct
      val base = baseSeq.toDF("src", "dst")
      val delta = deltaSeq.toDF("src", "dst")
      val full = (baseSeq ++ deltaSeq).toDF("src", "dst")
      val cntBase = Graph.triangleCountsAdj(base)
      val cntFull = Graph.triangleCountsAdj(full)
      val d = Graph.triangleCountDelta(full, delta)
      // the r17 adjacency-intersect T1 arm must be bit-identical to the
      // wedge-join arm on the same (graph, delta) — the gate rows run it
      assert(same(Graph.triangleCountDelta(full, delta, t1ViaAdjacency = true), d),
        s"seed $seed mod $fracMod: adjacency T1 arm diverged from the wedge join")
      // r18 broadcast size gate: past `adjMaxBytes` a REQUESTED
      // adjacency arm falls back to the wedge join instead of
      // broadcasting a full-graph table. Bound 1 exercises the
      // plan-stats PRE-gate (64x headroom still sits below a local
      // relation's estimate, so the adjacency is never built); bound
      // 100 passes the pre-gate and exercises the precise
      // storage-bytes gate on the checkpointed adjacency. Both routes
      // must stay bit-identical.
      for (bound <- Seq(1L, 100L))
        assert(same(Graph.triangleCountDelta(full, delta, t1ViaAdjacency = true,
            adjMaxBytes = bound), d),
          s"seed $seed mod $fracMod bound $bound: size-gated fallback diverged")
      // the planted all-delta triangle is visible in the delta itself
      assert(d.filter(col("node").isin(100L, 101L, 102L))
        .count() === 3L, s"seed $seed mod $fracMod: T3 term missing")
      assert(same(Graph.applyTriangleDelta(cntBase, d, 1L), cntFull),
        s"seed $seed mod $fracMod: insert maintenance diverged from recompute")
      assert(same(Graph.applyTriangleDelta(cntFull, d, -1L), cntBase),
        s"seed $seed mod $fracMod: delete maintenance diverged from recompute")
    }
  }

  test("maintainTriangleCounts: partitioned-count-table state equals the " +
      "full recompute after every batch (inserts AND a retraction); " +
      "replay is a no-op; an empty FIRST batch cannot poison the state; " +
      "duplicate/reversed edges drop; untouched count partitions stay " +
      "byte-identical") {
    import org.apache.spark.sql.functions._
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val (sym, _) = randomGraph(47L, 24, 150)
    val half = sym.filter(p => p._1 < p._2)
    // three batches by hash + a planted cross-batch triangle (edges of
    // {200,201,202} spread over all three batches: every triangle edge
    // arrives in a different micro-batch)
    val parts = (0 to 2).map(r => half.filter(p => (p._1 * 7 + p._2) % 3 == r))
    val batches = Seq(
      parts(0) :+ ((200L, 201L)),
      parts(1) :+ ((200L, 202L)),
      parts(2) :+ ((201L, 202L)))
    val P = 16
    val stateDir = tempDir("graft-tri").toString
    // per-file CRC32 of the count table's data slices, keyed by
    // partition-relative path — the untouched-partition byte-identity probe
    def countCrcs(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(stateDir, "counts", "data")
      if (!java.nio.file.Files.exists(root)) Map.empty
      else {
        val it = java.nio.file.Files.walk(root).iterator()
        val out = scala.collection.mutable.Map[String, Long]()
        while (it.hasNext) {
          val p = it.next()
          if (java.nio.file.Files.isRegularFile(p) &&
              p.toString.endsWith(".parquet")) {
            val crc = new java.util.zip.CRC32()
            crc.update(java.nio.file.Files.readAllBytes(p))
            out(root.relativize(p).toString) = crc.getValue
          }
        }
        out.toMap
      }
    }
    def partOf(rel: String): String = rel.split("/").head // "__p=N"
    // empty FIRST batch: must commit its id without bricking the edge log
    assert(Graph.maintainTriangleCounts(spark, stateDir,
      Seq.empty[(Long, Long)].toDF("src", "dst"), batchId = 0L, partitions = P))
    assert(!Graph.maintainTriangleCounts(spark, stateDir,
      Seq.empty[(Long, Long)].toDF("src", "dst"), batchId = 0L, partitions = P),
      "replay not a no-op")
    var sofar = Seq.empty[(Long, Long)]
    for ((b, i) <- batches.zipWithIndex) {
      // duplicate robustness: re-send already-ingested edges, some REVERSED
      // (the canonicalization contract — a mirrored row must not coexist)
      val withDups = b ++ sofar.take(3).map(_.swap)
      assert(Graph.maintainTriangleCounts(spark, stateDir,
        withDups.toDF("src", "dst"), batchId = (i + 1).toLong, partitions = P))
      sofar = (sofar ++ b).distinct
      val want = Graph.triangleCountsAdj(sofar.toDF("src", "dst"))
      assert(same(Graph.readTriangleCounts(spark, stateDir).get, want),
        s"batch $i: maintained counts diverge from the recompute")
    }
    // the planted cross-batch triangle is present
    assert(Graph.readTriangleCounts(spark, stateDir).get
      .filter(col("node").isin(200L, 201L, 202L)).count() === 3L)
    // replay the LAST batch: state unchanged, every count file byte-identical
    val preReplay = countCrcs()
    assert(!Graph.maintainTriangleCounts(spark, stateDir,
      batches(2).toDF("src", "dst"), batchId = 3L, partitions = P))
    assert(countCrcs() === preReplay, "replay touched count partitions")
    assert(same(Graph.readTriangleCounts(spark, stateDir).get,
      Graph.triangleCountsAdj(sofar.toDF("src", "dst"))))
    // a SMALL insert batch rewrites only the partitions its affected
    // nodes hash into — the delta-sized-state-fold property the
    // partitioned layout exists for (the r13 snapshot layout rewrote
    // every count row per batch)
    val smallBatch = Seq((200L, 300L), (201L, 300L)) // closes {200,201,300}
    val before = countCrcs()
    assert(Graph.maintainTriangleCounts(spark, stateDir,
      smallBatch.toDF("src", "dst"), batchId = 4L, partitions = P))
    sofar = (sofar ++ smallBatch).distinct
    assert(same(Graph.readTriangleCounts(spark, stateDir).get,
      Graph.triangleCountsAdj(sofar.toDF("src", "dst"))),
      "small insert batch diverges from the recompute")
    val afterIns = countCrcs()
    val affectedIns = spark.range(1)
      .select(explode(array(Seq(200L, 201L, 300L).map(lit): _*)).as("node"))
      .select(pmod(xxhash64(col("node")), lit(P)).as("p"))
      .distinct().as[Long].collect().map(p => s"__p=$p").toSet
    val untouchedIns = before.keys.filterNot(r => affectedIns(partOf(r))).toSeq
    assert(untouchedIns.nonEmpty, "probe vacuous: every partition affected")
    untouchedIns.foreach(r => assert(afterIns(r) === before(r),
      s"count slice $r rewritten by a batch whose nodes do not hash there"))
    // RETRACTION: delete the planted triangle's closing edge plus one
    // random logged edge — delivered REVERSED (canonicalization) and with
    // one never-logged edge (presence semantics: absent deletes drop)
    val delEdges = Seq((202L, 201L), (sofar.head._2, sofar.head._1), (888L, 999L))
    val beforeDel = countCrcs()
    assert(Graph.maintainTriangleCounts(spark, stateDir,
      delEdges.toDF("src", "dst"), batchId = 5L, partitions = P, sign = -1L))
    val surviving = sofar.filterNot(e =>
      e == (201L, 202L) || e == sofar.head)
    assert(same(Graph.readTriangleCounts(spark, stateDir).get,
      Graph.triangleCountsAdj(surviving.toDF("src", "dst"))),
      "retraction diverges from the cold recompute over the surviving log")
    // the edge LOG itself holds exactly the survivors
    assert(same(
      spark.read.parquet(s"$stateDir/edges").select(col("src"), col("dst")),
      surviving.toDF("src", "dst")),
      "edge log diverges from the surviving edge set after the delete")
    // untouched count partitions byte-identical through the delete too
    val afterDel = countCrcs()
    val delNodes = Graph.triangleCountDelta(
      sofar.toDF("src", "dst"),
      Seq((201L, 202L), (math.min(sofar.head._1, sofar.head._2),
        math.max(sofar.head._1, sofar.head._2))).toDF("src", "dst"))
      .select(pmod(xxhash64(col("node")), lit(P)).as("p"))
      .distinct().as[Long].collect().map(p => s"__p=$p").toSet
    val untouchedDel = beforeDel.keys.filterNot(r => delNodes(partOf(r))).toSeq
    assert(untouchedDel.nonEmpty, "delete probe vacuous: every partition affected")
    untouchedDel.foreach(r => assert(afterDel.get(r) === Some(beforeDel(r)),
      s"count slice $r rewritten by a delete whose nodes do not hash there"))
    // replayed delete: a no-op on counts AND log
    val preDelReplay = countCrcs()
    assert(!Graph.maintainTriangleCounts(spark, stateDir,
      delEdges.toDF("src", "dst"), batchId = 5L, partitions = P, sign = -1L),
      "replayed delete not a no-op")
    assert(countCrcs() === preDelReplay)
    assert(same(Graph.readTriangleCounts(spark, stateDir).get,
      Graph.triangleCountsAdj(surviving.toDF("src", "dst"))))
    // a different partition modulus fails fast (the pinned-P contract)
    intercept[IllegalArgumentException] {
      Graph.maintainTriangleCounts(spark, stateDir,
        Seq((1L, 9L)).toDF("src", "dst"), batchId = 6L, partitions = P + 1)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
  }

  test("a delete batch of the triangle and the label maintainer rewrites " +
      "only the edge-log batches holding a deleted edge: the others stay " +
      "byte-identical, a batch whose edges all died loses its dir") {
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // per-file CRC32 of the edge log, keyed by log-relative path
    def logCrcs(stateDir: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(stateDir, "edges")
      val it = java.nio.file.Files.walk(root).iterator()
      val out = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet")) {
          val crc = new java.util.zip.CRC32()
          crc.update(java.nio.file.Files.readAllBytes(p))
          out(root.relativize(p).toString) = crc.getValue
        }
      }
      out.toMap
    }
    def inBatch(crcs: Map[String, Long], b: Long) = crcs.filter(_._1.startsWith(s"batch=$b/"))
    val batches = Seq(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)),
      Seq((3L, 4L), (4L, 5L)),
      Seq((5L, 6L), (6L, 7L), (5L, 7L)))
    // every edge of batch 2 and one of batch 3, delivered reversed
    val deleted = Seq((4L, 3L), (5L, 4L), (7L, 6L))
    val surviving = batches(0) ++ batches(2).filterNot(_ == ((6L, 7L)))
    val maintainers: Seq[(String, (String, Seq[(Long, Long)], Long, Long) => Boolean)] = Seq(
      "triangles" -> ((dir, edges, id, sign) =>
        Graph.maintainTriangleCounts(spark, dir, edges.toDF("src", "dst"), id, sign = sign)),
      "labels" -> ((dir, edges, id, sign) =>
        Graph.maintainCommunityLabels(spark, dir, edges.toDF("src", "dst"), id,
          rounds = 3, sign = sign)))
    for ((name, maintain) <- maintainers) {
      val stateDir = tempDir(s"graft-log-$name").toString
      batches.zipWithIndex.foreach { case (b, i) =>
        assert(maintain(stateDir, b, i + 1L, 1L), s"$name: insert batch ${i + 1}")
      }
      val before = logCrcs(stateDir)
      assert(Seq(1L, 2L, 3L).forall(b => inBatch(before, b).nonEmpty),
        s"$name: the fixture logged an empty batch")
      assert(maintain(stateDir, deleted, 4L, -1L), s"$name: delete batch")
      val after = logCrcs(stateDir)
      assert(inBatch(after, 1L) === inBatch(before, 1L),
        s"$name: batch=1 holds no deleted edge but was rewritten")
      assert(!new java.io.File(s"$stateDir/edges/batch=2").exists(),
        s"$name: batch=2 lost every edge but its dir stayed")
      assert(inBatch(after, 3L).nonEmpty && inBatch(after, 3L) != inBatch(before, 3L),
        s"$name: batch=3 held a deleted edge but was not rewritten")
      assert(same(spark.read.parquet(s"$stateDir/edges").select($"src", $"dst"),
        surviving.toDF("src", "dst")), s"$name: the log holds other than the survivors")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
    }
  }

  test("seedTriangleCounts: seed + incremental batches == cold recompute " +
      "over the union; seeding a non-empty state dir refuses; the legacy " +
      "counts/v= layout fails fast; rebuildTriangleCounts recovers a " +
      "mangled count table from the edge log") {
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val (sym, _) = randomGraph(83L, 30, 220)
    val half = sym.filter(p => p._1 < p._2)
    // seed corpus = ~3/4 of edges; two incremental batches carry the rest
    val seedEdges = half.filter(p => (p._1 * 5 + p._2) % 4 != 0)
    val later = half.filterNot(seedEdges.toSet)
    // (5a+b)%4==0 forces a+b even, so any linear-parity split would
    // leave one side empty — split by position instead
    val (b1i, b2i) = later.zipWithIndex.partition(_._2 % 2 == 0)
    val (b1, b2) = (b1i.map(_._1), b2i.map(_._1))
    val P = 8
    val stateDir = tempDir("graft-triseed").toString
    Graph.seedTriangleCounts(spark, stateDir, seedEdges.toDF("src", "dst"),
      partitions = P)
    assert(same(Graph.readTriangleCounts(spark, stateDir).get,
      Graph.triangleCountsAdj(seedEdges.toDF("src", "dst"))),
      "seeded counts diverge from the cold recompute over the seed")
    // seeding again (or over any non-empty state) must refuse loudly
    val ex = intercept[IllegalArgumentException] {
      Graph.seedTriangleCounts(spark, stateDir,
        b1.toDF("src", "dst"), partitions = P)
    }
    assert(ex.getMessage.contains("refusing to seed"))
    // incremental batches resume at batchId >= 1 on the seeded state
    assert(Graph.maintainTriangleCounts(spark, stateDir,
      b1.toDF("src", "dst"), batchId = 1L, partitions = P))
    assert(Graph.maintainTriangleCounts(spark, stateDir,
      b2.toDF("src", "dst"), batchId = 2L, partitions = P))
    assert(same(Graph.readTriangleCounts(spark, stateDir).get,
      Graph.triangleCountsAdj(half.toDF("src", "dst"))),
      "seed + incremental batches diverge from the cold union recompute")
    // recovery: mangle the count table (the mid-merge crash stand-in),
    // rebuild from the edge log, verify counts AND that replaying a
    // committed batch is a no-op again (markers restored)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$stateDir/counts/data"))
    // no partitions arg: the rebuild must preserve the pinned modulus
    Graph.rebuildTriangleCounts(spark, stateDir)
    assert(same(Graph.readTriangleCounts(spark, stateDir).get,
      Graph.triangleCountsAdj(half.toDF("src", "dst"))),
      "rebuilt counts diverge from the cold recompute over the log")
    assert(!Graph.maintainTriangleCounts(spark, stateDir,
      b2.toDF("src", "dst"), batchId = 2L, partitions = P),
      "rebuild lost the commit markers: a committed batch re-applied")
    // and maintenance continues on the rebuilt state
    assert(Graph.maintainTriangleCounts(spark, stateDir,
      Seq((900L, 901L)).toDF("src", "dst"), batchId = 3L, partitions = P))
    // legacy r13 layout (counts/v=<id>, no counts/meta): fail fast with
    // the migration pointer instead of silently seeding fresh state
    val legacyDir = tempDir("graft-trileg").toString
    new java.io.File(s"$legacyDir/counts/v=3").mkdirs()
    val exLeg = intercept[IllegalArgumentException] {
      Graph.maintainTriangleCounts(spark, legacyDir,
        Seq((1L, 2L)).toDF("src", "dst"), batchId = 0L, partitions = P)
    }
    assert(exLeg.getMessage.contains("legacy"))
    intercept[IllegalArgumentException] {
      Graph.readTriangleCounts(spark, legacyDir)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(legacyDir))
  }

  test("bfsHopsDelta: refreshed hop table equals the cold recompute on " +
      "random graphs; a planted shortcut propagates improvements over " +
      "many rounds; a delta edge with an unreachable source fires once " +
      "its source improves") {
    import org.apache.spark.sql.functions._
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val seeds = Seq(1L, 2L, 3L)
    for (seed <- Seq(53L, 59L); fracMod <- Seq(5, 3)) {
      val (sym, _) = randomGraph(seed, 30, 70) // sparse: real hop spread
      val (deltaSeq, baseSeq) = sym.partition(p => (p._1 * 13 + p._2) % fracMod == 0)
      val base = baseSeq.toDF("src", "dst")
      val full = sym.toDF("src", "dst")
      val old = Graph.bfsHops(base, "src", "dst", seeds, maxHops = 3)
      val got = Graph.bfsHopsDelta(full, "src", "dst", old,
        deltaSeq.toDF("src", "dst"), maxHops = 3)
      val want = Graph.bfsHops(full, "src", "dst", seeds, maxHops = 3)
      assert(same(got, want), s"seed $seed mod $fracMod: delta refresh diverged")
    }
    // planted: a 10-link chain reachable only through the delta edge
    // (1 -> 300) — improvements must propagate 11 rounds deep — plus the
    // two-delta-edge dependency (1 -> 400), (400 -> 401): the second
    // delta edge's source is unreachable until the first lands, so it
    // must fire from the relaxation over edgesAfter, not the init scan
    val chain = (0 until 10).map(i => (300L + i, 301L + i))
    val baseP = (Seq((1L, 10L), (10L, 11L)) ++ chain).toDF("src", "dst")
    val deltaP = Seq((1L, 300L), (1L, 400L), (400L, 401L))
    val fullP = (Seq((1L, 10L), (10L, 11L)) ++ chain ++ deltaP).toDF("src", "dst")
    val oldP = Graph.bfsHops(baseP, "src", "dst", seeds, maxHops = 12)
    val gotP = Graph.bfsHopsDelta(fullP, "src", "dst", oldP,
      deltaP.toDF("src", "dst"), maxHops = 12)
    val wantP = Graph.bfsHops(fullP, "src", "dst", seeds, maxHops = 12)
    assert(same(gotP, wantP), "planted shortcut/unreachable-source diverged")
    // the chain's tail and the two-hop delta node really are new arrivals
    assert(gotP.filter(col("node") === 310L).select("hop")
      .head().getInt(0) === 11)
    assert(gotP.filter(col("node") === 401L).select("hop")
      .head().getInt(0) === 2)
  }

  test("kCoreDelta: refreshed core equals the cold converged peel on " +
      "random graphs; a planted K5 completed by the delta promotes all " +
      "five nodes as a mutual-support cascade; core-core delta edges " +
      "refresh the stored in-core degrees") {
    import org.apache.spark.sql.functions._
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    for (seed <- Seq(61L, 67L); kk <- Seq(3, 4); fracMod <- Seq(5)) {
      val (sym, _) = randomGraph(seed, 24, 110)
      val half = sym.filter(p => p._1 < p._2)
      // planted K5 on 100..104 with two edges withheld from the base:
      // degrees drop to 3 for four of the five, so at k=4 NONE are in
      // the base core; the delta completes the clique and all five must
      // promote together (the upward closure no greedy per-node test
      // finds) — plus a planted core-core edge class via the random part
      val k5 = for (a <- 100L to 104L; b <- a + 1 to 104L) yield (a, b)
      val withheld = Set((100L, 101L), (102L, 103L))
      val baseSeq = (half.filter(p => (p._1 * 11 + p._2) % fracMod != 0)
        ++ k5.filterNot(withheld)).distinct
      val fullSeq = (half ++ k5).distinct
      val base = baseSeq.toDF("src", "dst")
      val full = fullSeq.toDF("src", "dst")
      val old = Graph.kCoreHalf(base, kk, rounds = 12)
      // contract precondition: the old core is converged (round 13 idle)
      assert(same(old, Graph.kCoreHalf(base, kk, rounds = 13)))
      val got = Graph.kCoreDelta(full, old, kk)
      val want = Graph.kCoreHalf(full, kk, rounds = 12)
      assert(same(got, want), s"seed $seed k $kk: delta refresh diverged")
      if (kk == 4) {
        assert(old.filter(col("node").isin(100L, 101L, 102L, 103L, 104L))
          .count() === 0L, "planted clique leaked into the base core")
        assert(got.filter(col("node").isin(100L, 101L, 102L, 103L, 104L))
          .count() === 5L, "mutual-support cascade did not promote the K5")
      }
    }
  }

  test("compactTriangleLog / compactCommunityLabelsLog: maintained state " +
      "byte-identical across the log fold; consumed ids refuse loudly; " +
      "maintenance (incl. a delete) continues on the folded log") {
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val (sym, _) = randomGraph(67L, 24, 150)
    val half = sym.filter(p => p._1 < p._2)
    val (b1i, b2i) = half.zipWithIndex.partition(_._2 % 2 == 0)
    val (b1, b2) = (b1i.map(_._1), b2i.map(_._1))
    val P = 8
    // triangles: two insert batches + a delete, then fold the log
    val tri = tempDir("graft-trilog").toString
    Graph.maintainTriangleCounts(spark, tri, b1.toDF("src", "dst"), 0L, P)
    Graph.maintainTriangleCounts(spark, tri, b2.toDF("src", "dst"), 1L, P)
    val del = Seq(half.head)
    Graph.maintainTriangleCounts(spark, tri, del.toDF("src", "dst"), 2L, P,
      sign = -1L)
    def counts() = Graph.readTriangleCounts(spark, tri).get
    val survivors = half.filterNot(del.toSet)
    assert(same(counts(), Graph.triangleCountsAdj(survivors.toDF("src", "dst"))))
    Graph.compactTriangleLog(spark, tri, targetFiles = 2)
    assert(same(counts(), Graph.triangleCountsAdj(survivors.toDF("src", "dst"))),
      "log fold changed the maintained counts")
    assert(new java.io.File(s"$tri/edges").listFiles()
      .count(_.getName.startsWith("batch=")) === 1, "log not folded")
    assert(new java.io.File(s"$tri/deletes").listFiles() == null ||
      new java.io.File(s"$tri/deletes").listFiles().isEmpty,
      "finished delete resolutions not reclaimed")
    // consumed ids refuse loudly; committed replays remain no-ops only
    // for ids whose applied markers survive — they all do
    assert(!Graph.maintainTriangleCounts(spark, tri, b2.toDF("src", "dst"),
      1L, P), "replay of a committed batch stopped being a no-op")
    val ex = intercept[IllegalArgumentException] {
      // an UNSEEN id at/below the fold target (3 batches folded at
      // max id 2; id 2's marker exists so use a gap id — simulate by
      // removing a marker)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$tri/counts/applied/batch=1"))
      Graph.maintainTriangleCounts(spark, tri, b2.toDF("src", "dst"), 1L, P)
    }
    assert(ex.getMessage.contains("consumed by a log compaction"))
    // maintenance continues above the fold: insert + delete
    Graph.maintainTriangleCounts(spark, tri,
      Seq((900L, 901L), (900L, 902L), (901L, 902L)).toDF("src", "dst"), 3L, P)
    Graph.maintainTriangleCounts(spark, tri,
      Seq((901L, 902L)).toDF("src", "dst"), 4L, P, sign = -1L)
    val survivors2 = survivors ++ Seq((900L, 901L), (900L, 902L))
    assert(same(counts(), Graph.triangleCountsAdj(survivors2.toDF("src", "dst"))),
      "post-fold maintenance diverges from the cold recompute")

    // community labels: same shape
    val lpa = tempDir("graft-lpalog").toString
    Graph.maintainCommunityLabels(spark, lpa, b1.toDF("src", "dst"), 0L,
      rounds = 3, partitions = P)
    Graph.maintainCommunityLabels(spark, lpa, b2.toDF("src", "dst"), 1L,
      rounds = 3, partitions = P)
    def labels() = Graph.readCommunityLabels(spark, lpa).get
    val coldAll = Graph.communityLabels(half.toDF("src", "dst"), "src", "dst", 3)
    assert(same(labels(), coldAll))
    Graph.compactCommunityLabelsLog(spark, lpa, targetFiles = 2)
    assert(same(labels(), coldAll), "log fold changed the maintained labels")
    assert(new java.io.File(s"$lpa/edges").listFiles()
      .count(_.getName.startsWith("batch=")) === 1)
    Graph.maintainCommunityLabels(spark, lpa,
      Seq((0L, 23L)).toDF("src", "dst"), 2L, rounds = 3, partitions = P)
    assert(same(labels(), Graph.communityLabels(
      (half :+ ((0L, 23L))).distinct.toDF("src", "dst"), "src", "dst", 3)),
      "post-fold label maintenance diverges from the cold recompute")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tri))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lpa))
  }

  test("communityLabelsRefreshAuto: routes delta on a delta-local ring " +
      "and cold on a hub graph — both arms bit-identical to the cold " +
      "fixed-round recompute") {
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val rounds = 3
    // delta-local: a 60-ring; a chord's 2-hop ball is ~10 of 60 nodes
    val ring = (0L until 60L).map(i => (i, (i + 1) % 60L))
    val ringOld = Graph.communityLabels(ring.toDF("src", "dst"), "src", "dst", rounds)
    val ringAfter = (ring ++ Seq((10L, 40L))).toDF("src", "dst")
    val rRing = Graph.communityLabelsRefreshAuto(ringAfter, "src", "dst",
      rounds, ringOld, Seq((10L, 40L)).toDF("src", "dst"))
    assert(rRing.route === "delta",
      "ring chord's 2-hop ball is delta-local: must take the cone refresh")
    assert(same(rRing.result,
      Graph.communityLabels(ringAfter, "src", "dst", rounds)),
      "cone route diverged from the cold fixed-round recompute")
    // hub: a star — any delta's 2-hop ball saturates through the center
    val star = (1L until 40L).map(i => (0L, i))
    val starOld = Graph.communityLabels(star.toDF("src", "dst"), "src", "dst", rounds)
    val starAfter = (star ++ Seq((1L, 2L))).toDF("src", "dst")
    val rStar = Graph.communityLabelsRefreshAuto(starAfter, "src", "dst",
      rounds, starOld, Seq((1L, 2L)).toDF("src", "dst"))
    assert(rStar.route === "cold",
      "star delta's 2-hop ball saturates: must take the cold recompute")
    assert(same(rStar.result,
      Graph.communityLabels(starAfter, "src", "dst", rounds)))
  }

  test("communityLabelsDelta: the shrinking-cone refresh is bit-identical " +
      "to the cold fixed-round recompute on random graphs; on a planted " +
      "chain, nodes beyond k hops keep their old labels while the cone " +
      "stays delta-local") {
    import org.apache.spark.sql.functions._
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    for (seed <- Seq(53L, 59L); k <- Seq(2, 3)) {
      val (sym, _) = randomGraph(seed, 40, 160)
      val half = sym.filter(p => p._1 < p._2)
      val (deltaRaw, baseRaw) =
        half.partition(p => (p._1 * 13 + p._2) % 12 == 0)
      assume(deltaRaw.nonEmpty && baseRaw.nonEmpty)
      val old = Graph.communityLabels(
        baseRaw.toDF("src", "dst"), "src", "dst", rounds = k)
      val got = Graph.communityLabelsDelta(half.toDF("src", "dst"),
        "src", "dst", k, old, deltaRaw.toDF("src", "dst"))
      val want = Graph.communityLabels(
        half.toDF("src", "dst"), "src", "dst", rounds = k)
      assert(same(got, want),
        s"seed $seed k $k: cone refresh diverged from the cold recompute")
    }
    // planted 30-node chain, one delta edge hanging a new node off node 0:
    // the 2k-ball covers only the chain's head, everything farther keeps
    // its old label row VERBATIM (the merge's left_anti branch)
    val chain = (0L until 29L).map(i => (i, i + 1))
    val deltaE = Seq((0L, 100L))
    val k = 3
    val old = Graph.communityLabels(
      chain.toDF("src", "dst"), "src", "dst", rounds = k)
    val got = Graph.communityLabelsDelta(
      (chain ++ deltaE).toDF("src", "dst"), "src", "dst", k, old,
      deltaE.toDF("src", "dst"))
    val want = Graph.communityLabels(
      (chain ++ deltaE).toDF("src", "dst"), "src", "dst", rounds = k)
    assert(same(got, want), "chain: cone refresh diverged from cold")
    // the theorem's boundary, checked explicitly: labels at distance > k
    // from the delta endpoints are the OLD rows (here: chain nodes > 3;
    // the delta-born node 100 is inside the ball and has no old row)
    val farGot = got.filter(col("node") > 3L && col("node") < 100L)
    val farOld = old.filter(col("node") > 3L)
    assert(same(farGot, farOld), "far-from-delta labels were not preserved")
  }

}
