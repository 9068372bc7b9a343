package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Checkpoints.Owned

/** Iterative graph computation on DataFrames — the pregel-shaped family
  * beyond [[Curation.connectedComponents]]'s pointer jumping.
  *
  * All arithmetic is integer fixed-point (micro-units, floor division)
  * so results are bit-identical across engines — an unrolled SQL twin
  * reproduces every iteration exactly, which is what lets PageRank sit
  * behind the hash-compare gate rather than a tolerance check.
  */
object Graph {

  /** PageRank over an edge list, `iterations` synchronous rounds.
    *
    * Semantics (fixed-point, per node v with at least one in-edge):
    * {{{
    *   r_0(v)   = 1_000_000                       // 1.0 in micro-units
    *   r_k+1(v) = (1000 - dampMilli) * 1000
    *            + (dampMilli * Σ_{u→v} (r_k(u) div outdeg(u))) div 1000
    * }}}
    * Floor division at both steps makes every iterate a pure function of
    * longs — no float drift, no engine-specific rounding. Callers that
    * want the textbook probabilities divide by 1e6 * N at the end.
    *
    * Scale shape per iteration: one join of the (large) edge list with
    * the (node-sized) rank frame on `src` — AQE broadcasts the rank side
    * whenever nodes << edges, so the edge list is NEVER re-shuffled — and
    * one partial-aggregating groupBy(dst). The plan grows linearly with
    * rounds (each round's agg is consumed exactly once), so lineage is
    * cut only every `checkpointEvery` rounds (eager `localCheckpoint`;
    * swap for reliable `checkpoint` on a real cluster) — an every-round
    * cut would serialize a full materialization job per round for
    * nothing. Dangling-mass
    * bookkeeping is deliberately out of scope: feed a symmetrized edge
    * list (every node with an in-edge has out-edges) as
    * [[copurchaseEdges]] does.
    *
    * Input edges should be pre-deduplicated (multi-edges count multiple
    * times, the standard weighted reading).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      dampMilli: Int = 850,
      broadcastRanks: Boolean = true,
      checkpointEvery: Int = 8,
      checkpointEdges: Boolean = true): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1 (got $iterations)")
    require(dampMilli >= 0 && dampMilli <= 1000,
      s"dampMilli must be in [0, 1000] (got $dampMilli)")
    // materialize the edge list ONCE — it is re-read every round, and an
    // un-checkpointed caller frame (e.g. a distinct() over a self-join)
    // would re-execute its whole lineage per iteration. EXCEPTION
    // (checkpointEdges = false): when `edges` IS a stored table — in
    // particular one bucketed by `src` (Lake.writeBucketed) — keep the
    // scan: a checkpoint would ERASE the bucketing metadata and put the
    // per-round edge Exchange back, while re-reading a bucketed parquet
    // scan per round is exactly the shuffle-free cluster pattern
    // (pair with broadcastRanks = false for node sets beyond executor
    // memory: per round the node-sized rank frame alone shuffles to the
    // edge table's bucketing — GraphOpsSpec pins the plan, SCALING.md
    // has both paths' 1M-node timings).
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (checkpointEdges) e0.checkpointed() else e0
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outd"))
      .checkpointed()
    val base = (1000L - dampMilli) * 1000L
    var rank = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    var cut: Option[DataFrame] = None // the last periodic cut, read by `rank`
    for (i <- 1 to iterations) {
      // the rank side is node-sized; checkpointed frames carry no size
      // stats, so without the explicit hint the optimizer shuffles the
      // EDGE list every round (measured 3.3 s vs 0.9 s per round at 2.4M
      // edges). Disable only when nodes outgrow executor memory — then
      // pre-bucket the edge table by src instead.
      val ranks = deg.join(rank, deg("src") === rank("node"))
        .select(col("src"), col("outd"), col("r"))
      rank = e
        .join(if (broadcastRanks) broadcast(ranks) else ranks, "src")
        .select(col("dst").as("node"), expr("r div outd").as("c"))
        .groupBy(col("node"))
        .agg(expr(s"${base}L + ($dampMilli * sum(c)) div 1000").as("r"))
      // the plan grows LINEARLY with rounds (each round consumes the
      // previous agg exactly once), so cut lineage only periodically —
      // an every-round checkpoint serializes a full materialization job
      // per round for nothing
      if (i % checkpointEvery == 0 && i < iterations) {
        rank = rank.checkpointed()
        cut.foreach(Checkpoints.unpersist)
        cut = Some(rank)
      }
    }
    rank.select(col("node"), col("r").as("rank_micro"))
  }

  /** Weighted PageRank — [[pageRank]] with per-edge long weights (the
    * real-graph form: co-purchase counts, interaction strengths, link
    * multiplicities):
    * {{{
    *   r_k+1(v) = (1000 - dampMilli) * 1000
    *            + (dampMilli * Σ_{u→v} ((r_k(u) * w(u,v)) div W(u))) div 1000
    * }}}
    * with W(u) = Σ out-weights of u — floor division throughout, so the
    * iterate stays a pure function of longs and the unrolled SQL twin
    * matches bit-for-bit. With all weights 1 this IS [[pageRank]]
    * (W = outdeg, contribution r div outd — GraphOpsSpec pins the
    * equality). Long bounds: the per-edge product r*w needs
    * r < Long.Max / w_max; total mass conservation keeps r near
    * N*10^6 / in-hubs, so with counts-as-weights (w ≤ ~10^6) this holds
    * to billions of nodes — the same headroom argument as the unweighted
    * form, one multiply wider.
    *
    * Plan per round is [[pageRank]]'s exactly: one edge-vs-rank join
    * (broadcast or bucketed via `broadcastRanks`/`checkpointEdges`) +
    * one partial-agg groupBy; the weight rides the edge row.
    */
  def pageRankWeighted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iterations: Int,
      dampMilli: Int = 850,
      broadcastRanks: Boolean = true,
      checkpointEvery: Int = 8,
      checkpointEdges: Boolean = true): DataFrame = {
    require(iterations >= 1 && dampMilli >= 0 && dampMilli <= 1000)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("long").as("w"))
    val e = if (checkpointEdges) e0.checkpointed() else e0
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("tw"))
      .checkpointed()
    val base = (1000L - dampMilli) * 1000L
    var rank = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    var cut: Option[DataFrame] = None // the last periodic cut, read by `rank`
    for (i <- 1 to iterations) {
      rank = weightedRound(e, deg, rank, base, dampMilli, broadcastRanks)
      if (i % checkpointEvery == 0 && i < iterations) {
        rank = rank.checkpointed()
        cut.foreach(Checkpoints.unpersist)
        cut = Some(rank)
      }
    }
    rank.select(col("node"), col("r").as("rank_micro"))
  }

  /** Convergence-driven PageRank with WARM START — the serving form of
    * [[pageRank]]/[[pageRankWeighted]] that closes the loop r14's
    * maintained edge table opened: when [[maintainCopurchaseWeights]]
    * folds an order delta into the stored graph, the next rank snapshot
    * does not need to start from uniform — it starts from the PREVIOUS
    * snapshot's ranks (`init`) and iterates the same integer fixed-point
    * map only until the largest per-node move is <= `tolMicro`. A small
    * delta perturbs the fixed point slightly, so the warm path converges
    * in a fraction of the cold rounds (measured at 1M nodes; SCALING.md
    * has the row).
    *
    * Returns (ranks, roundsRun). Unlike the fixed-`iterations` gate
    * forms, each round here pays a MATERIALIZATION (localCheckpoint +
    * one max-abs-move aggregate) — the residual cannot be known without
    * executing the round, so the linear-lineage trick does not apply.
    * That is the price of adaptivity; the win is the rounds you skip.
    *
    * Semantics per round are EXACTLY [[pageRank]]'s (or
    * [[pageRankWeighted]]'s when `weightCol` is set) — same floor-div
    * integer recurrence, so a cold run (`init = None`) that happens to
    * use k rounds lands bit-identically on `pageRank(..., iterations=k)`
    * (spec-pinned). Two runs converged under the same `tolMicro` from
    * different starts agree only within the tolerance band, not
    * bit-for-bit — the documented serving trade-off (the gate's
    * hash-compared queries keep the fixed-round forms).
    *
    * Warm-start bookkeeping: source nodes ABSENT from `init` (born by
    * the delta) enter at the cold initial 10^6 so their out-mass is not
    * silently zero in round 1; `init` rows whose node lost all edges
    * stop contributing (they vanish from the degree frame) and drop
    * from the output, matching the cold form's node set.
    */
  /** Result of [[pageRankUntil]]. `converged = false` means `maxRounds`
    * was exhausted with the residual still above tol — `ranks` is the
    * last iterate, NOT a fixed point; a serving loop must treat it as
    * truncated (re-run with a larger budget or publish the residual),
    * not as a converged snapshot.
    */
  final case class PageRankRun(ranks: DataFrame, rounds: Int, converged: Boolean)

  /** One synchronous weighted-PageRank round over an edge list carrying
    * (src, dst, w) and a degree frame (src, tw) — THE shared recurrence
    * body of [[pageRankWeighted]] and [[pageRankUntil]], so their
    * spec-pinned bit-identity is structural (one body), not maintained
    * by parallel edits. [[pageRank]] keeps its specialized w-free body
    * (`r div outd` — the most-benched gate plan, value-identical to
    * this with w = 1).
    */
  private def weightedRound(
      e: DataFrame,
      deg: DataFrame,
      rank: DataFrame,
      base: Long,
      dampMilli: Int,
      broadcastRanks: Boolean): DataFrame = {
    val ranks = deg.join(rank, deg("src") === rank("node"))
      .select(col("src"), col("tw"), col("r"))
    e.join(if (broadcastRanks) broadcast(ranks) else ranks, "src")
      .select(col("dst").as("node"), expr("(r * w) div tw").as("c"))
      .groupBy(col("node"))
      .agg(expr(s"${base}L + ($dampMilli * sum(c)) div 1000").as("r"))
  }

  def pageRankUntil(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      tolMicro: Long,
      maxRounds: Int = 50,
      init: Option[DataFrame] = None,
      weightCol: Option[String] = None,
      dampMilli: Int = 850,
      broadcastRanks: Boolean = true,
      checkpointEdges: Boolean = true): PageRankRun = Checkpoints.scoped {
    require(tolMicro >= 0 && maxRounds >= 1 && dampMilli >= 0 && dampMilli <= 1000)
    val e0 = weightCol match {
      case Some(w) => edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(w).cast("long").as("w"))
      case None => edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        lit(1L).as("w"))
    }
    val e = if (checkpointEdges) e0.checkpointed() else e0
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("tw"))
      .checkpointed()
    val base = (1000L - dampMilli) * 1000L
    var rank = init match {
      case Some(prev) =>
        // left join from the CURRENT source set: delta-born nodes get
        // the cold initial value, stale init rows drop out
        deg.select(col("src").as("node"))
          .join(prev.select(col("node"), col("rank_micro").as("r")), Seq("node"), "left")
          .select(col("node"), coalesce(col("r"), lit(1000000L)).as("r"))
          .checkpointed()
      case None => deg.select(col("src").as("node"), lit(1000000L).as("r"))
        .checkpointed()
    }
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = weightedRound(e, deg, rank, base, dampMilli, broadcastRanks)
        .checkpointed()
      // nodes with in-edges that never held a rank row yet (first round
      // of a warm start on a delta-born sink) count their full entry as
      // the move — one extra round settles them
      val residRow = next.as("n")
        .join(rank.as("o"), col("n.node") === col("o.node"), "left")
        .agg(max(abs(col("n.r") - coalesce(col("o.r"), lit(1000000L)))))
        .head()
      // null max = empty rank frame (edgeless input): converged trivially
      val resid = if (residRow.isNullAt(0)) 0L else residRow.getLong(0)
      rounds += 1
      converged = resid <= tolMicro
      // superseded round frame: the residual head() was its last
      // consumer and `next` is materialized (r17 fourth review)
      Checkpoints.unpersist(rank)
      rank = next
    }
    // the returned frame reads only the final rank checkpoint
    PageRankRun(
      rank.select(col("node"), col("r").as("rank_micro")), rounds, converged)
  }

  /** Personalized PageRank: the teleport mass lands ONLY on `seeds`
    * (the "related to these items" recommendation primitive), so rank
    * measures proximity to the seed set rather than global centrality.
    * Same integer fixed-point recurrence as [[pageRank]] with
    * {{{ r_k+1(v) = [v in S] * base + (damp * Σ contrib) div 1000 }}};
    * nodes enter the frame as mass reaches them (hop-k frontier), and a
    * FULL OUTER join between the contribution aggregate and the seed
    * base keeps isolated seeds alive — teleport mass must survive even
    * when nothing links back yet. Seeds ride as plan literals (they are
    * a query parameter, not data).
    */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: Seq[Long],
      iterations: Int,
      dampMilli: Int = 850,
      broadcastRanks: Boolean = true): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    require(iterations >= 1 && dampMilli >= 0 && dampMilli <= 1000)
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .checkpointed()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outd"))
      .checkpointed()
    val base = (1000L - dampMilli) * 1000L
    val seedDf = seeds.toDF("node").select(col("node"), lit(base).as("sb"))
    var rank = seeds.toDF("node")
      .select(col("node"), lit(1000000L).as("r"))
    for (i <- 1 to iterations) {
      val ranks = deg.join(rank, deg("src") === rank("node"))
        .select(col("src"), col("outd"), col("r"))
      val contrib = e
        .join(if (broadcastRanks) broadcast(ranks) else ranks, "src")
        .select(col("dst").as("node"), expr("r div outd").as("c"))
        .groupBy(col("node"))
        .agg(expr(s"($dampMilli * sum(c)) div 1000").as("cr"))
      rank = seedDf.join(contrib, Seq("node"), "full_outer")
        .select(col("node"),
          (coalesce(col("sb"), lit(0L)) + coalesce(col("cr"), lit(0L))).as("r"))
      if (i % 8 == 0 && i < iterations) rank = rank.checkpointed()
    }
    rank.select(col("node"), col("r").as("rank_micro"))
  }

  /** Per-node triangle counts over a SYMMETRIC edge list, via
    * degree-ordered edge orientation (the standard distributed-triangle
    * trick): orient every undirected edge from its (degree, id)-smaller
    * endpoint to the larger, so each triangle survives as exactly one
    * oriented wedge a->b, b->c closed by a->c — and the wedge join's
    * fan-out per node is its ORIENTED out-degree, which the orientation
    * bounds by O(sqrt(edges)) on any graph (a hub's edges point INTO it,
    * so the hub never fans out) — the property that makes this shape
    * survive power-law graphs at 100 TB where a naive neighbor join
    * squares the hub degree.
    *
    * Plan: one degree aggregate, the orientation filter, one self-join
    * on the wedge pivot, one semi-ish join closing wedges against the
    * oriented edge list, then a 3-way corner explode + count. All joins
    * key on node ids (fixed-width longs).
    * Output: (node, tri_cnt), nodes in >= 1 triangle.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("src"), col("d").as("ds")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("dd")), "dst")
    val oriented = withDeg
      .filter(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src"), col("dst"))
      .checkpointed() // consumed by both sides of the wedge join
    val wedges = oriented.select(col("src").as("a"), col("dst").as("b"))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")), "b")
    val tris = wedges.join(oriented
        .select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
  }

  /** Semi-supervised label propagation over a kNN graph — spread a small
    * labeled seed set to the unlabeled corpus through nearest-neighbor
    * edges, the standard bootstrap for labeling a large embedded corpus
    * from a hand-labeled sample.
    *
    * Semantics (deterministic, freeze-once): seeds keep their label with
    * `hops = 0`. Each synchronous round, every still-unlabeled node with
    * at least one labeled neighbor takes the majority label of its
    * labeled neighbors — vote count desc, then closest neighbor rank
    * asc, then label asc (the same tie-break convention as the kNN
    * mislabel vote) — and is frozen at `hops = round`. Freezing makes
    * every round a pure function of the previous labeling (no
    * oscillation), so an unrolled SQL twin reproduces it exactly.
    *
    * Scale shape per round: ONE join of the (bounded, corpus x k) edge
    * list with the thin (node, label) frame on the neighbor key, a
    * partial-aggregating groupBy whose groups are <= k rows, and a
    * row_number window over those same <= k-row partitions — nothing
    * global, nothing quadratic; the labels frame never exceeds one thin
    * row per node. The edge list is localCheckpointed once so rounds
    * don't re-run the ANN search.
    *
    * @param knn   kNN edges `(qid, vec_id, rank)` — e.g.
    *              [[Similarity.ivfTopK]] with probes = the whole corpus
    *              (the linear-in-corpus index path), or
    *              [[Similarity.bruteForceTopK]] for small probe sets
    * @param seeds `(node, label)` seed labels
    * @return `(node, label, hops)` for every node reachable within
    *         `rounds` hops of a seed (unreached nodes are absent)
    */
  def labelPropagation(knn: DataFrame, seeds: DataFrame, rounds: Int,
      checkpointEdges: Boolean = true): DataFrame = {
    require(rounds >= 1, "labelPropagation needs at least one round")
    import org.apache.spark.sql.expressions.Window
    // checkpointEdges = false: keep a stored table's bucketing on vec_id
    // (the per-round join key after the rename — alias-aware output
    // partitioning carries it through) so the edge side never
    // re-exchanges; the checkpoint is only right for in-memory inputs
    val edges0 = knn
      .select(col("qid").as("node"), col("vec_id").as("nbr"), col("rank"))
    val edges = if (checkpointEdges) edges0.checkpointed() else edges0
    var labels = seeds
      .select(col("node"), col("label").cast("long").as("label"),
        lit(0L).as("hops"))
      .checkpointed()
    for (r <- 1 to rounds) {
      val votes = edges
        .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("n_votes"), min(col("rank")).as("best_rank"))
      val picked = votes
        .withColumn("rn", row_number().over(Window.partitionBy(col("node"))
          .orderBy(col("n_votes").desc, col("best_rank").asc, col("label").asc)))
        .filter(col("rn") === 1)
        .join(labels.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), col("label"), lit(r.toLong).as("hops"))
      val next = labels.unionByName(picked).checkpointed()
      Checkpoints.unpersist(labels) // superseded: `next` is materialized
      labels = next
    }
    labels
  }

  /** Unsupervised community detection: synchronous label-propagation
    * (classic LPA) for a FIXED round count — every node starts as its
    * own label and each round takes the majority label of its neighbors
    * (count desc, min label) — deterministic, so the unrolled SQL twin
    * reproduces it exactly. Fixed rounds rather than run-to-convergence
    * keeps the plan bounded and the answer well-defined (plain LPA is
    * not guaranteed to converge under synchronous update); a few rounds
    * already merge locally-dense neighborhoods, which is the use case
    * over a mutual-kNN graph (topic groups in an embedded corpus).
    *
    * Per round: ONE edge-list join against the thin node-label frame and
    * a map-side-combinable `max(struct)` argmax — no windows at all.
    */
  def communityLabels(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      rounds: Int,
      assumeSymmetric: Boolean = false,
      checkpointEdges: Boolean = true): DataFrame = Checkpoints.scoped {
    require(rounds >= 1, "communityLabels needs at least one round")
    // cluster path (plan pinned in GraphOpsSpec): feed a PRE-symmetrized
    // edge table stored bucketed by dst with assumeSymmetric = true,
    // checkpointEdges = false — the symmetrize+distinct (an edge-sized
    // shuffle) is paid once at write time and the per-round label join
    // rides the bucketing with zero edge-side exchanges; only the
    // node-sized label frame moves per round
    val sym0 =
      if (assumeSymmetric) edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      else edges.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct()
    val sym = if (checkpointEdges) sym0.checkpointed() else sym0
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .checkpointed()
    for (_ <- 1 to rounds) {
      val next = sym
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("src"))
        .agg(max(struct(col("n"), (-col("label")).as("neg"))).as("b"))
        .select(col("src").as("node"), (-col("b.neg")).as("label"))
        .checkpointed()
      // superseded round frames release as the chain advances — a
      // per-micro-batch caller (the refresh router's cold arm) would
      // otherwise pin `rounds` node-sized blocks per refresh until GC
      Checkpoints.unpersist(labels)
      labels = next
    }
    // the returned labels are a self-contained checkpoint
    labels
  }

  final case class LpaRun(labels: DataFrame, rounds: Int, converged: Boolean)

  /** The shared per-round LPA vote of [[communityLabels]] /
    * [[communityLabelsUntil]] / [[communityLabelsDelta]]: majority label
    * of the neighbors (count desc, min label), one edge-vs-label join +
    * a map-side-combinable max(struct) argmax.
    */
  private def lpaVote(sym: DataFrame, labels: DataFrame): DataFrame =
    sym
      .join(labels.select(col("node").as("dst"), col("label")), "dst")
      .groupBy(col("src"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("src"))
      .agg(max(struct(col("n"), (-col("label")).as("neg"))).as("b"))
      .select(col("src").as("node"), (-col("b.neg")).as("label"))

  /** Convergence-driven / WARM-START [[communityLabels]] — the LPA
    * member of the `*Until` serving family ([[pageRankUntil]],
    * [[hitsUntil]]): the per-round vote is IDENTICAL (a cold run of k
    * rounds is BIT-identical to `communityLabels(_, k)`, spec-pinned —
    * an early label fixpoint makes the remaining rounds the identity
    * map, so convergence can only ever match the fixed-round form), and
    * `init` seeds labels from a previous run so a maintained-graph
    * refresh re-votes from the old assignment instead of from
    * one-label-per-node — rounds paid scale with how far the delta
    * moved the labels.
    *
    * Labels are DISCRETE: `converged = true` means a genuine fixpoint
    * of the synchronous label map (one more round changes nothing — the
    * tol-validity analog), but synchronous LPA is not guaranteed to
    * converge at all (2-cycles oscillate forever) — `maxRounds` is the
    * honest cap and the flag reports which case happened. A warm run's
    * fixpoint is a VALID stable assignment reachable from the
    * maintained one; it need not be bit-equal to a cold run's
    * fixed-round labels (label propagation is path-dependent — the
    * discrete analog of pageRankUntil's "within the contraction band").
    * For the EXACT fixed-round refresh, use [[communityLabelsDelta]].
    *
    * `init` rule as everywhere in the family: delta-born nodes enter at
    * the cold value (their own id), stale init rows drop out.
    */
  def communityLabelsUntil(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int,
      init: Option[DataFrame] = None,
      assumeSymmetric: Boolean = false,
      checkpointEdges: Boolean = true): LpaRun = Checkpoints.scoped {
    require(maxRounds >= 1, "communityLabelsUntil needs at least one round")
    val sym0 =
      if (assumeSymmetric) edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      else edges.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct()
    val sym = if (checkpointEdges) sym0.checkpointed() else sym0
    val nodes = sym.select(col("src").as("node")).distinct().checkpointed()
    var labels = (init match {
      case Some(prev) =>
        nodes
          .join(prev.select(col("node"), col("label").as("l0")), Seq("node"), "left")
          .select(col("node"), coalesce(col("l0"), col("node")).as("label"))
      case None => nodes.withColumn("label", col("node"))
    }).checkpointed()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = lpaVote(sym, labels).checkpointed()
      converged = next.as("n")
        .join(labels.as("o"), col("n.node") === col("o.node"))
        .filter(col("n.label") =!= col("o.label"))
        .isEmpty
      rounds += 1
      Checkpoints.unpersist(labels) // superseded round frame (the
      labels = next      // convergence check above was its last consumer)
    }
    // the returned labels are a self-contained checkpoint
    LpaRun(labels, rounds, converged)
  }

  /** EXACT incremental refresh of the FIXED-ROUND [[communityLabels]]
    * under edge INSERTIONS — the maintenance story for the one
    * clustered view without one (r14 verdict #4). Sync-LPA run to
    * convergence is NON-local (label oscillations propagate
    * unboundedly — the honest reason a refreshClusters-style exact
    * refresh is impossible for the convergence form), but the repo's
    * serving/gate form is fixed-round sync LPA, and for a fixed k the
    * output IS k-hop local: round-j labels depend only on neighbors'
    * round-(j-1) labels, unrolled k deep, so a node farther than k hops
    * from every delta-edge endpoint keeps its old label verbatim
    * (round-0 labels are node ids — delta-independent — and by
    * induction no delta edge enters its computation tree).
    *
    * Mechanics — the shrinking-cone recompute: BFS the (2k)-hop ball of
    * the delta endpoints on the POST-insert graph, seed round-0 labels
    * (= ids) over it, then vote k rounds where round j's domain is the
    * (2k-j)-ball — every neighbor a domain node consults lies inside
    * round (j-1)'s domain, so each cone round reproduces the full
    * graph's round bit-for-bit on its domain. Merge: recomputed labels
    * inside the k-ball, old labels outside. Bit-identical to the cold
    * `communityLabels(edgesAfter, k)` (GraphOpsSpec, random graphs +
    * planted bridge shapes).
    *
    * Cost honesty (don't maintain what is cheaper to recompute): delta-local only while
    * the 2k-hop ball stays small — on a small-diameter graph the 2k-ball
    * saturates to the corpus and the cold recompute is the better tier
    * (SCALING.md prices the crossover on the co-purchase graph).
    * Deletions are batch-tier recomputes, like [[bfsHopsDelta]]'s.
    */
  def communityLabelsDelta(
      edgesAfter: DataFrame,
      aCol: String,
      bCol: String,
      rounds: Int,
      oldLabels: DataFrame,
      deltaEdges: DataFrame,
      assumeSymmetric: Boolean = false): DataFrame = Checkpoints.scoped {
    require(rounds >= 1, "communityLabelsDelta needs at least one round")
    val sym0 =
      if (assumeSymmetric)
        edgesAfter.select(col(aCol).as("src"), col(bCol).as("dst"))
      else edgesAfter.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(edgesAfter.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct()
    val sym = sym0.checkpointed()
    val seeds = deltaEdges
      .select(explode(array(col(aCol), col(bCol))).as("node")).distinct()
    val hops0 = seeds.select(col("node"), lit(0).as("hop")).checkpointed()
    // a self-contained checkpoint: the scope releases sym and hops0
    communityLabelsDeltaFrom(sym, rounds, oldLabels, hops0, hopsDone = 0)
  }

  /** [[communityLabelsDelta]]'s core with the delta-endpoint ball BFS
    * RESUMABLE from a partial `(node, hop)` frame — so the router
    * ([[communityLabelsRefreshAuto]]) hands its probe ball over instead
    * of the cone re-expanding the same hops from scratch. `hopsDone`
    * hops must already be complete in `hops`; the continuation frontier
    * re-derives as the nodes at exactly that hop (empty if the ball
    * already saturated — the loop then exits immediately).
    */
  /** Multi-source BFS ball over `sym` resuming a `(node, hop)` frame at
    * `fromHop` — the frontier-only expansion shared by the cone refresh,
    * the refresh router's saturation probe, and the probe tool (one
    * implementation, so the `hopsDone` resume contract cannot drift).
    * Superseded per-hop checkpoints unpersist as the chain advances (a
    * per-micro-batch caller would otherwise pin one dead ball frame per
    * hop until garbage collection — the dedupIngestStream rule). `hops0` belongs
    * to the caller's scope, so the first swap leaves it alone; the
    * returned frame (`hops0` itself when the loop never grew the ball)
    * passes to the caller's scope.
    */
  private[graft] def ballBfs(
      sym: DataFrame,
      hops0: DataFrame,
      fromHop: Int,
      maxH: Int): DataFrame = Checkpoints.scoped {
    var hops = hops0
    var h = fromHop
    var frontierLive = !hops.filter(col("hop") === h).isEmpty
    while (h < maxH && frontierLive) {
      val nxt = sym
        .join(hops.filter(col("hop") === h).select(col("node").as("src")),
          Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .join(hops, Seq("node"), "left_anti")
        .withColumn("hop", lit(h + 1))
      val grown = hops.unionAll(nxt).checkpointed()
      Checkpoints.unpersist(hops)
      hops = grown
      h += 1
      frontierLive = !hops.filter(col("hop") === h).isEmpty
    }
    hops
  }

  private def communityLabelsDeltaFrom(
      sym: DataFrame,
      rounds: Int,
      oldLabels: DataFrame,
      hops0: DataFrame,
      hopsDone: Int): DataFrame = Checkpoints.scoped {
    val maxH = 2 * rounds
    // multi-source BFS ball of the delta endpoints over the post-insert
    // graph (frontier-only expansion, the bfsHops shape with a FRAME of
    // seeds — the delta is batch-sized, not a literal list)
    val hops = ballBfs(sym, hops0, hopsDone, maxH)
    // every vote round's edges have src inside the (2k-1)-ball — extract
    // that induced incidence list ONCE (one full-edge pass) so the k vote
    // rounds run over the ball-sized frame instead of re-scanning the
    // corpus edge list per round
    val coneEdges = sym.join(
        hops.filter(col("hop") <= maxH - 1).select(col("node").as("src")),
        Seq("src"), "left_semi")
      .checkpointed()
    // cone recompute: round-0 labels are ids over the full 2k-ball
    var labels = hops.select(col("node"), col("node").as("label"))
      .checkpointed()
    for (j <- 1 to rounds) {
      val domain = hops.filter(col("hop") <= maxH - j)
        .select(col("node").as("src"))
      val next = lpaVote(
        coneEdges.join(domain, Seq("src"), "left_semi"), labels)
        .checkpointed()
      Checkpoints.unpersist(labels)
      labels = next
    }
    val ballK = hops.filter(col("hop") <= rounds).select(col("node"))
    // pin the merged answer; the scope then releases every cone-internal
    // frame: a per-micro-batch caller (maintainCommunityLabels) must not
    // accumulate a checkpoint pair per refresh until driver GC
    labels.join(ballK, Seq("node"), "left_semi")
      .unionAll(oldLabels.select(col("node"), col("label"))
        .join(ballK, Seq("node"), "left_anti"))
      .checkpointed()
  }

  /** Undirected co-purchase part graph, each edge {u,v} ONCE as
    * (src < dst): two parts are linked iff some order contains both.
    * Two dedup shrinks vs the naive symmetric build (r9's
    * `graph_triangles` stage split, SCALING.md): (1) the (order, part)
    * pre-distinct removes same-part-on-several-lines duplicates BEFORE
    * the basket self-join squares them; (2) `pk < pk2` halves the join
    * output, so the edge-dedup `distinct` — the build's dominant
    * shuffle — processes half the pair volume. Edge count stays bounded
    * by Σ_orders |basket|²/2 — baskets are business-bounded, never
    * corpus-sized.
    */
  def copurchaseHalfEdges(lineitem: DataFrame): DataFrame = {
    val li = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.join(li.withColumnRenamed("pk", "pk2"), "ok")
      .filter(col("pk") < col("pk2"))
      .select(col("pk").as("src"), col("pk2").as("dst"))
      .distinct()
  }

  /** Symmetric co-purchase part graph — [[copurchaseHalfEdges]] mirrored
    * (the two halves are disjoint by src<dst / src>dst, so the union is
    * distinct by construction, no extra dedup pass). PageRank sees an
    * undirected, dangling-free graph; result set is bit-identical to the
    * r9 direct symmetric build.
    */
  def copurchaseEdges(lineitem: DataFrame): DataFrame = {
    val half = copurchaseHalfEdges(lineitem)
    half.unionAll(half.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** [[copurchaseEdges]] with co-occurrence weights: w({u,v}) = how many
    * orders contain both parts — the multiplicity the unweighted build's
    * `distinct` throws away, and exactly what [[pageRankWeighted]]
    * wants. Same shape as the half-edge build with the dedup `distinct`
    * replaced by a partial-agg count (cheaper: counts combine map-side),
    * then mirrored.
    */
  def copurchaseEdgesWeighted(lineitem: DataFrame): DataFrame = {
    val half = copurchaseHalfWeights(lineitem)
    half.unionAll(half.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  /** The half form (src < dst, one row per unordered pair) of
    * [[copurchaseEdgesWeighted]] — the canonical COUNT TABLE under the
    * weighted graph: `w` is "orders containing both parts", a per-key
    * sum over orders, so it is a [[Incremental.mergeCounts]] monoid.
    */
  def copurchaseHalfWeights(lineitem: DataFrame): DataFrame = {
    val li = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.join(li.withColumnRenamed("pk", "pk2"), "ok")
      .filter(col("pk") < col("pk2"))
      .groupBy(col("pk").as("src"), col("pk2").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Incremental maintenance of the weighted co-purchase edge table —
    * the 100 TB graph-serving story: the weighted graph is a count table
    * keyed by (src, dst) ([[copurchaseHalfWeights]]), and order batches
    * contribute ADDITIVE pair counts (each order's pairs are counted
    * once, and orders are disjoint across batches), so
    * [[Incremental.mergeCountsPartitioned]] maintains the stored table
    * delta-sized: the batch pays its own basket self-join — Σ|basket|²/2
    * over ONLY the new orders — plus a rewrite of just the hash
    * partitions its pairs land in. The family/served phases then read a
    * MAINTAINED table instead of rebuilding from the full lineitem per
    * snapshot; a 1% order delta prices ~1% of the build join (SCALING.md
    * has the measured row).
    *
    * Contract: each batch must carry COMPLETE orders (every lineitem row
    * of each new order in the same batch) — a basket split across
    * batches would never see its cross-batch pairs. Order-stream
    * ingestion delivers exactly this shape. Cancellations retract with
    * `sign = -1` over the cancelled orders' rows (same complete-basket
    * contract); pairs whose weight cancels to zero drop from the table.
    *
    * Replay-idempotent per batch id (the count table's marker), so an
    * at-least-once foreachBatch delivery keeps weights exact. Returns
    * false on an already-applied batch.
    */
  def maintainCopurchaseWeights(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      lineitemDelta: DataFrame,
      partitions: Int,
      batchId: Long,
      sign: Long = 1L): Boolean = {
    require(sign == 1L || sign == -1L, "sign must be +1 (new orders) or -1 (cancelled)")
    val half = copurchaseHalfWeights(lineitemDelta)
      .select(col("src"), col("dst"), (col("w") * lit(sign)).as("w"))
    Incremental.mergeCountsPartitioned(spark, stateDir, half,
      Seq("src", "dst"), "w", partitions, batchId)
  }

  /** The maintained weighted co-purchase graph, mirrored back to the
    * symmetric form every Graph operator consumes — bit-identical rows
    * to a full [[copurchaseEdgesWeighted]] rebuild over the same orders
    * (GraphSpec proves it batch-by-batch, including a retraction).
    * None before the first applied batch.
    */
  def readCopurchaseWeights(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] =
    Incremental.readCountsPartitioned(spark, stateDir, Seq("src", "dst"), "w")
      .map(half => half.unionAll(
        half.select(col("dst").as("src"), col("src").as("dst"), col("w"))))

  /** [[triangleCounts]] over the HALF-edge form (each {u,v} once,
    * src < dst), with the wedge join replaced by per-edge adjacency
    * intersection (the edge-iterator algorithm). Degrees come from one
    * incidence explode instead of the symmetric groupBy, and the
    * orientation is a branchless struct pick (no mirrored half to
    * discard); then group the oriented edges into out-adjacency arrays
    * (bounded by the oriented
    * out-degree, O(sqrt E) even on power-law hubs), attach both
    * endpoints' arrays to every oriented edge, and emit the closing
    * vertices as `explode(array_intersect(adj(u), adj(v)))`.
    *
    * Why: the wedge-join plan materializes and SHUFFLES every wedge
    * (open two-path) just to anti-filter most of them in the closing
    * join — wedge volume is the sum of squared oriented out-degrees,
    * far above the triangle count on co-purchase graphs. Here nothing
    * wedge-sized ever shuffles: two edge-vs-adjacency joins (edge-sized,
    * with a sqrt(E)-bounded array payload) and an in-row intersection
    * that emits only actual triangles. Output is bit-identical: same
    * oriented edge set, same triangles, same (node, tri_cnt) rows.
    *
    * The adjacency build is one collect_list groupBy — an object-path
    * aggregate, but over the ORIENTED edge list (half the symmetric
    * volume) into partitions bounded by the oriented out-degree; at
    * cluster scale the arrays stay executor-friendly for the same
    * reason the wedge fan-out does.
    */
  def triangleCountsAdj(half: DataFrame): DataFrame = {
    // oriented feeds the adjacency build AND both join probes; adj feeds
    // both sides of the attach — cut lineage once each (cluster
    // equivalent: a stored table, as the pageRank checkpointEdges doc)
    val oriented = orientHalf(half).checkpointed()
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .checkpointed()
    val tris = oriented
      .join(adj.select(col("src"), col("nbrs").as("nu")), "src")
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), "dst")
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("nu"), col("nv"))).as("c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
  }

  /** Exact incremental triangle maintenance — the per-node count of
    * triangles CONTAINING at least one delta edge, each such triangle
    * counted exactly once (every node of it +1). The graph-IVM
    * companion of [[maintainCopurchaseWeights]]: when an edge batch D
    * lands, per-node triangle counts update as
    * `counts(G ∪ D) = counts(G) + triangleCountDelta(G ∪ D, D)` and
    * `counts(G \ D) = counts(G) - triangleCountDelta(G, D)` — pass the
    * half-edge table that CONTAINS the delta (post-insert, pre-delete)
    * plus the delta itself; bit-exact vs a full recompute
    * (GraphOpsSpec, random graphs both directions).
    *
    * Inclusion-exclusion, arranged so nothing ever diffs the big table
    * (no `exceptAll` against G): with T1 = Σ_{(u,v) ∈ D} closers of
    * (u,v) in the full graph (a triangle with k delta edges lands k
    * times), T2 = delta-delta wedges closed by ANY full half-edge (a
    * 2-delta triangle lands once, a 3-delta one three times), T3 =
    * delta-only triangles (canonical-distinct, once each):
    * {{{ once-each = T1 - T2 + T3   // 1/0/0, 2-1+0, 3-3+1 }}}
    *
    * Scale shape: T1 is two delta-vs-edge joins (the first fans each
    * delta edge to its endpoints' degrees, the second is key-keyed on
    * (v, w) — at cluster scale run it against the src-bucketed stored
    * sym table); T2/T3 are delta-sized self-joins. Cost is
    * |D| x avg-degree, never |G| — the whole point.
    *
    * D must be genuine PRESENCE changes (half-form rows absent before an
    * insert / present before a delete, src < dst, deduplicated).
    * Returns (node, tri_delta) for affected nodes only (tri_delta > 0).
    *
    * `pinDelta = false`: the caller passes an ALREADY-pinned delta
    * (consumed up to six times across T1/T2/T3) —
    * [[maintainTriangleCounts]] checkpoints the delta itself; pinning
    * it again here would materialize it twice per batch (r14 ADVICE).
    *
    * `t1ViaAdjacency` (r17 optimization round): T1's default shape fans
    * every delta edge out to its endpoints' full neighbor lists and
    * SHUFFLES that wedge-sized frame into the (v, w) closing join —
    * Σ_{(u,v)∈D} (deg u + deg v) rows, which for a CORPUS-FRACTION delta
    * dwarfs the graph itself (the r17 bench measured 262 MB shuffled for
    * an 11 MB edge table on the 10% gate delta). The adjacency arm
    * instead builds symmetric neighbor arrays ONCE (one 2|E|-row
    * groupBy, the [[triangleCountsAdj]] trick) and emits closers as an
    * in-row `array_intersect` — nothing wedge-sized ever shuffles.
    * Crossover rule: the wedge join moves ~|D| x 2 x avg-degree rows,
    * the adjacency build ~2|E| rows, so prefer adjacency when
    * |D| > |V| / 2 (i.e. |D| x 2 x avgdeg > 2|E| with avgdeg =
    * 2|E|/|V|). Micro-batch maintenance ([[maintainTriangleCounts]])
    * stays on the wedge join — a per-batch full-graph adjacency build
    * would be corpus-sized work for a batch-sized answer. CAVEATS: the
    * arrays here are bounded by the FULL degree (not the oriented
    * out-degree's sqrt(E) bound) — on power-law hubs the wedge join is
    * also the memory-safe choice — and the adjacency table must fit a
    * BROADCAST (it is hinted onto both attaches; letting it sort-merge
    * would shuffle every delta row with its attached array, re-creating
    * the wedge fan-out in array clothing). The broadcast-fit caveat is
    * ENFORCED since r18 by a two-level size gate (`adjMaxBytes`,
    * default 256 MB: "a few hundred MB is usually fine" for a broadcast,
    * and the arm broadcasts two projections of the table): a plan-stats
    * pre-gate (64x headroom for join-inflated local estimates) skips
    * the adjacency build outright for corpus-sized edge tables, and the
    * checkpointed adjacency's ACTUAL storage bytes decide the broadcast
    * — past the bound the build is released and T1 falls back to the
    * wedge join, so requesting the arm is a HINT, never an OOM. All
    * routes are bit-identical (GraphOpsSpec pins equality on random
    * graphs and across the gate's fallbacks).
    */
  def triangleCountDelta(halfWithDelta: DataFrame, deltaHalf: DataFrame,
      pinDelta: Boolean = true, t1ViaAdjacency: Boolean = false,
      adjMaxBytes: Long = 256L << 20): DataFrame = {
    val d0 = deltaHalf.select(col("src").as("u"), col("dst").as("v"))
    val d = if (pinDelta) d0.checkpointed() else d0
    val full = halfWithDelta.select(col("src"), col("dst"))
    val sym = full.unionAll(
      full.select(col("dst").as("src"), col("src").as("dst")))
    // T1: closers of each delta edge in the FULL graph — w adjacent to
    // both u and v. The delta side is batch-sized: broadcast it.
    def wedgeT1 = broadcast(d)
      .join(sym.select(col("src").as("u"), col("dst").as("w")), "u")
      .join(sym.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val t1 =
      if (!t1ViaAdjacency) wedgeT1
      // SIZE GATE (r18, closing r17 verdict #1): the adjacency arm
      // broadcasts the ENTIRE graph's neighbor arrays — fine for the
      // bench corpus, an executor/driver OOM at 100 TB, and nothing
      // previously enforced the scaladoc's "must fit a broadcast"
      // caveat. Two levels, because no single cheap estimate is
      // trustworthy on both sides of the scale: (1) a plan-stats
      // pre-gate at 64x the bound — parquet-rooted stats at cluster
      // scale are reliably enormous, so a corpus-sized edge table never
      // even BUILDS the adjacency (join-derived local frames can carry
      // inflated estimates, hence the 64x headroom, not a tight cut);
      // (2) the precise gate on the checkpointed adjacency's ACTUAL
      // storage bytes (getRDDStorageInfo — the blocks just
      // materialized), which releases the build and falls back when it
      // exceeds `adjMaxBytes`. Both fallbacks are the
      // wedge arm: bit-identical output (GraphOpsSpec pins all routes).
      else if (full.queryExecution.optimizedPlan.stats.sizeInBytes >
          BigInt(64L) * adjMaxBytes) wedgeT1
      else {
        // the adjacency rides as an EXPLICIT broadcast on both attaches:
        // size estimates put the array column past the auto threshold and
        // the planner then sort-merges the second join — shuffling every
        // delta row WITH its attached neighbor array, which re-creates
        // the wedge fan-out in array clothing (measured 14 s vs the wedge
        // join's 10 s before this hint). Broadcast, both attaches stream
        // the batch-sized delta and NOTHING array-laden ever shuffles.
        // scoped: the fallback does not reach the build, released here
        Checkpoints.scoped {
          val symAdj = sym.groupBy(col("src"))
            .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
            .checkpointed()
          if (Checkpoints.storageBytes(symAdj) > adjMaxBytes) wedgeT1
          else d
            .join(broadcast(symAdj.select(col("src").as("u"), col("nbrs").as("nu"))), "u")
            .join(broadcast(symAdj.select(col("src").as("v"), col("nbrs").as("nv"))), "v")
            .select(col("u"), col("v"),
              explode(array_intersect(col("nu"), col("nv"))).as("w"))
        }
      }
    // T2: two delta edges sharing w, the (u, v) pair closed by any full
    // half-edge (u < v matches the half form's key directly)
    val symD = d.unionAll(d.select(col("v").as("u"), col("u").as("v")))
    val t2 = symD.select(col("u").as("w"), col("v").as("u"))
      .join(symD.select(col("u").as("w"), col("v").as("v")), "w")
      .filter(col("u") < col("v"))
      .join(full.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"))
      .select(col("u"), col("v"), col("w"))
    // T3: delta-only triangles, canonical-distinct so each counts once
    val t3 = broadcast(d)
      .join(symD.select(col("u"), col("v").as("w")), "u")
      .join(symD.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
      .select(array_sort(array(col("u"), col("v"), col("w"))).as("t"))
      .distinct()
      .select(col("t")(0).as("u"), col("t")(1).as("v"), col("t")(2).as("w"))
    def nodes(t: DataFrame, m: Long) = t.select(
      explode(array(col("u"), col("v"), col("w"))).as("node"), lit(m).as("m"))
    nodes(t1, 1L).unionAll(nodes(t2, -1L)).unionAll(nodes(t3, 1L))
      .groupBy(col("node")).agg(sum(col("m")).as("tri_delta"))
      .filter(col("tri_delta") =!= 0L)
  }

  /** Fold a [[triangleCountDelta]] into maintained per-node counts:
    * `sign = +1` after an insert batch, `-1` after a delete. Zero rows
    * drop so the maintained frame stays node-sparse like the full
    * recompute's.
    */
  def applyTriangleDelta(counts: DataFrame, delta: DataFrame, sign: Long): DataFrame = {
    require(sign == 1L || sign == -1L)
    counts.select(col("node"), col("tri_cnt"))
      .join(delta.select(col("node"), col("tri_delta")), Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("tri_cnt"), lit(0L)) +
          lit(sign) * coalesce(col("tri_delta"), lit(0L))).as("tri_cnt"))
      .filter(col("tri_cnt") =!= 0L)
  }

  /** Incremental k-core under edge INSERTIONS — graph IVM #4. A
    * CONVERGED k-core's members can never be peeled out by added edges
    * (each holds >= k neighbors inside the old core, and by induction
    * the whole old core survives every round of the post-insert peel),
    * so the refresh peels ONLY the NON-CORE subgraph: non-core nodes
    * carry a fixed base capacity (their edges into the old core, which
    * never dies) plus their degree among surviving non-core nodes. The
    * peel's removal decisions are round-for-round IDENTICAL to the full
    * [[kCoreHalf]] peel over the post-insert graph (spec-pinned
    * including mutually-supporting promotion cascades), so the result
    * is the exact new k-core — at the cost of the non-core side, which
    * in the serving regime (a dense engagement core holding most nodes)
    * is the small side; the full graph is touched only by the final
    * one-pass in-core degree count.
    *
    * Contract: `oldCore` must be a CONVERGED [[kCoreHalf]] output over
    * the pre-insert graph (every member's in-core degree >= k — a
    * mid-peel frame would let added edges "rescue" nodes the fixpoint
    * had already lost, and the no-member-ever-peels argument breaks).
    * Insertions only: deletions shrink the core non-locally and re-run
    * the cold peel (the documented batch-tier recompute). The restricted
    * peel iterates to ITS fixpoint (it is non-core-sized; `maxRounds`
    * is a loud-failure cap, not a truncation budget).
    */
  def kCoreDelta(
      halfAfter: DataFrame,
      oldCore: DataFrame,
      k: Int,
      maxRounds: Int = 64,
      broadcastDead: Boolean = true): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    // the immortality proof's exact sufficient condition, cheaply
    // checkable from the input's own column: every old-core member must
    // hold >= k in-core neighbors. A NON-converged kCoreHalf frame (its
    // budget-exhausted branch returns mid-peel, silently) would
    // otherwise flow through and yield a wrong core with no error —
    // fail loudly here instead. One node-sized aggregate.
    val minDeg = oldCore.agg(min(col("core_deg"))).head()
    require(minDeg.isNullAt(0) || minDeg.getLong(0) >= k,
      s"oldCore is not a converged k=$k core (min in-core degree " +
        s"${minDeg.getLong(0)} < $k) — kCoreDelta's member-immortality " +
        "argument requires the fixpoint; re-peel with a larger round budget")
    val e = halfAfter.select(col("src"), col("dst")).checkpointed()
    val core = oldCore.select(col("node")).checkpointed()
    val marked = e
      .join(core.select(col("node").as("src"), lit(1).as("si")), Seq("src"), "left")
      .join(core.select(col("node").as("dst"), lit(1).as("di")), Seq("dst"), "left")
    // base capacity: a non-core endpoint's edges into the (immortal) core
    val base = marked.filter(col("si").isNotNull && col("di").isNull)
      .select(col("dst").as("node"))
      .unionAll(marked.filter(col("si").isNull && col("di").isNotNull)
        .select(col("src").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("b"))
    // the peel subgraph: edges among non-core nodes
    val h = marked.filter(col("si").isNull && col("di").isNull)
      .select(col("src"), col("dst")).checkpointed()
    val degH = h.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("dh"))
    val deg0 = base.join(degH, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("b"), lit(0L)) + coalesce(col("dh"), lit(0L))).as("d"))
      .checkpointed()
    // broadcastDead = false: the kCoreHalf escape for the regime where
    // the dead set is node-scale (small old core, aggressive k) — then
    // pre-bucket h by src and dst like kCoreHalf's halfByDst layout
    def loss(dead: DataFrame): DataFrame = {
      val nb = if (broadcastDead) broadcast(dead) else dead
      h.join(nb, h("dst") === dead("node")).select(h("src").as("n"))
        .unionAll(
          h.join(nb, h("src") === dead("node")).select(h("dst").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("l"))
    }
    var degAlive = deg0.filter(col("d") >= k)
    // newDead stays EAGERLY checkpointed: the r18 lazy form (filter over
    // the round's checkpointed degree blocks, re-run by the isEmpty
    // probe and the loss build) measured 1.05-1.10x WORSE interleaved —
    // the tiny per-round materialization is cheaper than re-filtering
    // node-sized blocks inside the round's dominant join job
    var newDead = deg0.filter(col("d") < k).select(col("node")).checkpointed()
    var degHeld = deg0 // the checkpoint `degAlive` filters
    var r = 0
    while (r < maxRounds && !newDead.isEmpty) {
      val upd = degAlive.join(loss(newDead), degAlive("node") === col("n"), "left")
        .select(col("node"), (col("d") - coalesce(col("l"), lit(0L))).as("d"))
        .checkpointed()
      // the round's inputs are superseded once `upd` is materialized
      Checkpoints.unpersist(degHeld)
      Checkpoints.unpersist(newDead)
      newDead = upd.filter(col("d") < k).select(col("node")).checkpointed()
      degAlive = upd.filter(col("d") >= k)
      degHeld = upd
      r += 1
    }
    require(newDead.isEmpty,
      s"restricted k-core peel did not converge in $maxRounds rounds")
    // the exact new core; in-core degrees need one pass over the full
    // edge list (old members' degrees grew with the delta and the
    // promotions — their stored core_deg is stale by construction)
    val newCore = core.unionAll(degAlive.select(col("node"))).checkpointed()
    e.join(newCore.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(newCore.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** A routed refresh's outcome: the result frame plus WHICH tier ran
    * (`"delta"` / `"cold"`) — both tiers are exact (bit-identical
    * outputs, spec-pinned), so the route is an observability/cost
    * fact, never a correctness one.
    */
  final case class Routed(result: DataFrame, route: String)

  /** Auto-dispatched k-core refresh — the r15 engagement rule
    * (SCALING.md "decremental recompute pricing") promoted from prose to
    * a router: [[kCoreDelta]] LOSES ~10x to a shallow cold peel (its
    * fixed full-edge passes dwarf a 1-2-round early exit) and wins only
    * in the cascade-deep regime (many peel rounds), so the caller should
    * not have to read SCALING to choose. The probe is ONE degree
    * aggregate over the post-insert graph — the same pass the cold
    * peel's first round pays, so a cold route wastes nothing, and its
    * cost is priced in the spec's plan note: nodes whose degree sits in
    * `[k, k + cascadeMargin)` are the cascade fuel (each is one lost
    * neighbor away from peeling), and a graph where fewer than
    * `cascadeDeepFraction` of nodes are fuel early-exits its cold peel.
    * Falls back cold when the old core is empty (the delta path's
    * restricted peel would just re-run the full peel with extra joins)
    * or not converged (kCoreDelta's immortality precondition). Inherits
    * [[kCoreDelta]]'s insert-only contract on the delta route.
    */
  def kCoreRefreshAuto(
      halfAfter: DataFrame,
      oldCore: DataFrame,
      k: Int,
      rounds: Int = 64,
      cascadeMargin: Int = 2,
      cascadeDeepFraction: Double = 0.05): Routed = {
    require(k >= 1 && rounds >= 1 && cascadeMargin >= 1)
    // no checkpoint here: the probe consumes the frame once (one
    // aggregate scan) and BOTH arms eagerly pin their own edge frame
    // internally — pinning it here too would just materialize the edge
    // set twice per refresh (r16 self-review)
    val half = halfAfter.select(col("src"), col("dst"))
    val s = half.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("d") >= k && col("d") < k + cascadeMargin, lit(1L))
          .otherwise(lit(0L))).as("at_risk"))
      .head()
    val n = s.getAs[Long]("n")
    val atRisk = s.getAs[Long]("at_risk")
    val oldMin = oldCore.agg(min(col("core_deg"))).head()
    val oldConverged = !oldMin.isNullAt(0) && oldMin.getLong(0) >= k
    val deep = n > 0 && atRisk.toDouble / n >= cascadeDeepFraction
    if (deep && oldConverged)
      Routed(kCoreDelta(half, oldCore, k, maxRounds = rounds), "delta")
    else
      Routed(kCoreHalf(half, k, rounds), "cold")
  }

  /** Auto-dispatched fixed-round LPA refresh — the r15 cone-refresh
    * engagement rule ("2k-ball small relative to the corpus": 1.3x win
    * on the high-diameter lattice, 0.48x LOSS on the small-diameter hub
    * graph) promoted to a router. The probe expands the delta
    * endpoints' BFS ball `probeHops` hops over the post-insert graph:
    * delta-sized exactly when the graph is delta-local (the regime
    * where the cone wins), and bounded by a couple of frontier passes
    * even on a hub graph (where the 2-hop ball is already node-scale
    * and the probe's answer is "go cold"). Saturation — ball size vs
    * `saturationFraction` of the old label table's node count — routes
    * to the cold fixed-round recompute; otherwise the exact cone
    * refresh ([[communityLabelsDelta]]) runs, REUSING the probe's
    * symmetrized edge frame so symmetrization is paid once.
    */
  def communityLabelsRefreshAuto(
      edgesAfter: DataFrame,
      aCol: String,
      bCol: String,
      rounds: Int,
      oldLabels: DataFrame,
      deltaEdges: DataFrame,
      saturationFraction: Double = 0.2,
      probeHops: Int = 2,
      assumeSymmetric: Boolean = false): Routed = Checkpoints.scoped {
    require(rounds >= 1 && probeHops >= 1)
    val sym0 =
      if (assumeSymmetric)
        edgesAfter.select(col(aCol).as("src"), col(bCol).as("dst"))
      else edgesAfter.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(edgesAfter.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct()
    val sym = sym0.checkpointed()
    val seeds = deltaEdges
      .select(explode(array(col(aCol), col(bCol))).as("node")).distinct()
    // the probe ball carries hop numbers so the delta route can RESUME
    // the cone's BFS from it instead of re-expanding the same hops —
    // one shared [[ballBfs]] implementation keeps the resume contract
    val hops0 = seeds.select(col("node"), lit(0).as("hop")).checkpointed()
    val hops = math.min(probeHops, 2 * rounds)
    val ball = ballBfs(sym, hops0, fromHop = 0, maxH = hops)
    val n = math.max(1L, oldLabels.count())
    val saturated = ball.count().toDouble / n >= saturationFraction
    // both arms return self-contained checkpoints: the scope releases
    // the probe's pins on return
    if (saturated)
      // checkpointEdges = false: sym is already pinned here — the cold
      // arm's per-round label checkpoints are eager
      Routed(communityLabels(sym, "src", "dst", rounds,
        assumeSymmetric = true, checkpointEdges = false), "cold")
    else
      Routed(communityLabelsDeltaFrom(sym, rounds, oldLabels, ball,
        hopsDone = hops), "delta")
  }

  /** Incremental multi-source BFS under edge INSERTIONS — the third
    * exact graph-IVM operator next to [[triangleCountDelta]] and
    * [[maintainCopurchaseWeights]]: inserted edges can only SHORTEN
    * hop distances, so the refreshed [[bfsHops]] table is computed by
    * relaxing improvements outward from the delta edges instead of
    * re-expanding from the seeds — cost is (improved nodes) x degree,
    * never the graph. Bit-identical to `bfsHops(edgesAfter, ...)` with
    * the same seeds/maxHops (GraphOpsSpec, random graphs + planted
    * shortcut chains).
    *
    * Mechanics: seed the improvement frontier with every delta edge
    * whose source already holds a hop (candidate `h(u) + 1` at the
    * destination, kept only when strictly better or newly reachable
    * within `maxHops`), then relax over the FULL post-insert edge list —
    * a delta edge whose source was unreachable participates the moment
    * its source improves, because the relaxation joins `edgesAfter`,
    * not the delta. Improvement chains lengthen the hop by 1 per round,
    * so `maxHops` rounds always suffice; the loop exits as soon as a
    * round improves nothing (the common case for a small delta: 1-2
    * rounds). Deletions are NOT expressible as relaxation (distances
    * grow non-locally) — a delete batch re-runs the cold [[bfsHops]],
    * the documented batch-tier recompute.
    */
  def bfsHopsDelta(
      edgesAfter: DataFrame,
      srcCol: String,
      dstCol: String,
      oldHops: DataFrame,
      deltaEdges: DataFrame,
      maxHops: Int,
      checkpointEdges: Boolean = true): DataFrame = {
    require(maxHops >= 1)
    val e0 = edgesAfter.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (checkpointEdges) e0.checkpointed() else e0
    val d = deltaEdges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    def improvements(cand: DataFrame, hops: DataFrame): DataFrame = cand
      .filter(col("cand") <= maxHops)
      .groupBy(col("node")).agg(min(col("cand")).as("cand"))
      .join(hops, Seq("node"), "left")
      .filter(col("hop").isNull || col("cand") < col("hop"))
      .select(col("node"), col("cand").cast("int").as("hop"))
      .checkpointed()
    var hops = oldHops.select(col("node"), col("hop")).checkpointed()
    var frontier = improvements(
      d.join(hops.select(col("node").as("src"), col("hop").as("hs")), "src")
        .select(col("dst").as("node"), (col("hs") + 1).as("cand")),
      hops)
    var round = 0
    while (round < maxHops && !frontier.isEmpty) {
      // merge the strict improvements, then relax them one hop outward
      val merged = hops.join(frontier.select(col("node"), col("hop").as("hn")),
          Seq("node"), "full_outer")
        .select(col("node"), coalesce(least(col("hop"), col("hn")),
          col("hop"), col("hn")).as("hop"))
        .checkpointed()
      val next = improvements(
        broadcast(frontier).join(e, frontier("node") === e("src"))
          .select(col("dst").as("node"), (frontier("hop") + 1).as("cand")),
        merged)
      // superseded: both replacements are materialized
      Checkpoints.unpersist(hops)
      Checkpoints.unpersist(frontier)
      hops = merged
      frontier = next
      round += 1
    }
    hops
  }

  /** Continuously-maintained per-node triangle counts — the streaming
    * composition of [[triangleCountDelta]] with the PARTITIONED
    * count-table state of [[Incremental.mergeCountsPartitioned]]:
    * triangle counts ARE a count table keyed by `node` with additive
    * `tri_delta`, so the state fold is the same composition as
    * [[maintainCopurchaseWeights]] — each micro-batch pays its own
    * delta-sized inclusion-exclusion plus a rewrite of ONLY the count
    * partitions its affected nodes hash into, never a node-sized
    * snapshot. (The r13 layout rewrote the full counts frame through one
    * `coalesce(1)` task per batch and folded through a full-frame
    * `full_outer` join — the IVM math was delta-sized, the state fold
    * was not; r14 verdict's one `weak`.) The maintained counts equal a
    * full [[triangleCountsAdj]] over every SURVIVING logged edge,
    * bit-for-bit (GraphOpsSpec: batch by batch, inserts AND deletes,
    * untouched count partitions byte-identical by CRC).
    *
    * State layout under `stateDir`:
    *  - `edges/batch=<id>/` — the half-edge log, one partition per
    *    INSERT batch, dynamic-overwritten on replay
    *    (`IndexLayout.overwriteBatchPartitions`); "the graph before
    *    batch b" is the partition-pruned read `batch < b`. A delete
    *    batch rewrites only the log partitions holding its edges
    *    (copy-on-write, the [[graft.sinks.Lake.deleteByIds]] discipline).
    *  - `counts/` — a [[Incremental.mergeCountsPartitioned]] table keyed
    *    by `node`, count column `tri_cnt`: `counts/data/__p=N` slices,
    *    `counts/applied/batch=<id>` commit markers, the partition
    *    modulus pinned under `counts/meta` (a later call with a
    *    different `partitions` fails fast).
    *  - `deletes/batch=<id>/` — a delete batch's RESOLVED edge set
    *    (present-in-log, canonical), written BEFORE the counts merge so
    *    a crash between the merge and the log rewrite replays the
    *    rewrite from disk instead of recomputing a delta against an
    *    already-decremented count table; `deletes_done/batch=<id>`
    *    marks the rewrite complete.
    *
    * Every batch is CANONICALIZED first (least/greatest + self-loop
    * drop): a reversed duplicate of a logged edge would otherwise
    * silently coexist with its mirror in the log and corrupt the
    * maintained counts (r14 ADVICE).
    *
    * Insert batches (`sign = 1`): canonical edges deduplicate against
    * the prior log (presence semantics, matching
    * [[triangleCountDelta]]'s contract), land under `batch=<id>`, and
    * the positive delta merges into the count table. Write order: edges
    * first, counts merge (whose `applied/` marker commits the batch)
    * last — a crash between the two replays into identical state
    * because the replay's `batch < id` read never sees the
    * newly-written partition. An EMPTY delta skips the edge write (a
    * zero-row dynamic overwrite would leave a bare _SUCCESS under
    * edges/ and poison schema inference); the marker still commits.
    *
    * Delete batches (`sign = -1`): the batch resolves to its
    * present-in-log edges (absent edges drop — the delete mirror of the
    * insert dedup), the triangle delta computes against the PRE-delete
    * log, merges NEGATED, then the affected log partitions rewrite
    * without the deleted rows (emptied partitions' directories are
    * removed — dynamic overwrite cannot express "write nothing").
    * Step order — resolved set, counts merge (marker), log rewrite,
    * `deletes_done` — makes every step idempotent from the previous
    * step's on-disk artifacts, so an at-least-once replay finishes the
    * remaining steps and a completed batch no-ops.
    *
    * Same crash caveat as [[Incremental.mergeCountsPartitioned]]: the
    * counts merge itself is not crash-atomic (a failure mid-merge can
    * leave AFFECTED count partitions half-merged — and on the DELETE
    * path a replayed merge can double-apply the negated delta into
    * those partitions, which the subsequent log rewrite can no longer
    * reconcile); untouched partitions are never at risk. RECOVERY: the
    * edge log is the authoritative state — [[rebuildTriangleCounts]]
    * recomputes counts/ cold from it and restores the commit markers,
    * after which replaying the in-flight batch finishes correctly.
    *
    * Operating rules: size `partitions` for the DELTA cadence (the
    * mergeCountsPartitioned rule — the delta-sized-rewrite property
    * needs P comfortably above a batch's affected-node count), and seed
    * a LARGE initial corpus with [[seedTriangleCounts]] (cold
    * `triangleCountsAdj` counts merged directly into the table) rather
    * than one giant first batch — [[triangleCountDelta]]'s T2/T3 terms
    * are delta self-joins, bounded for micro-batches but
    * wedge-volume-sized (no orientation bound) when the "delta" is the
    * whole corpus.
    *
    * Returns false on an already-applied batch (replay no-op).
    */
  def maintainTriangleCounts(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      edgeBatchHalf: DataFrame,
      batchId: Long,
      partitions: Int = 64,
      sign: Long = 1L): Boolean = {
    import org.apache.hadoop.fs.Path
    require(sign == 1L || sign == -1L, "sign must be +1 (inserts) or -1 (deletes)")
    val countsDir = s"$stateDir/counts"
    val edgesDir = s"$stateDir/edges"
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNotLegacyCountsLayout(fs, countsDir)
    val countsApplied = fs.exists(new Path(s"$countsDir/applied/batch=$batchId"))
    val doneMarker = new Path(s"$stateDir/deletes_done/batch=$batchId")
    if (sign == 1L && countsApplied) return false
    if (sign == -1L && countsApplied && fs.exists(doneMarker)) return false
    // ids folded by a log compaction are invisible to this batch's
    // `batch < id` dedup read — reusing one would silently duplicate
    IndexLayout.compactedThrough(spark, s"$stateDir/compacted").foreach(t =>
      require(batchId > t,
        s"batch $batchId was consumed by a log compaction (through=$t) " +
          "— maintenance must resume above it"))
    // fail-fast on a partition-modulus mismatch BEFORE any state write —
    // mergeCountsPartitioned re-checks, but only after the edge log had
    // already absorbed the batch
    Incremental.pinnedPartitions(spark, countsDir).foreach(p =>
      require(p == partitions,
        s"triangle count table at $countsDir was built with partitions=$p; " +
          s"refusing to merge with partitions=$partitions"))
    val canon = edgeBatchHalf
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // a fully-emptied log (every partition deleted) leaves a bare
    // _SUCCESS that breaks schema inference — same live-partition gate
    // as mergeCountsPartitioned
    val oldOpt =
      if (Incremental.hasLivePartitions(spark, edgesDir, "batch="))
        Some(spark.read.parquet(edgesDir)
          .filter(col("batch") < batchId).select(col("src"), col("dst")))
      else None
    if (sign == 1L) Checkpoints.scoped {
      val delta = oldOpt.map(old => canon.join(old, Seq("src", "dst"), "left_anti"))
        .getOrElse(canon)
        .checkpointed() // consumed by the log write, T1/T2/T3, and full
      val full = oldOpt.map(_.unionAll(delta)).getOrElse(delta)
      val d = triangleCountDelta(full, delta, pinDelta = false)
      // §2.6 overlap (r18): the edge-log write and the DOMINANT job of
      // the batch — folding the T1-T2+T3 triangle delta — are
      // independent; only the counts merge (whose applied/ marker
      // commits the batch) must follow the completed edge write (the
      // crash-ordering contract above). The log write runs on a pool
      // thread while this thread folds the delta into its checkpoint;
      // the merge then re-aggregates the tiny node-delta frame (a
      // no-op pass the overlap pays for the ordering). oldOpt's file
      // listing snapshotted at frame creation, so the concurrent
      // batch=<id> write is invisible to the fold's scans.
      val writeF =
        if (delta.isEmpty) None
        else Some(scala.concurrent.Future {
          IndexLayout.overwriteBatchPartitions(
            delta.withColumn("batch", lit(batchId)), edgesDir, Seq("batch"))
        }(scala.concurrent.ExecutionContext.global))
      val dAgg =
        try d.groupBy(col("node"))
          .agg(sum(col("tri_delta")).as("tri_cnt"))
          .filter(col("tri_cnt") =!= 0)
          .checkpointed()
        catch { case t: Throwable =>
          // the pool write must land (or fail) before the scope
          // releases the delta blocks it reads
          writeF.foreach(f => scala.concurrent.Await.ready(f,
            scala.concurrent.duration.Duration.Inf))
          throw t
        }
      writeF.foreach(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf))
      Incremental.mergeCountsPartitioned(spark, countsDir,
        dAgg.select(col("node"), col("tri_cnt")),
        Seq("node"), "tri_cnt", partitions, batchId)
    } else {
      val delDir = s"$stateDir/deletes/batch=$batchId"
      if (!countsApplied) Checkpoints.scoped {
        val resolved = oldOpt
          .map(old => canon.join(old, Seq("src", "dst"), "left_semi"))
          .getOrElse(canon.limit(0))
          .checkpointed() // consumed by the delete-set write + T1/T2/T3
        // same §2.6 overlap as the insert path: the resolved-set write
        // (crash-replay evidence, must land before the merge's marker)
        // runs on a pool thread under the delta fold
        val writeF =
          if (resolved.isEmpty) None
          else Some(scala.concurrent.Future {
            resolved.write.mode("overwrite").parquet(delDir)
          }(scala.concurrent.ExecutionContext.global))
        val d = triangleCountDelta(
          oldOpt.getOrElse(resolved), resolved, pinDelta = false)
        val dAgg =
          try d.groupBy(col("node"))
            .agg((-sum(col("tri_delta"))).as("tri_cnt"))
            .filter(col("tri_cnt") =!= 0)
            .checkpointed()
          catch { case t: Throwable =>
            writeF.foreach(f => scala.concurrent.Await.ready(f,
              scala.concurrent.duration.Duration.Inf))
            throw t
          }
        writeF.foreach(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
        Incremental.mergeCountsPartitioned(spark, countsDir,
          dAgg.select(col("node"), col("tri_cnt")),
          Seq("node"), "tri_cnt", partitions, batchId)
      }
      // log rewrite — idempotent from the on-disk resolved set: an
      // already-rewritten partition simply stops matching the join. The
      // live-partition guard covers the replay of a delete that emptied
      // the whole log (bare _SUCCESS breaks schema inference).
      if (fs.exists(new Path(delDir)) &&
          Incremental.hasLivePartitions(spark, edgesDir, "batch=")) {
        val delSet = spark.read.parquet(delDir).select(col("src"), col("dst"))
        val log = spark.read.parquet(edgesDir)
          .select(col("src"), col("dst"), col("batch"))
        val affected = log.join(delSet, Seq("src", "dst"))
          .select(col("batch").cast("long")).distinct()
          .collect().map(_.getLong(0)) // bounded by the batch count
        if (affected.nonEmpty) Checkpoints.scoped {
          val survivors = log
            .filter(col("batch").isin(affected: _*))
            .join(delSet, Seq("src", "dst"), "left_anti")
            .checkpointed() // consumed by liveness accounting + write
          val live = survivors.select(col("batch").cast("long")).distinct()
            .collect().map(_.getLong(0)).toSet
          if (!survivors.isEmpty)
            IndexLayout.overwriteBatchPartitions(
              survivors, edgesDir, Seq("batch"))
          affected.filterNot(live).foreach(b =>
            fs.delete(new Path(edgesDir, s"batch=$b"), true))
        }
      }
      fs.mkdirs(doneMarker)
      true
    }
  }

  /** The r13 rounds wrote triangle state as `counts/v=<id>` _SUCCESS
    * snapshots; the r15 partitioned layout (`counts/meta` +
    * `counts/data/__p=N` + `counts/applied/`) replaced it. Replaying a
    * maintainer onto a pre-migration stateDir would find no meta or
    * applied markers, silently seed a FRESH count table holding only
    * the new batch's delta while the (format-unchanged) edge log kept
    * the full history — maintained counts diverging from the recompute
    * with no error. Fail loudly instead, with the one-shot migration
    * (r15 ADVICE).
    */
  private def requireNotLegacyCountsLayout(
      fs: org.apache.hadoop.fs.FileSystem, countsDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val snaps = fs.globStatus(new Path(s"$countsDir/v=*"))
    require(snaps == null || snaps.isEmpty ||
      fs.exists(new Path(s"$countsDir/meta")),
      s"triangle state at $countsDir is the legacy counts/v=<id> snapshot " +
        "layout (no counts/meta): migrate once by wiping counts/ and " +
        "running rebuildTriangleCounts (cold triangleCountsAdj over the " +
        "edge log), then resume the maintainer")
  }

  /** Seed a triangle-maintainer state dir from a LARGE initial corpus —
    * the function form of the scaladoc's operating rule ("seed a large
    * initial corpus as [[triangleCountsAdj]] counts merged directly
    * into the table rather than one giant first batch":
    * [[triangleCountDelta]]'s T2/T3 delta self-joins are
    * wedge-volume-sized when the 'delta' is the whole corpus, while the
    * cold adjacency count is orientation-bounded). Writes the canonical
    * edge log under `batch=0` and the cold counts into the partitioned
    * table with batch 0's commit marker, so incremental batches resume
    * at `batchId >= 1` and a replayed seed no-ops. Refuses a non-empty
    * state dir: seeding is the FIRST write, never a merge.
    */
  def seedTriangleCounts(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      edgesHalf: DataFrame,
      partitions: Int = 64): Unit = Checkpoints.scoped {
    import org.apache.hadoop.fs.Path
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(s"$stateDir/counts")) &&
      !fs.exists(new Path(s"$stateDir/edges")),
      s"refusing to seed $stateDir: counts/ or edges/ already exists — " +
        "seed only an empty state dir (incremental batches go through " +
        "maintainTriangleCounts; a rebuild goes through " +
        "rebuildTriangleCounts)")
    val canon = edgesHalf
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .checkpointed() // consumed by the log write + the cold count
    if (!canon.isEmpty)
      IndexLayout.overwriteBatchPartitions(
        canon.withColumn("batch", lit(0L)), s"$stateDir/edges", Seq("batch"))
    Incremental.mergeCountsPartitioned(spark, s"$stateDir/counts",
      triangleCountsAdj(canon)
        .select(col("node"), col("tri_cnt")),
      Seq("node"), "tri_cnt", partitions, batchId = 0L)
  }

  /** DISASTER-RECOVERY rebuild of the maintained count table from the
    * edge log (the authoritative state): cold [[triangleCountsAdj]]
    * over the logged edges replaces counts/ wholesale, with commit
    * markers restored for every batch id present in the log — after
    * which replaying any in-flight batch finishes correctly (an
    * insert's edges are either logged — its delta resolves empty — or
    * absent — it re-applies; a crashed delete re-resolves against the
    * rebuilt baseline). This is the documented recovery for
    * [[Incremental.mergeCountsPartitioned]]'s non-crash-atomic merge
    * window (a failure mid-merge can leave affected count partitions
    * half-merged; the delete path widens the blast radius because a
    * double-applied negated delta cannot be reconciled from the
    * rewritten log — r15 ADVICE).
    */
  def rebuildTriangleCounts(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      partitions: Option[Int] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // preserve the table's pinned modulus by default (read BEFORE the
    // wipe): a recovery run must not silently change the layout contract
    // out from under the maintainer's partitions argument (r16
    // self-review); pass Some(p) only to deliberately re-partition
    val p = partitions
      .orElse(Incremental.pinnedPartitions(spark, s"$stateDir/counts"))
      .getOrElse(64)
    fs.delete(new Path(s"$stateDir/counts"), true)
    val (log, batches) =
      if (Incremental.hasLivePartitions(spark, s"$stateDir/edges", "batch=")) {
        val l = spark.read.parquet(s"$stateDir/edges")
        (l.select(col("src"), col("dst")),
          l.select(col("batch").cast("long")).distinct()
            .collect().map(_.getLong(0)).toSeq) // bounded by batch count
      } else (spark.range(0).select(col("id").as("src"), col("id").as("dst")),
        Seq(0L))
    Incremental.mergeCountsPartitioned(spark, s"$stateDir/counts",
      triangleCountsAdj(log).select(col("node"), col("tri_cnt")),
      Seq("node"), "tri_cnt", p, batchId = batches.max)
    batches.foreach(b =>
      fs.mkdirs(new Path(s"$stateDir/counts/applied/batch=$b")))
    ()
  }

  /** Compact a maintainer's edge LOG — the state-tier twin of the index
    * compaction family: every micro-batch adds an `edges/batch=<id>`
    * dir, and both the per-batch dedup anti-join's partition discovery
    * and delete-path rewrites walk all of them forever. Folds the log
    * into ONE batch (the max logged id, so future ids stay above it and
    * the `batch < id` dedup read is unchanged) via the staged swap.
    * REPLAY SAFETY NEEDS NO NEW MARKER here: a consumed insert/delete
    * batch's no-op comes from the counts/labels `applied/` (and
    * `deletes_done/`) markers, which this never touches. Quiesce is
    * ENFORCED twice: a logged batch without its applied marker (an
    * in-flight maintainer call) fails loudly, and so does a resolved
    * delete without its `deletes_done/` marker (its resolution
    * references pre-compaction rows). Finished deletes' resolution dirs
    * are reclaimed after the fold — both maintainer families take
    * delete batches now, so the r16 triangle-only wrapper logic lives
    * here (r17 review: one copy, not two).
    */
  private def compactMaintainerLog(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      appliedRoot: String,
      targetFiles: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val edgesDir = s"$stateDir/edges"
    IndexLayout.resumeCompaction(spark, edgesDir)
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val unfinished = Option(fs.globStatus(new Path(s"$stateDir/deletes/batch=*")))
      .map(_.toSeq.map(_.getPath.getName)
        .filterNot(b => fs.exists(new Path(s"$stateDir/deletes_done/$b"))))
      .getOrElse(Nil)
    require(unfinished.isEmpty,
      s"delete batches ${unfinished.mkString(",")} at $stateDir resolved " +
        "but never finished their log rewrite — replay them before " +
        "compacting (their resolutions reference pre-compaction rows)")
    val logged = Option(fs.globStatus(new Path(s"$edgesDir/batch=*")))
      .map(_.toSeq.flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("batch=").toLong).toOption))
      .getOrElse(Nil)
    if (logged.length > 1) {
      val applied = Option(fs.globStatus(new Path(s"$appliedRoot/batch=*")))
        .map(_.toSeq.flatMap(s => scala.util.Try(
          s.getPath.getName.stripPrefix("batch=").toLong).toOption).toSet)
        .getOrElse(Set.empty[Long])
      val inFlight = logged.filterNot(applied)
      require(inFlight.isEmpty,
        s"log at $edgesDir has batches ${inFlight.sorted.mkString(",")} " +
          "without applied markers — a maintainer call is in flight; let " +
          "it commit (or replay) before compacting")
      // consumed-id guard first (the index-family convention): the dedup
      // read `batch < id` cannot see the folded rows for an id at or
      // below the fold target, so reusing one would silently duplicate
      IndexLayout.writeCompactedThrough(spark, s"$stateDir/compacted", logged.max)
      IndexLayout.compactTable(spark, edgesDir, Seq("batch"),
        toBatch = logged.max, keep = identity,
        repartitionCols = Nil, targetFiles = targetFiles)
    }
    // finished deletes' resolutions are dead weight: their counts/labels
    // AND deletes_done markers survive, so replays stay no-ops without
    // them — reclaimed even when the fold itself had nothing to do
    Option(fs.globStatus(new Path(s"$stateDir/deletes/batch=*")))
      .foreach(_.foreach(s => { fs.delete(s.getPath, true); () }))
  }

  /** [[compactMaintainerLog]] for [[maintainTriangleCounts]] state
    * (delete quiesce + resolution reclaim included). STOP-THE-WORLD for
    * the swap window; rerunning after a crash finishes a half-done
    * swap. Maintained counts are untouched (spec-pinned CRC-identical).
    */
  def compactTriangleLog(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      targetFiles: Int = 32): Unit =
    compactMaintainerLog(spark, stateDir, s"$stateDir/counts/applied",
      targetFiles)

  /** [[compactMaintainerLog]] for [[maintainCommunityLabels]] state
    * (same delete quiesce + reclaim — label maintenance takes delete
    * batches too).
    */
  def compactCommunityLabelsLog(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      targetFiles: Int = 32): Unit =
    compactMaintainerLog(spark, stateDir, s"$stateDir/labels/applied",
      targetFiles)

  /** The maintained triangle counts as a frame (`node`, `tri_cnt`);
    * None before the first batch with any surviving count.
    */
  def readTriangleCounts(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNotLegacyCountsLayout(fs, s"$stateDir/counts")
    Incremental.readCountsPartitioned(
      spark, s"$stateDir/counts", Seq("node"), "tri_cnt")
  }

  /** Streaming wrapper of [[maintainTriangleCounts]] — the
    * `Incremental.maintainCountsPartitioned` idiom: each micro-batch of
    * half-edges (`src`, `dst`) folds its triangle delta into the
    * maintained state under the micro-batch id; exactly-once under
    * foreachBatch's at-least-once replay comes from the per-batch commit
    * markers (an already-applied batch returns untouched).
    *
    * Delete batches ride the SAME stream: rows may carry a `sign`
    * column (+1 insert / -1 delete). A micro-batch must be sign-UNIFORM
    * — the per-batch commit marker cannot represent a half-applied
    * batch, so a mixed batch fails loudly (route inserts and deletes
    * through separate topics/sources, the operational norm). A missing
    * `sign` column means all-insert.
    */
  def maintainTriangleCountsStream(
      edgeBatches: DataFrame,
      stateDir: String,
      checkpointDir: String,
      partitions: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    edgeBatches.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val (edges, sgn) = splitUniformSign(batch.toDF(), batchId)
        maintainTriangleCounts(batch.sparkSession, stateDir, edges, batchId,
          partitions, sgn)
        ()
      }

  /** Extract a micro-batch's uniform `sign` column (+1 insert /
    * -1 delete; missing column = all-insert) — shared by the maintainer
    * stream wrappers. A mixed or NULL-carrying batch fails loudly: the
    * per-batch commit marker cannot represent a half-applied batch.
    */
  private def splitUniformSign(
      df: DataFrame, batchId: Long): (DataFrame, Long) =
    if (df.columns.contains("sign")) {
      val signRows = df.select(col("sign").cast("long")).distinct()
        .collect()
      require(signRows.forall(!_.isNullAt(0)),
        s"micro-batch $batchId carries NULL sign values — sign must " +
          "be +1 (insert) or -1 (delete) on every row")
      val signs = signRows.map(_.getLong(0))
      require(signs.length <= 1,
        s"mixed-sign micro-batch $batchId: a batch must be all-insert " +
          "or all-delete — the per-batch commit marker cannot " +
          "represent a half-applied batch")
      (df.drop("sign"), signs.headOption.getOrElse(1L))
    } else (df, 1L)

  /** Maintained FIXED-ROUND community labels under edge-insert batches —
    * the streaming-state story for the last clustered view without one
    * (r15 verdict #5), composing [[communityLabelsRefreshAuto]] into the
    * [[maintainTriangleCounts]] state discipline. State under `stateDir`:
    *
    *  - `edges/batch=<id>` — the canonical half-edge log; delete
    *    batches COW-rewrite exactly the partitions holding their edges
    *    (see the DELETE paragraph below), with `deletes/batch=<id>`
    *    resolutions and `deletes_done/` markers as in
    *    [[maintainTriangleCounts]];
    *  - `labels/` — an [[Incremental.upsertPartitioned]] table keyed by
    *    `node`, value `label`: per batch only the partitions holding
    *    CHANGED labels rewrite (the cone refresh changes a ball-sized
    *    set, so steady-state maintenance I/O is ball-sized, never
    *    node-sized), with `labels/applied/batch=<id>` the commit marker.
    *
    * Batch flow: canonicalize, dedupe against the prior log, land the
    * edge delta, refresh labels — the FIRST batch runs the cold
    * fixed-round [[communityLabels]]; later batches route through the
    * auto-dispatcher (cone refresh when the 2k-ball stays delta-local,
    * cold otherwise — both exact, so the state equals the cold
    * fixed-round labels of the whole log after EVERY batch, by
    * induction through [[communityLabelsDelta]]'s exactness), and only
    * changed `(node, label)` rows upsert (the changed set comes from one
    * thin node-sized exceptAll against the stored table — compute, not
    * I/O; the WRITE stays ball-sized). Write order: edges first, labels
    * marker last — a replay with the same id re-dedupes to the identical
    * delta, overwrites its own edge partition, and the labels marker
    * makes the refresh a no-op.
    *
    * Returns false on an already-applied batch (replay no-op).
    *
    * DELETE batches (`sign = -1`, r17 — parity with
    * [[maintainTriangleCounts]]'s retraction path): label deletions are
    * NON-LOCAL (the [[communityLabelsDelta]] contract — a removed edge
    * can re-route label flow arbitrarily far), so the refresh arm is the
    * auto-dispatcher's COLD recompute over the SURVIVING log, with
    * changed rows upserting and nodes that lost their last edge DROPPED
    * from the table ([[Incremental.upsertPartitioned]]'s `dropKeys`).
    * The log itself COW-rewrites with the triangle maintainer's step
    * order — resolved set persisted (`deletes/batch=<id>`), label
    * refresh + upsert (whose `applied/` marker commits the batch), log
    * rewrite of exactly the partitions holding deleted edges,
    * `deletes_done/batch=<id>` — so every step is idempotent from the
    * previous one's on-disk evidence and a replay at any crash point
    * heals to the same committed state.
    */
  def maintainCommunityLabels(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      edgeBatchHalf: DataFrame,
      batchId: Long,
      rounds: Int,
      partitions: Int = 64,
      saturationFraction: Double = 0.2,
      sign: Long = 1L): Boolean = {
    import org.apache.hadoop.fs.Path
    require(rounds >= 1)
    require(sign == 1L || sign == -1L, "sign must be +1 (inserts) or -1 (deletes)")
    val labelsDir = s"$stateDir/labels"
    val edgesDir = s"$stateDir/edges"
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val labelsApplied = fs.exists(new Path(s"$labelsDir/applied/batch=$batchId"))
    val doneMarker = new Path(s"$stateDir/deletes_done/batch=$batchId")
    if (sign == 1L && labelsApplied) return false
    if (sign == -1L && labelsApplied && fs.exists(doneMarker)) return false
    IndexLayout.compactedThrough(spark, s"$stateDir/compacted").foreach(t =>
      require(batchId > t,
        s"batch $batchId was consumed by a log compaction (through=$t) " +
          "— maintenance must resume above it"))
    Incremental.pinnedPartitions(spark, labelsDir).foreach(p =>
      require(p == partitions,
        s"label table at $labelsDir was built with partitions=$p; " +
          s"refusing to upsert with partitions=$partitions"))
    val canon = edgeBatchHalf
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val oldOpt =
      if (Incremental.hasLivePartitions(spark, edgesDir, "batch="))
        Some(spark.read.parquet(edgesDir)
          .filter(col("batch") < batchId).select(col("src"), col("dst")))
      else None
    if (sign == 1L) Checkpoints.scoped {
      // the scope releases the delta pin and the refresh result
      val delta = oldOpt.map(old => canon.join(old, Seq("src", "dst"), "left_anti"))
        .getOrElse(canon)
        .checkpointed() // consumed by the log write, the router, the union
      val after = oldOpt.map(_.unionAll(delta)).getOrElse(delta)
      if (!delta.isEmpty)
        IndexLayout.overwriteBatchPartitions(
          delta.withColumn("batch", lit(batchId)), edgesDir, Seq("batch"))
      val oldLabels =
        Incremental.readCountsPartitioned(spark, labelsDir, Seq("node"), "label")
      val fresh = oldLabels match {
        case None => communityLabels(after, "src", "dst", rounds)
        case Some(old) => communityLabelsRefreshAuto(after, "src", "dst",
          rounds, old, delta, saturationFraction).result
      }
      // only CHANGED assignments upsert — ball-sized under the cone route
      val changed = oldLabels match {
        case None => fresh
        case Some(old) => fresh.exceptAll(old)
      }
      Incremental.upsertPartitioned(spark, labelsDir,
        changed.select(col("node"), col("label")),
        Seq("node"), "label", partitions, batchId)
    } else {
      val delDir = s"$stateDir/deletes/batch=$batchId"
      val nothingResolved = !labelsApplied && Checkpoints.scoped {
        val resolved = oldOpt
          .map(old => canon.join(old, Seq("src", "dst"), "left_semi"))
          .getOrElse(canon.limit(0))
          .checkpointed() // consumed by the delete-set write + refresh
        if (resolved.isEmpty) {
          // nothing matched the log (a re-issued GDPR batch, or edges
          // that never existed): the surviving log IS the old log and
          // by the maintained invariant the stored labels already
          // equal its cold recompute — commit the marker without
          // paying a whole-graph fixed-round pass (r17 review)
          Incremental.upsertPartitioned(spark, labelsDir,
            canon.select(col("src").as("node"), col("src").as("label"))
              .limit(0),
            Seq("node"), "label", partitions, batchId)
          true
        } else {
          resolved.write.mode("overwrite").parquet(delDir)
          val surviving = oldOpt
            .map(_.join(resolved, Seq("src", "dst"), "left_anti"))
            .getOrElse(resolved.limit(0))
            .checkpointed() // consumed by emptiness probe + recompute
          val oldLabels = Incremental.readCountsPartitioned(
            spark, labelsDir, Seq("node"), "label")
          // label deletions are non-local: COLD fixed-round recompute
          // over the surviving log (the dispatcher's cold arm — a cone
          // cannot bound a removal's influence); the empty frame is free
          val fresh =
            if (surviving.isEmpty)
              surviving.select(col("src").as("node"), col("src").as("label"))
            else communityLabels(surviving, "src", "dst", rounds)
          val changed = oldLabels match {
            case None => fresh
            case Some(old) => fresh.exceptAll(old)
          }
          // a node that lost its last edge leaves the label table —
          // a stale row would diverge from the cold recompute forever
          val vanished = oldLabels.map(_.select(col("node"))
            .join(fresh.select(col("node")), Seq("node"), "left_anti"))
          Incremental.upsertPartitioned(spark, labelsDir,
            changed.select(col("node"), col("label")),
            Seq("node"), "label", partitions, batchId,
            dropKeys = vanished)
          false
        }
      }
      if (nothingResolved) { fs.mkdirs(doneMarker); return true }
      // log rewrite — idempotent from the on-disk resolved set (the
      // triangle maintainer's block): an already-rewritten partition
      // simply stops matching the join
      if (fs.exists(new Path(delDir)) &&
          Incremental.hasLivePartitions(spark, edgesDir, "batch=")) {
        val delSet = spark.read.parquet(delDir).select(col("src"), col("dst"))
        val log = spark.read.parquet(edgesDir)
          .select(col("src"), col("dst"), col("batch"))
        val affected = log.join(delSet, Seq("src", "dst"))
          .select(col("batch").cast("long")).distinct()
          .collect().map(_.getLong(0)) // bounded by the batch count
        if (affected.nonEmpty) Checkpoints.scoped {
          val survivors = log
            .filter(col("batch").isin(affected: _*))
            .join(delSet, Seq("src", "dst"), "left_anti")
            .checkpointed() // consumed by liveness accounting + write
          val live = survivors.select(col("batch").cast("long")).distinct()
            .collect().map(_.getLong(0)).toSet
          if (!survivors.isEmpty)
            IndexLayout.overwriteBatchPartitions(
              survivors, edgesDir, Seq("batch"))
          affected.filterNot(live).foreach(b =>
            fs.delete(new Path(edgesDir, s"batch=$b"), true))
        }
      }
      fs.mkdirs(doneMarker)
      true
    }
  }

  /** The maintained label table as a frame (`node`, `label`); None
    * before the first committed batch.
    */
  def readCommunityLabels(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] =
    Incremental.readCountsPartitioned(
      spark, s"$stateDir/labels", Seq("node"), "label")

  /** Streaming wrapper of [[maintainCommunityLabels]] — the
    * [[maintainTriangleCountsStream]] idiom: each micro-batch of
    * half-edges (`src`, `dst`) folds through the edge log + label state
    * under its micro-batch id, so foreachBatch's at-least-once replay
    * is exactly-once on the state (per-batch commit markers).
    */
  def maintainCommunityLabelsStream(
      edgeBatches: DataFrame,
      stateDir: String,
      checkpointDir: String,
      rounds: Int,
      partitions: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    edgeBatches.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        // delete batches ride the same stream via a uniform `sign`
        // column, the maintainTriangleCountsStream contract
        val (edges, sgn) = splitUniformSign(batch.toDF(), batchId)
        maintainCommunityLabels(batch.sparkSession, stateDir, edges,
          batchId, rounds, partitions, sign = sgn)
        ()
      }

  /** The degree-ordered orientation of [[triangleCountsAdj]]: each
    * {u,v} once as (lower, higher) by
    * (degree, id) — every triangle survives as exactly one directed
    * wedge, fan-out bounded by the oriented out-degree.
    */
  private def orientHalf(half: DataFrame): DataFrame = {
    val h = half.select(col("src"), col("dst"))
    val deg = h.select(explode(array(col("src"), col("dst"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    h
      .join(deg.select(col("v").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("v").as("dst"), col("d").as("dd")), "dst")
      .select(when(col("ds") < col("dd") ||
          (col("ds") === col("dd") && col("src") < col("dst")),
          struct(col("src").as("a"), col("dst").as("b")))
        .otherwise(struct(col("dst").as("a"), col("src").as("b"))).as("e"))
      .select(col("e.a").as("src"), col("e.b").as("dst"))
  }

  /** k-core of a SYMMETRIC edge list by synchronous peeling: `rounds`
    * rounds of "drop every node whose degree among survivors is < k",
    * then report each survivor with its in-core degree. With `rounds`
    * at least the peel depth this IS the exact k-core (the fixpoint —
    * KCoreSpec asserts one extra round changes nothing on the test
    * corpora); a fixed round count is what makes the computation a pure
    * function of the input, so an unrolled-CTE oracle reproduces every
    * round bit-for-bit, exactly the [[pageRank]] contract.
    *
    * Scale shape per round: the edge list joins the node-sized survivor
    * frame twice (LEFT SEMI on src and dst — broadcast when nodes fit,
    * the [[pageRank]] `broadcastRanks` trade-off) and one partial-agg
    * degree groupBy. Nothing larger than the edge list ever shuffles,
    * and the survivor frame only shrinks. Peeling depth on real graphs
    * is small (the degeneracy ordering converges in O(log n) synchronous
    * rounds on power-law graphs); on a cluster run rounds until the
    * survivor count stops moving — here it is a parameter so the oracle
    * can unroll it.
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int,
      broadcastAlive: Boolean = true,
      checkpointEdges: Boolean = true): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (checkpointEdges) e0.checkpointed() else e0
    def degrees(ed: DataFrame): DataFrame =
      ed.groupBy(col("src")).agg(count(lit(1)).as("d"))
    def surviving(ed: DataFrame, alive: DataFrame): DataFrame = {
      val a = if (broadcastAlive) broadcast(alive) else alive
      ed.join(a, ed("src") === a("node"), "left_semi")
        .join(a, ed("dst") === a("node"), "left_semi")
    }
    // the survivor frame is consumed TWICE per round (src + dst semi
    // joins), so an un-cut lineage DOUBLES every round — 2^rounds plan
    // blowup (measured 23 s vs 4 s at sf0.1 over 7 rounds). Cutting the
    // node-sized frame every round keeps the plan constant-size; unlike
    // pageRank's once-per-round rank frame (linear growth, periodic
    // cuts), here the cut must be per-round.
    var alive = degrees(e).filter(col("d") >= k).select(col("src").as("node"))
      .checkpointed()
    for (_ <- 1 to rounds) {
      val next = degrees(surviving(e, alive))
        .filter(col("d") >= k).select(col("src").as("node"))
        .checkpointed()
      Checkpoints.unpersist(alive) // superseded: `next` is materialized
      alive = next
    }
    degrees(surviving(e, alive))
      .select(col("src").as("node"), col("d").as("core_deg"))
  }

  /** [[kCore]] over the HALF-edge form (each {u,v} once, src < dst) —
    * bit-identical output via INCREMENTAL peeling: instead of
    * re-aggregating degrees over the surviving edge list every round
    * (edge-sized work × rounds), maintain each live node's in-core
    * degree and per round subtract only the edges incident to the nodes
    * that died LAST round. A survivor's neighbors die exactly once, so
    * the running difference equals the synchronous re-aggregate at every
    * round — the frontier trick of [[bfsHops]] applied to peeling, and
    * the per-round probe side (the newly-dead set) is usually a few
    * hundred rows against millions of edges.
    *
    * Rounds after the peel fixpoint are provable no-ops (the newly-dead
    * set is empty ⇒ every later synchronous round is the identity), so
    * the loop exits early — same RESULT as the full fixed-round unroll,
    * checked per round with a bounded `isEmpty` on the node-sized dead
    * frame. If the round budget runs out mid-peel, one closing
    * subtraction aligns the reported degrees to "within the final
    * survivor set" (the fixed-round contract's last `ef` pass), dropping
    * survivors left with zero in-core edges exactly as a degrees-from-
    * edges aggregate would.
    */
  def kCoreHalf(
      half: DataFrame,
      k: Int,
      rounds: Int,
      broadcastDead: Boolean = true,
      checkpointEdges: Boolean = true,
      halfByDst: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && rounds >= 1)
    // checkpointEdges = false: keep a stored bucketed table's scan (a
    // checkpoint erases bucketing and reinstates the per-round Exchange)
    val e0 = half.select(col("src"), col("dst"))
    val e = if (checkpointEdges) e0.checkpointed() else e0
    // the loss step joins the edge list on BOTH keys, so the cluster
    // layout (broadcastDead = false — round 1's dead set is node-scale
    // when k peels aggressively) is the hits edgesByDst device: the half
    // table stored twice, bucketed by src and by dst, each join riding
    // its own bucketing with zero edge-side exchanges (GraphOpsSpec
    // asserts the plans; SCALING.md has the 1M-node A/B)
    val eDst = halfByDst.map(_.select(col("src"), col("dst"))).getOrElse(e)
    // losses toward BOTH endpoints from edges whose other endpoint died
    def loss(dead: DataFrame): DataFrame = {
      val nb = if (broadcastDead) broadcast(dead) else dead
      eDst.join(nb, eDst("dst") === nb("node")).select(eDst("src").as("n"))
        .unionAll(e.join(nb, e("src") === nb("node")).select(e("dst").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("l"))
    }
    def minus(deg: DataFrame, lo: DataFrame): DataFrame =
      deg.join(lo, deg("node") === lo("n"), "left")
        .select(col("node"), (col("d") - coalesce(col("l"), lit(0L))).as("d"))
    val deg0 = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .checkpointed()
    var degAlive = deg0.filter(col("d") >= k)
    // newDead stays EAGERLY checkpointed (see kCoreDelta's note: the
    // lazy form measured 1.05-1.10x worse interleaved)
    var newDead = deg0.filter(col("d") < k).select(col("node")).checkpointed()
    var degHeld = deg0 // the checkpoint `degAlive` filters
    var r = 0
    while (r < rounds && !newDead.isEmpty) {
      val upd = minus(degAlive, loss(newDead)).checkpointed()
      // the round's inputs are superseded once `upd` is materialized;
      // `fin` reads only the last round's `upd` and `newDead`
      Checkpoints.unpersist(degHeld)
      Checkpoints.unpersist(newDead)
      newDead = upd.filter(col("d") < k).select(col("node")).checkpointed()
      degAlive = upd.filter(col("d") >= k)
      degHeld = upd
      r += 1
    }
    val fin =
      if (r == rounds && !newDead.isEmpty)
        // budget exhausted mid-peel: align to degrees WITHIN the final
        // survivor set and drop zero-in-core-edge survivors (absent from
        // an edge-list degree aggregate)
        minus(degAlive, loss(newDead)).filter(col("d") >= 1)
      else degAlive
    fin.select(col("node"), col("d").as("core_deg"))
  }

  /** Link prediction over a SYMMETRIC edge list: score each non-adjacent
    * pair by integer Adamic–Adar mass through BOUNDED-degree common
    * neighbors, keep the global top `topK`.
    *
    * Semantics: for every unordered pair {a, c} with a < c, not an edge,
    * sharing >= 1 common neighbor b with degree(b) <= `degCap`:
    * {{{  aa_micro({a,c}) = Σ_b 1_000_000 div degree(b)  }}}
    * (the Adamic–Adar 1/log(deg) idea in floor-division micro-units —
    * hub neighbors are EXCLUDED rather than down-weighted, the same
    * df-cap stance as the dedup family: a pair "related" only through a
    * node everything touches is noise, and the cap is what bounds the
    * plan). Output ordered by (aa_micro DESC, a, c), a total order since
    * pairs are unique.
    *
    * Scale shape: common-neighbor counting is intrinsically wedge-bound
    * (Σ deg² — ABOVE the triangle bound, because no orientation can save
    * both endpoints of an open wedge), so the cap is load-bearing: the
    * incidence self-join fans out only at nodes with degree <= degCap,
    * bounding wedge volume by degCap · |E|. The candidate aggregate keys
    * on (a, c) node pairs (fixed-width longs), the existing-edge check
    * is a LEFT ANTI join against the edge list, and the global top-k is
    * Spark's TakeOrdered (per-partition heaps, no full sort).
    */
  def commonNeighborLinks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      degCap: Int,
      topK: Int): DataFrame = {
    require(degCap >= 2 && topK >= 1)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .checkpointed()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // incidence rows at capped-degree pivot nodes only: (b, x, d(b))
    val inc = e.join(deg.filter(col("d") <= degCap), "src")
      .select(col("src").as("b"), col("dst").as("x"), col("d"))
    val pairs = inc.select(col("b"), col("x").as("a"), col("d"))
      .join(inc.select(col("b"), col("x").as("c")), "b")
      .filter(col("a") < col("c"))
      .groupBy(col("a"), col("c"))
      .agg(sum(expr("1000000L div d")).as("aa_micro"),
        count(lit(1)).as("common_cnt"))
    pairs
      .join(e.select(col("src").as("a"), col("dst").as("c")),
        Seq("a", "c"), "left_anti")
      .orderBy(col("aa_micro").desc, col("a"), col("c"))
      .limit(topK)
  }

  /** HITS (hubs & authorities, Kleinberg 1999) in integer fixed-point.
    * Per round: raw authority = sum of in-neighbor hub scores, raw hub =
    * sum of out-neighbor RAW authorities, then the hub frame alone is
    * rescaled to max 1_000_000 by floor division through the round's
    * maximum (one normalization per round — the deterministic integer
    * stand-in for the textbook L2 step; the hub rescale bounds next
    * round's raw SUMS to a long: ra <= maxdeg*10^6, rh <= maxdeg²*10^6).
    * The rescale PRODUCT `raw * 10^6` can exceed a long once maxdeg²*10^6
    * passes Long.MaxValue/10^6 (maxdeg > ~3034), so the multiply is
    * widened to DECIMAL(38,0) before the floor division — exact for any
    * realistic degree, and it matches the DuckDB twin, which promotes the
    * same product to HUGEINT. The reported authority is the FINAL
    * round's raw frame rescaled the same way.
    *
    * Scale shape per round: two chained edge joins against node-sized
    * score frames + partial-agg groupBys, ONE lineage cut (the hub
    * frame, which is consumed twice: its own max and the rescale
    * projection — an un-cut double consumption re-ran the whole edge
    * join per normalization, measured 14.4 s vs 6.4 s at sf0.1). The
    * round maximum is a 1-row aggregate crossed back in broadcast (the
    * `text_keywords` global-threshold pattern), and the score side of
    * each edge join carries an explicit broadcast hint — checkpointed
    * frames have no size stats, so without it the optimizer shuffles
    * the EDGE list every half-step (the pageRank `broadcastRanks`
    * lesson; disable via `broadcastScores = false` when nodes outgrow
    * executor memory, pairing with bucketed edges).
    *
    * Cluster path (the [[pageRank]] `checkpointEdges` pattern, doubled
    * because HITS joins the edge list on BOTH keys): store the edge list
    * twice — bucketed by `src` (passed as `edges`) and by `dst` (passed
    * as `edgesByDst`) — and set `checkpointEdges = false` +
    * `broadcastScores = false`. Each half-step then joins its own
    * pre-bucketed scan, so per round only the node-sized score frames
    * shuffle and the edge side has ZERO exchanges (GraphOpsSpec asserts
    * the plan; SCALING.md has the 1M-node / 40M-edge timings).
    * Output: (node, hub_m, auth_m) for every node in the edge list,
    * zeros for nodes a score never reached.
    *
    * PRECONDITION (require-style, not runtime-checked by default):
    * `edgesByDst`, when given, must hold EXACTLY the same edge set as
    * `edges` — it exists only to carry a second physical layout of one
    * logical table. Divergent tables (e.g. both written from a
    * nondeterministic, non-checkpointed frame — localCheckpoint before
    * the double write, as Bench does) make the fixed point silently
    * wrong. `verifyEdgeSets = true` adds a debug count-equality guard
    * (two extra passes over the edge tables; leave off in production).
    */
  /** The shared max-rescale of [[hits]] / [[hitsUntil]] — one broadcast
    * 1-row aggregate; input must be cheap to consume twice (checkpointed
    * or a thin projection of a checkpoint).
    */
  private def rescaledScores(r: DataFrame, keyCol: String, vCol: String)
      : DataFrame = {
    val mx = r.agg(max(col(vCol)).as("mx"))
    r.crossJoin(broadcast(mx))
      .select(col(keyCol).as("node"),
        // widen the multiply: raw * 10^6 overflows a long for
        // maxdeg > ~3034; the quotient itself is always <= 10^6
        expr(s"CAST(CAST($vCol AS DECIMAL(38,0)) * 1000000 div mx AS BIGINT)")
          .as("s"))
  }

  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      broadcastScores: Boolean = true,
      checkpointEdges: Boolean = true,
      edgesByDst: Option[DataFrame] = None,
      verifyEdgeSets: Boolean = false): DataFrame = Checkpoints.scoped {
    require(iterations >= 1)
    if (verifyEdgeSets) edgesByDst.foreach { d =>
      val (ne, nd) = (edges.count(), d.count())
      require(ne == nd,
        s"hits: edges ($ne rows) and edgesByDst ($nd rows) differ — the two " +
          "frames must be the SAME edge set in two physical layouts")
    }
    def hint(df: DataFrame): DataFrame =
      if (broadcastScores) broadcast(df) else df
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (checkpointEdges) e0.checkpointed() else e0
    // the dst half-step's edge side: the same edge SET, ideally stored
    // bucketed by dst (a src-bucketed scan still shuffles on the dst key)
    val eD = edgesByDst
      .map(_.select(col(srcCol).as("src"), col(dstCol).as("dst")))
      .getOrElse(e)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().checkpointed()
    def rescaled(r: DataFrame, keyCol: String, vCol: String): DataFrame =
      rescaledScores(r, keyCol, vCol)
    var hub = nodes.select(col("node"), lit(1000000L).as("s"))
    var auth: DataFrame = null
    var prevRawH: DataFrame = null
    for (i <- 1 to iterations) {
      val rawA0 = e.join(
          hint(hub.select(col("node").as("src"), col("s").as("h"))), "src")
        .groupBy(col("dst")).agg(sum(col("h")).as("ra"))
      // consumed twice only in the final round (hub chain + the reported
      // authority) — cut it just there
      val rawA = if (i == iterations) rawA0.checkpointed() else rawA0
      val rawH = eD.join(
          hint(rawA.select(col("dst"), col("ra").as("a"))), "dst")
        .groupBy(col("src")).agg(sum(col("a")).as("rh"))
        .checkpointed()
      // the previous round's rawH backed the old hub; this round's
      // checkpoint just consumed it — release (the LAST rawH stays: it
      // backs the returned hub scores; r17 fourth review)
      if (prevRawH != null) Checkpoints.unpersist(prevRawH)
      prevRawH = rawH
      hub = rescaled(rawH, "src", "rh")
      if (i == iterations) auth = rescaled(rawA, "dst", "ra")
    }
    // the returned frame reads nodes + the final rawH/rawA checkpoints
    nodes
      .join(hub.select(col("node"), col("s").as("hub_m")), Seq("node"), "left")
      .join(auth.select(col("node"), col("s").as("auth_m")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_m"), lit(0L)).as("hub_m"),
        coalesce(col("auth_m"), lit(0L)).as("auth_m"))
  }

  final case class HitsRun(scores: DataFrame, rounds: Int, converged: Boolean)

  /** Convergence-driven / WARM-START [[hits]] — the fixed-point serving
    * twin that [[pageRankUntil]] is for PageRank: the per-round
    * recurrence is IDENTICAL (same rawA/rawH sums, same DECIMAL-widened
    * max-rescale — a cold run of k rounds is BIT-identical to
    * `hits(iterations = k)`, spec-pinned), but rounds run until the
    * largest per-node move of BOTH rescaled frames is <= `tolMicro`,
    * and `init` seeds the hub frame from a previous run's scores so a
    * maintained-graph refresh re-ranks from the old fixed point instead
    * of from uniform — rounds paid scale with how far the delta moved
    * the fixed point, not with the cold mixing time (SCALING.md prices
    * it; GraphOpsSpec pins tol-validity: one more
    * round from the converged answer moves nothing beyond tol).
    *
    * `init` is a previous [[hits]]/[[hitsUntil]] scores frame
    * (node, hub_m, auth_m): hub warm-seeds from `hub_m` via a left join
    * from the CURRENT source set (delta-born nodes enter at the cold
    * 10^6, stale init rows drop out — the [[pageRankUntil]] rule);
    * `auth_m` serves only as round 1's residual baseline, because auth
    * is re-derived from hub inside every round. Deltas may DELETE edges:
    * a node that lost its last out-/in-edge falls to served-0, and that
    * move counts against `tolMicro` via the exit residual (round 1
    * checks the full previously-served key set — r15 ADVICE), so a warm
    * run cannot declare converged past a drop larger than the tolerance.
    *
    * Same `edgesByDst` cluster posture as [[hits]] (the edge set stored
    * twice, each half-step riding its own bucketing).
    */
  def hitsUntil(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      tolMicro: Long,
      maxRounds: Int = 50,
      init: Option[DataFrame] = None,
      broadcastScores: Boolean = true,
      checkpointEdges: Boolean = true,
      edgesByDst: Option[DataFrame] = None): HitsRun = Checkpoints.scoped {
    require(tolMicro >= 0 && maxRounds >= 1)
    def hint(df: DataFrame): DataFrame =
      if (broadcastScores) broadcast(df) else df
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (checkpointEdges) e0.checkpointed() else e0
    val eD = edgesByDst
      .map(_.select(col(srcCol).as("src"), col(dstCol).as("dst")))
      .getOrElse(e)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().checkpointed()
    var hub = init match {
      case Some(prev) =>
        nodes
          .join(prev.select(col("node"), col("hub_m").as("h0")), Seq("node"), "left")
          .select(col("node"), coalesce(col("h0"), lit(1000000L)).as("s"))
          .checkpointed()
      case None => nodes.select(col("node"), lit(1000000L).as("s"))
    }
    // round 1's hub EXIT baseline: the previously SERVED hub frame (its
    // key set includes nodes the delta removed — which `hub` above, being
    // restricted to the new graph's nodes, cannot see; new nodes are
    // absent, so they can never register a spurious exit). A cold run
    // has none: within one graph the scored key set never shrinks.
    var hubServed: Option[DataFrame] =
      init.map(p => p.select(col("node"), col("hub_m").as("s")).checkpointed())
    // round 1's auth residual baseline; a cold start has none (auth
    // first exists after round 1), so a cold run can never converge in
    // round 1 — which preserves cold-k bit-identity (scores are the
    // round's scores either way)
    var prevAuth: Option[DataFrame] =
      init.map(p => p.select(col("node"), col("auth_m").as("s")).checkpointed())
    var auth: DataFrame = null
    var rounds = 0
    var converged = false
    // max |next - old| over next's keys PLUS exits from the served frame;
    // a key newly entering counts its full value as the move (coalesce vs
    // the cold initial), the pageRankUntil convention, and a key DROPPING
    // OUT of the served frame (a warm refresh where a node lost its last
    // out-/in-edge — init graphs are not restricted to insert-only
    // deltas) counts its old score: its served value falls to 0 via the
    // final coalesce, and without the exit term a warm run could declare
    // converged at a tolerance the dropped node violates (r15 ADVICE).
    // Cold runs are unaffected: between cold rounds the scored key set
    // never shrinks, and oldExit is None in round 1. null max = empty.
    def resid(next: DataFrame, oldEnter: DataFrame,
        oldExit: Option[DataFrame], entry: Long): Long = {
      val r = next.as("n")
        .join(oldEnter.as("o"), col("n.node") === col("o.node"), "left")
        .agg(max(abs(col("n.s") - coalesce(col("o.s"), lit(entry)))))
        .head()
      val enterMove = if (r.isNullAt(0)) 0L else r.getLong(0)
      val exitMove = oldExit.map { o =>
        val x = o.join(next, Seq("node"), "left_anti")
          .agg(max(abs(col("s")))).head()
        if (x.isNullAt(0)) 0L else x.getLong(0)
      }.getOrElse(0L)
      math.max(enterMove, exitMove)
    }
    while (!converged && rounds < maxRounds) {
      val rawA = e.join(
          hint(hub.select(col("node").as("src"), col("s").as("h"))), "src")
        .groupBy(col("dst")).agg(sum(col("h")).as("ra"))
        .checkpointed() // consumed by the hub chain AND the auth rescale
      val rawH = eD.join(
          hint(rawA.select(col("dst"), col("ra").as("a"))), "dst")
        .groupBy(col("src")).agg(sum(col("a")).as("rh"))
        .checkpointed()
      val nextHub = rescaledScores(rawH, "src", "rh").checkpointed()
      val nextAuth = rescaledScores(rawA, "dst", "ra").checkpointed()
      // entry baselines differ per frame: a key missing from the old hub
      // held the cold initial 10^6, but a key missing from the old AUTH
      // frame SERVED 0 (the final coalesce) — a delta-born node swinging
      // to top authority must count its full move, not |10^6 - new|
      // exits can only fire in (warm) round 1: from round 2 on, old and
      // next are consecutive rounds over the SAME graph, whose scored
      // key sets never shrink — skip the anti-join actions there
      val move = math.max(
        resid(nextHub, hub, hubServed, 1000000L),
        prevAuth.map(pa =>
          resid(nextAuth, pa, if (rounds == 0) Some(pa) else None, 0L))
          .getOrElse(Long.MaxValue))
      rounds += 1
      converged = move <= tolMicro
      // every frame superseded by this round is fully consumed (the
      // residual head() and the next frames' checkpoints are eager). The
      // COLD round-1 hub is a computed column over `nodes`, which the
      // strict matcher leaves alone (the final join needs `nodes`).
      Checkpoints.unpersist(rawA)
      Checkpoints.unpersist(rawH)
      Checkpoints.unpersist(hub)
      prevAuth.foreach(Checkpoints.unpersist)
      hub = nextHub
      hubServed.foreach(Checkpoints.unpersist)
      hubServed = None
      auth = nextAuth
      prevAuth = Some(nextAuth)
    }
    // the final join reads nodes/hub/auth alone: the scope releases e
    HitsRun(
      nodes
        .join(hub.select(col("node"), col("s").as("hub_m")), Seq("node"), "left")
        .join(auth.select(col("node"), col("s").as("auth_m")), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("hub_m"), lit(0L)).as("hub_m"),
          coalesce(col("auth_m"), lit(0L)).as("auth_m")),
      rounds, converged)
  }

  /** Deterministic random-walk sampling (the DeepWalk/node2vec corpus
    * step, RNG-free): one fixed-length walk per seed, where step s moves
    * from `cur` to the out-neighbor minimizing the salted 48-bit hash
    * `md5(wid_dst_s)` (tie-break by dst) — pseudo-random but a pure
    * function of (walk, candidate, step), so runs are reproducible
    * across engines and an unrolled SQL twin matches bit-for-bit, the
    * same stance as `shuffleShards`' hkey. Salting with the WALK id
    * (not the current node) decorrelates walks that pass through the
    * same hub. A walk ends early only at a sink (no out-edges — never
    * on a symmetric graph).
    *
    * Scale shape per step: the edge list joins the walk-sized frontier
    * (broadcast by default; `broadcastFrontier = false` shuffles the
    * frontier to the edge partitioning for walk sets beyond executor
    * memory), then a narrow min(struct) argmax per walk — the hash
    * ride-along costs one md5 per candidate edge, and nothing larger
    * than (frontier x avg-degree) ever materializes. Output:
    * (walk_id, step, node), step 0 = the seed.
    */
  def deterministicWalks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      steps: Int,
      broadcastFrontier: Boolean = true,
      checkpointEdges: Boolean = true): DataFrame = {
    require(steps >= 1)
    // checkpointEdges = false is the stored-bucketed-table escape: a
    // localCheckpoint would ERASE bucketing metadata and reinstate the
    // per-step edge Exchange (the pageRank lesson) — skip it when the
    // input is already a cheap-to-rescan src-bucketed table
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (checkpointEdges) e0.checkpointed() else e0
    var frontier = seeds.select(col("node").as("wid"), col("node").as("cur"))
      .checkpointed()
    var walks = frontier.select(col("wid"), lit(0).as("step"), col("cur").as("node"))
    for (s <- 1 to steps) {
      val f = if (broadcastFrontier) broadcast(frontier) else frontier
      val cand = e.join(f, e("src") === f("cur"))
        .select(col("wid"), col("dst"),
          conv(substring(md5(
            concat_ws("_", col("wid"), col("dst"), lit(s))), 1, 12), 16, 10)
            .cast("long").as("h"))
      // frontier is consumed twice (trace union + next step's join) —
      // cut the walk-sized frame per step, the kCoreHalf posture
      frontier = cand.groupBy(col("wid"))
        .agg(min(struct(col("h"), col("dst"))).as("pick"))
        .select(col("wid"), col("pick.dst").as("cur"))
        .checkpointed()
      walks = walks.unionAll(
        frontier.select(col("wid"), lit(s).as("step"), col("cur").as("node")))
    }
    walks
  }

  /** Multi-source BFS over a SYMMETRIC edge list: hop distance from the
    * nearest seed, frontier expansion for `maxHops` synchronous rounds
    * (exact for every node within `maxHops` of a seed; farther nodes are
    * absent — the "within N hops of the watchlist" reachability query).
    *
    * Scale shape per round: the edge list joins ONLY the current
    * frontier (the hop-(i-1) discoveries, never the full visited set),
    * new nodes are a distinct + LEFT ANTI against the visited frame, and
    * the visited frame grows monotonically — the standard iterative BFS
    * on joins. Frontier and visited frames are node-sized; the edge list
    * is never mutated or re-shuffled. `broadcastFrontier = false` is the
    * cluster escape for small-diameter power-law graphs where hop 2
    * already reaches most nodes (a graph-sized broadcast would not fit
    * an executor): the frontier then shuffles to the edge partitioning
    * instead — pair with a src-bucketed stored edge table for the
    * zero-exchange edge side, the [[pageRank]] `broadcastRanks` pattern.
    */
  def bfsHops(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: Seq[Long],
      maxHops: Int,
      broadcastFrontier: Boolean = true,
      checkpointEdges: Boolean = true): DataFrame = {
    require(seeds.nonEmpty && maxHops >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    // checkpointEdges = false: keep a stored bucketed table's scan (a
    // checkpoint erases bucketing and reinstates the per-round Exchange)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (checkpointEdges) e0.checkpointed() else e0
    var visited = seeds.toDF("node").select(col("node"), lit(0).as("hop"))
    var frontier = visited.select(col("node"))
    for (h <- 1 to maxHops) {
      val f = if (broadcastFrontier) broadcast(frontier) else frontier
      val next = e.join(f, e("src") === f("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
      // one cut per round, of the visited set itself: the frontier is
      // its newest hop, so no earlier round's blocks stay reachable
      val grown = visited.unionAll(next.select(col("node"), lit(h).as("hop")))
        .checkpointed()
      Checkpoints.unpersist(visited)
      visited = grown
      frontier = visited.filter(col("hop") === h).select(col("node"))
    }
    visited
  }

  /** Second-order BIASED deterministic walks — the node2vec sampling
    * contract (Grover & Leskovec, KDD 2016) made RNG-free: having
    * stepped t → v, the next hop x is weighted by
    * {{{
    *   w(x) = retPermille  if x == t              (backtrack, 1/p)
    *          inPermille   if {t, x} is an edge   (BFS-ish, distance 1)
    *          outPermille  otherwise              (DFS-ish, 1/q)
    * }}}
    * and the pick minimizes `(h * 1000) div w(x)` where h is the same
    * salted 48-bit `md5(wid_dst_step)` as [[deterministicWalks]] — the
    * integer Efraimidis–Spirakis race: a candidate's effective key
    * shrinks in proportion to its weight, so higher-weight moves win
    * more races, every pick is a pure function of (walk, step,
    * candidate, previous node), and an unrolled SQL twin reproduces the
    * trace bit-for-bit. Step 1 has no previous node and is unbiased
    * (flat weight 1000), the node2vec convention.
    *
    * Scale shape per step: [[deterministicWalks]]' edge-vs-frontier join
    * plus ONE candidate-vs-adjacency join on the PREVIOUS node — the
    * adjacency frame (node → sorted neighbor array, the
    * [[triangleCountsAdj]] posture, built ONCE before the loop) is
    * node-sized, and the distance-1 test is an in-row
    * `array_contains` — so per step nothing beyond (frontier ×
    * avg-degree) ever shuffles and the edge list is never re-keyed.
    * Then the same narrow min(struct) argmax per walk. Output:
    * (wid, step, node); compose [[skipGramPairs]] for the training-pair
    * corpus.
    */
  def node2vecWalks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      steps: Int,
      retPermille: Int,
      inPermille: Int,
      outPermille: Int,
      broadcastFrontier: Boolean = true,
      checkpointEdges: Boolean = true): DataFrame = {
    require(steps >= 1 && retPermille >= 1 && inPermille >= 1 && outPermille >= 1)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (checkpointEdges) e0.checkpointed() else e0
    // node-sized adjacency for the distance-1 test, built once — per-step
    // probes join it on the walk's previous node, never the edge list
    val adj = e.groupBy(col("src").as("prev"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .checkpointed()
    var frontier = seeds
      .select(col("node").as("wid"), col("node").as("prev"), col("node").as("cur"))
      .checkpointed()
    var walks = frontier.select(col("wid"), lit(0).as("step"), col("cur").as("node"))
    for (s <- 1 to steps) {
      val f = if (broadcastFrontier) broadcast(frontier) else frontier
      val cand = e.join(f, e("src") === f("cur"))
        .select(col("wid"), col("prev"), col("cur"), col("dst"),
          conv(substring(md5(
            concat_ws("_", col("wid"), col("dst"), lit(s))), 1, 12), 16, 10)
            .cast("long").as("h"))
      // the step only needs adjacency rows for the frontier's PREV set —
      // semi-restrict the node-sized adj to a frontier-sized slice and
      // broadcast it, so the candidate frame never shuffles for the
      // distance-1 test. Local A/B vs the full-adj join is noise-level
      // (the gate graph's adj broadcasts whole), but the full frame
      // stops broadcasting at cluster node counts while the slice stays
      // frontier-sized at ANY graph size — the same reasoning as the
      // frontier broadcast itself
      lazy val prevAdj = {
        val pset = frontier.select(col("prev")).distinct()
        val slice = adj.join(
          if (broadcastFrontier) broadcast(pset) else pset,
          Seq("prev"), "left_semi")
        if (broadcastFrontier) broadcast(slice) else slice
      }
      val weighted =
        if (s == 1) cand.withColumn("w", lit(1000L)) // no prev yet: unbiased
        else cand.join(prevAdj, Seq("prev"), "left")
          .withColumn("w",
            when(col("dst") === col("prev"), lit(retPermille.toLong))
              .otherwise(when(
                coalesce(array_contains(col("nbrs"), col("dst")), lit(false)),
                lit(inPermille.toLong))
                .otherwise(lit(outPermille.toLong))))
          .drop("nbrs")
      // h < 2^48, so h * 1000 stays far inside a long; the race key is
      // floor(h * 1000 / w) — weight-proportional and engine-portable
      frontier = weighted
        .withColumn("k", expr("(h * 1000L) div w"))
        .groupBy(col("wid"), col("cur"))
        .agg(min(struct(col("k"), col("dst"))).as("pick"))
        .select(col("wid"), col("cur").as("prev"), col("pick.dst").as("cur"))
        .checkpointed()
      walks = walks.unionAll(
        frontier.select(col("wid"), lit(s).as("step"), col("cur").as("node")))
    }
    walks
  }

  /** Walk-corpus generation — the DeepWalk skip-gram step over
    * [[deterministicWalks]] output `(wid, step, node)`: every ordered
    * (center, context) node pair co-occurring within `window` steps of
    * the SAME walk, with its corpus count. Both directions are emitted
    * (context before and after the center, the textbook skip-gram
    * contract), so a walk of length L contributes at most 2·w·L pairs.
    * This is the training-data product the walks exist for: feed
    * (center, context, pair_cnt) to any SGNS-style embedding trainer.
    *
    * Scale shape: ONE self-join of the walk frame keyed on the walk id
    * with a bounded step-band predicate — volume is walks × steps × 2w
    * by construction, INDEPENDENT of the edge count (the edge list never
    * appears; the smoke row in SCALING.md pins this), then a
    * partial-aggregating pair groupBy. The per-wid join fan-out is the
    * walk length, never a degree.
    */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1)
    val a = walks.select(col("wid"), col("step").as("si"), col("node").as("center"))
    val b = walks.select(col("wid"), col("step").as("sj"), col("node").as("context"))
    // USING-column join: both sides descend from the same frame, so a
    // `a("wid") === b("wid")` condition self-join-resolves to a trivially
    // true predicate (a cross join per walk pair) — Seq("wid") keeps the
    // equi-join key unambiguous
    a.join(b, Seq("wid"))
      .filter(col("sj") =!= col("si") &&
        abs(col("sj") - col("si")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("pair_cnt"))
  }

  /** SGNS noise-distribution table over a walk corpus — the
    * unigram^(3/4) sampling distribution of Mikolov et al. 2013
    * ("Distributed Representations of Words and Phrases", §2.2), the
    * third product an embedding trainer needs next to the walks and the
    * [[skipGramPairs]]: per corpus node, a half-open cumulative interval
    * `[lo, hi)` whose width is the node's noise weight, so a uniform
    * draw in `[0, max hi)` selects a negative with probability
    * proportional to `count^0.75`.
    *
    * Integer-exact `x^0.75` (cross-engine reproducible, no libm `pow`):
    * through Q10 log space — `y = (3 * log2Q10(cnt)) div 4`, then back
    * via the exact inverse of the bit-length log's linear interpolation,
    * `w = ((y mod 1024 + 1024) * 2^(y div 1024)) div 1024` — pure
    * bit-length/shift/`div` arithmetic on both engines, the
    * [[TextAnalysis.log2Q10Sql]] stance. Weight is >= 1 for any cnt >= 1,
    * so every corpus node is drawable.
    *
    * Scale shape: one corpus-sized unigram count (partial-agg groupBy),
    * then a vocab-sized cumulative sum in the CHUNKED two-pass form
    * (the `packSequencesChunked` / `lateDataSplit` idiom — this was the
    * repo's last unpartitioned global window): per-chunk totals (a
    * vocab/chunkDiv-row summary) prefix-sum via a broadcast triangular
    * self-join, and the within-chunk remainder windows PARTITION BY
    * chunk — no reducer ever sorts more than `chunkDiv` rows. `chunk =
    * node div chunkDiv` is monotone in node, so the interval layout is
    * BIT-IDENTICAL to the single-window form (`graph_walk_negatives`
    * gate hash unchanged). Size `chunkDiv` so vocab/chunkDiv stays in
    * the low tens of thousands (the triangular summary join is
    * O((vocab/chunkDiv)^2) pairs); past that, nest a second level.
    * Output: (node, w, lo, hi), ordered intervals keyed by node id.
    */
  def sgnsNoiseTable(walks: DataFrame, chunkDiv: Long = 65536L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uni = walks.groupBy(col("node")).agg(count(lit(1)).as("cnt"))
    val w = uni
      .withColumn("y",
        expr(s"(3 * ${TextAnalysis.log2Q10Sql("cnt")}) div 4"))
      .withColumn("w", expr(
        "((y % 1024 + 1024) * shiftleft(CAST(1 AS BIGINT), CAST(y div 1024 AS INT))) div 1024"))
      .withColumn("__chunk", expr(s"node div $chunkDiv"))
    val chunkSums = w.groupBy(col("__chunk")).agg(sum(col("w")).as("__csum"))
    val prevSums = chunkSums
      .join(broadcast(chunkSums.select(col("__chunk").as("__pc"),
          col("__csum").as("__psum"))),
        col("__pc") < col("__chunk"), "left")
      .groupBy(col("__chunk")).agg(sum(col("__psum")).as("__prev"))
    val cum = Window.partitionBy(col("__chunk")).orderBy(col("node"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w.join(broadcast(prevSums), Seq("__chunk"))
      .withColumn("hi", coalesce(col("__prev"), lit(0L)) + sum(col("w")).over(cum))
      .select(col("node"), col("w"), (col("hi") - col("w")).as("lo"), col("hi"))
  }

  /** The SGNS negative-sampling corpus: for every [[skipGramPairs]]
    * (center, context) pair, `negatives` deterministic draws from the
    * [[sgnsNoiseTable]] distribution — the complete training-example
    * product (positive pair + its k negatives) for a skip-gram
    * negative-sampling embedding trainer, RNG-free: draw j for a pair is
    * `md5(center_context_j) mod total`, a pure function of the pair, so
    * runs reproduce bit-for-bit and the DuckDB twin matches by hash.
    * Accidental collisions with the true context are NOT resampled
    * (word2vec's own negative sampler doesn't either).
    *
    * Scale shape: pair volume is walks × steps × 2·window ×
    * `negatives` — independent of |E| (the edge list never appears;
    * SCALING.md smoke-pins flatness at 5× edges). The interval lookup is
    * an EQUI-join, not a range join: the `[0, total)` axis splits into
    * `buckets` fixed-width buckets, each noise interval explodes onto
    * the buckets it overlaps (vocab + buckets rows — intervals are
    * near-uniform after the 3/4-power flattening, so overlap fan-out is
    * ~2), each draw hashes to its bucket, and the residual `lo <= draw
    * < hi` filter runs inside the hash-join row — no broadcast
    * nested-loop, no vocab × draws blowup, the same bucketed-range-join
    * device as the as-of join. Output: (center, context, pair_cnt,
    * neg_rank, neg_node).
    */
  def sgnsNegatives(
      walks: DataFrame,
      window: Int,
      negatives: Int,
      buckets: Int = 1024): DataFrame = {
    require(negatives >= 1 && buckets >= 1)
    val noise = sgnsNoiseTable(walks).checkpointed() // vocab-sized
    val total = noise.agg(max(col("hi"))).head().getLong(0)
    val bw = (total + buckets - 1) / buckets // bucket width, >= 1
    val intervals = noise
      .withColumn("b", explode(expr(s"sequence(lo div $bw, (hi - 1) div $bw)")))
      .select(col("b"), col("node"), col("lo"), col("hi"))
    val draws = skipGramPairs(walks, window)
      .withColumn("neg_rank", explode(expr(s"sequence(1L, ${negatives}L)")))
      .withColumn("draw",
        conv(substring(md5(concat_ws("_",
          col("center"), col("context"), col("neg_rank"))), 1, 12), 16, 10)
          .cast("long") % lit(total))
      .withColumn("b", expr(s"draw div $bw"))
    draws.join(intervals, "b")
      .filter(col("lo") <= col("draw") && col("draw") < col("hi"))
      .select(col("center"), col("context"), col("pair_cnt"),
        col("neg_rank"), col("node").as("neg_node"))
  }
}
