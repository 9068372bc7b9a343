package graft

/** Physical-plan regression guards: the scale-critical plan properties the
  * engine relies on (scan pushdown, pruned read schemas, broadcast joins,
  * top-k without global sort) must survive future refactors.
  */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("driver contract: entry() returns rows on sf0.001 smoke corpus") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("driver contract: every query has matching column names with its oracle") {
    // the driver sorts columns by name before hashing; a query without an
    // oracle gets only a rows-check — make the set explicit so a typo in
    // either map is caught here, not in the round gate
    // queries that DELIBERATELY ship without a DuckDB twin (sketch
    // internals are engine-specific); each must carry its own accuracy
    // contract in a spec (ApproxSpec) and accepts the driver's rows-check
    val rowsOnly = Set("percentiles_by_type_approx", "daily_active_users_approx",
      "value_deciles_approx", "weekly_active_users_sketch", "top_terms_sketch")
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
    assert((q -- o -- rowsOnly).isEmpty, s"queries missing oracles: ${q -- o -- rowsOnly}")
    assert(rowsOnly.subsetOf(q -- o), "rows-only set out of date")
  }

  test("tpch_q1: shipdate filter reaches the parquet scan, schema pruned") {
    val p = plan("tpch_q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(!p.contains("l_orderkey"), s"unused columns not pruned:\n$p")
  }

  test("tpch_q3: dimension joins broadcast, top-k avoids global sort") {
    val p = plan("tpch_q3_top_orders")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("x1 split: branch predicate is pushed to the scan") {
    val p = plan("x1_split_main")
    assert(p.contains("EqualTo(event_type,purchase)"), s"predicate not pushed:\n$p")
  }

  test("sim_topk_brute: query side broadcast, no corpus-wide shuffle before local prune") {
    val p = plan("sim_topk_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries must broadcast:\n$p")
  }

  test("aggregations use map-side partial aggregation") {
    val p = plan("a2_keyed_running_total")
    assert("partial_(sum|count)".r.findFirstIn(p).isDefined,
      s"expected partial aggregation:\n$p")
  }

  test("tpch_q4: EXISTS plans as a semi join, never a full join + distinct") {
    val p = plan("tpch_q4_priority_count")
    assert(p.contains("LeftSemi"), s"expected semi join:\n$p")
  }

  test("tpch_q22: NOT EXISTS plans as an anti join; threshold broadcasts") {
    val p = plan("tpch_q22_idle_rich")
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"scalar threshold must broadcast:\n$p")
  }

  test("tpch_q21: the EXISTS/NOT-EXISTS pair is re-planned as keyed aggregates") {
    // the classic form sort-merge-joins the fact table against itself
    // twice; the shipped rewrite is two keyed shuffles + aggregates —
    // no semi/anti self-join of lineitem may appear in the plan
    val p = plan("tpch_q21_waiting_supp")
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
      s"q21 must use the aggregate rewrite, not self semi/anti joins:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined,
      s"expected partial aggregation in the rewrite:\n$p")
  }

  test("tpch_q21: the aggregate rewrite returns the textbook EXISTS/NOT-EXISTS answer") {
    // the oracle's textbook formulation, run by Spark over the same
    // tables: the rewrite must not change the answer
    graft.sources.Catalog.registerAll(spark, d)
    val want = spark.sql(SparkEntry.oracleSql("tpch_q21_waiting_supp"))
    val got = SparkEntry.queries("tpch_q21_waiting_supp")(spark, d)
      .select(want.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
    assert(want.count() > 0, "sf0.001 has no waiting supplier")
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("tpch_q2/q20: the correlated min/total is a part-partitioned window") {
    // inspect the operator, not the plan string — a string match on the
    // partition spec goes vacuously green when the printed form drifts,
    // and physical-plan collect misses operators inside the AQE wrapper
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("tpch_q2_min_cost_supp", "tpch_q20_excess_supply")) {
      val windows = SparkEntry.queries(q)(spark, d)
        .queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$q: expected a window operator")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$q: window must be partitioned by part, never global: $w")
      }
    }
  }

  test("tpch_q11: the global-total threshold broadcasts as a 1-row side") {
    val p = plan("tpch_q11_important_supply")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"scalar threshold must broadcast:\n$p")
  }

  test("tpch_q19: part dimension broadcasts and the brand filter is pushed") {
    val p = plan("tpch_q19_brand_bands")
    assert(p.contains("BroadcastHashJoin"), s"part side must broadcast:\n$p")
    assert(p.contains("In(p_brand"), s"brand filter not pushed to part scan:\n$p")
  }

  test("stratified_sample: the hash filter is a narrow scan, no shuffle") {
    val p = plan("stratified_sample")
    assert(!p.contains("Exchange") || p.contains("Exchange rangepartitioning"),
      s"sampling must not shuffle (orderBy range exchange excepted):\n$p")
  }

  test("text_keywords: term df join uses a real join strategy (no hint pin)") {
    // The df table is vocabulary-sized: deliberately NOT hint-broadcast
    // (unbounded vocab at web scale would OOM a pinned broadcast). AQE
    // broadcasts when it fits, shuffles when it doesn't — either is valid.
    val p = plan("text_keywords")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"df join must be hash/merge:\n$p")
  }

  test("tpch_q9: both dimension sides broadcast, name filter pushed") {
    val p = plan("tpch_q9_profit")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(p.contains("StringContains") || p.contains("widget"),
      s"part name filter not pushed:\n$p")
  }

  test("funnel: forward as-of is one partitioned window, no join at all") {
    // the naive formulation is a per-user range join (quadratic in the
    // hottest user); the shipped plan must contain NO join operator
    val p = plan("funnel_click_purchase")
    assert(!p.contains("Join"), s"funnel must not plan a join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected window operator:\n$p")
  }

  test("no query plans an unbounded cartesian product") {
    // cross joins are only legitimate against a provably tiny side (a
    // 1-row global aggregate, a broadcast centroid/boundary table);
    // anything else is the O(n^2) scale-killer. The allowlist names the
    // audited exceptions.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.plans.Cross
    val allowed = Set(
      "text_keywords", // crossJoin(broadcast(count(*))) — 1 row by construction
      // IVF assignment deliberately scores corpus x centroids: the
      // centroid side is bounded (corpus/centroidEvery rows) and
      // broadcast; the fan-out IS the documented index-build cost
      "sim_topk_ivf", "sim_topk_ivf_kmeans",
      // the full-corpus kNN sweep rides the same IVF core: probes x
      // centroids and corpus x centroids, centroid side bounded+broadcast
      "knn_label_agreement_ivf",
      // mutual-kNN construction rides the identical full-corpus IVF core
      // (label_propagation / graph_communities do too, but their
      // localCheckpointed edge lists truncate the lineage before this
      // guard sees the IVF join)
      "mutual_knn_pairs",
      // density scoring aggregates the same full-corpus IVF core
      "knn_density",
      // SemDeDup's cell assignment is the same bounded corpus x centroids
      // broadcast score; the within-cell pair join is conditioned on cid
      "semdedup_keep",
      // D4 diversity sampling rides the identical bounded corpus x
      // centroids broadcast assignment; everything after it is cell-keyed
      "diversity_sample",
      // semantic packing rides the same bounded corpus x centroids
      // broadcast assignment; the pack itself is a cell-keyed window
      "pack_semantic",
      // HITS rescales each half-step through a 1-row max aggregate
      // crossed back in (broadcast) — the text_keywords global-threshold
      // pattern, 1 row by construction
      "graph_hits",
      // ADC's distance table is queries x codebook (m x corpus/centroidEvery
      // rows, broadcast) — bounded by construction; the corpus-side scan
      // then equi-joins it on (j, code)
      "sim_topk_pq",
      // the IVF+PQ composite adds the probe scoring (queries x centroids,
      // both tiny) on top of the same bounded distance table
      "sim_topk_ivfpq",
      // NB scoring deliberately fans each (doc, bucket) row out once per
      // class: the class table is bounded by the label DOMAIN (a handful
      // of rows) and broadcast; the fan-out is the classifier's documented
      // scoring cost, linear in the corpus
      "nb_langid",
      // the staleness monitor runs the SAME bounded corpus x centroids
      // broadcast assignment twice (frozen + fresh arms) plus the brute
      // truth's queries x corpus score (query side a bounded broadcast
      // sample) and 1-row report crossjoins
      "index_staleness_report"
    )
    for ((name, fn) <- SparkEntry.queries if !allowed.contains(name)) {
      val crosses = fn(spark, d).queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == Cross || j.condition.isEmpty =>
          // a conditionless join is fine iff one side is provably <= 1
          // row: a grouping-free global aggregate, or any plan whose
          // Catalyst maxRows bound is 1 (e.g. the literal
          // range(1).select(lit...) stats frame bm25SearchFromIndex
          // crosses in — index_delete_bm25)
          val oneRow = Seq(j.left, j.right).exists {
            case a: Aggregate => a.groupingExpressions.isEmpty
            case p => p.maxRows.contains(1L)
          }
          if (oneRow) None else Some(j)
      }.flatten
      assert(crosses.isEmpty,
        s"$name plans a cartesian product over non-1-row sides:\n${crosses.mkString("\n")}")
    }
  }

  test("graph_triangles: adjacency-intersect shape — no wedge-closing join") {
    // the r11 plan: two edge-vs-adjacency attach joins + an in-row
    // array_intersect explode. The r10 wedge-join plan carried a THIRD
    // join (the closing (a,c) join over wedge-volume rows) — the
    // scale-killer, measured at 73-92% of wall. Guard both
    // properties so a refactor can't silently reintroduce it.
    val p = plan("graph_triangles")
    assert(p.contains("array_intersect"), s"intersection not in-row:\n$p")
    val joins = "Join".r.findAllIn(p).length
    assert(joins <= 2, s"wedge-closing join crept back (joins=$joins):\n$p")
  }

  test("no query plans a single-partition window (WindowExec scale-killer)") {
    // an unpartitioned Window.orderBy moves the whole input through one
    // task; every windowed operator must partition (w2's prefix-max is the
    // chunked two-pass form precisely to keep this set empty)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for ((name, fn) <- SparkEntry.queries) {
      val bad = fn(spark, d).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name has an unpartitioned window:\n${bad.mkString("\n")}")
    }
  }
}
