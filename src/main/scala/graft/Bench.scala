package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds.
  *
  * Protocol (steady-state, self-contamination-free):
  *   0. A fixed 3-workload SYNTHETIC host-window canary runs FIRST in
  *      its own fresh session and publishes `window_factor` (see
  *      `canaryRef`): the artifact qualifies its own host window, so
  *      cross-round totals are comparable numerically instead of via
  *      SCALING.md prose. The workloads sample the three channels the
  *      bench is gated on — codegen CPU, the exchange machinery, and
  *      (r14) parquet scan throughput of a written-this-run table, the
  *      served/family phases' channel the first two never priced (the
  *      r13 blind spot). The SAME canary re-runs LAST
  *      (`window_factor_end`, r12 directive 1): a start-only factor
  *      cannot see contention arriving mid-run, which is exactly how the
  *      r12 driver artifact degraded. Both factors + the retime-failure
  *      count + the row-anomaly screen (note 7) fold into a `run_quality`
  *      verdict field ("ok" / "suspect" / "degraded", rule published as
  *      `run_quality_rule`), so a degraded artifact SELF-DECLARES and
  *      `bench_compare.py` refuses to treat it as a baseline.
  *   0b. The co-purchase GRAPH FAMILY is benched the served way (r12
  *      directive 2): the three edge shapes (symmetric / weighted / half)
  *      are derived from lineitem ONCE per run — timed, attributed in the
  *      `family_build` block — and stored as parquet; each family row
  *      then runs in its own fresh session off the stored tables under
  *      the same warm2+1(convergence) protocol as the slow tail. ~12 rows
  *      no longer embed the identical edge build (~15-20 s/run); the gate
  *      forms stay self-contained for oracle isolation, and ISOLATE=1
  *      keeps the one-shot forms.
  *   1. Phase 1 splits by cost, because isolation is only load-bearing
  *      for the heavy tail. The round-9 A/B (same day, same corpus)
  *      measured: (a) a fully SHARED session — even one scrubbed
  *      per-query with blocking `unpersist` of all persistent RDDs,
  *      `clearCache`, and periodic `System.gc()` — still inflates HEAVY
  *      queries 15-65% (nb_langid 2.7->4.5s, knn_ivf 0.7->1.7s;
  *      broadcast/checkpoint block reclamation lags the scrub), matching
  *      rounds 5/7 (shared-session inflation up to 7x); while (b) the
  *      SUB-SECOND queries' shared-vs-isolated deltas are symmetric
  *      ±0.05s noise, indistinguishable from same-protocol run-to-run
  *      jitter. So: slow queries (previous median >= 1s, or never
  *      measured) each get a FRESH session; fast queries run
  *      CONCURRENTLY across 3 session clones of one scrubbed context
  *      (r11 — they are read-only over the same parquet, their wall is
  *      dominated by driver-side planning/scheduling latency that
  *      concurrency overlaps, and the scrub is coordinated through a
  *      ReadWriteLock so a context-global unpersist never hits another
  *      group's in-flight query). `SPARK_GRAFT_BENCH_ISOLATE=1` restores
  *      full per-query isolation (the A/B reference protocol).
  *   2. Timing also splits by cost. Fast queries: prev >= 0.4s get the
  *      MEDIAN of 3 no-warm-up runs (the cold first run is the max and
  *      the median discards it; at sub-second scale GC jitter is
  *      material); sub-0.4s queries get MIN-of-2 (run 1 is the same
  *      discarded cold run, and the retime trigger is unreachable below
  *      0.4s short of a 2x move, which min-of-2 still surfaces). Slow
  *      queries (r10, tightened r11): TWO warm passes on the tiny
  *      sf0.001 sibling corpus (codegen/JIT for ~0.4s instead of a
  *      full-scale throwaway; two because iterative plans tier the JIT
  *      across executions — the r9 A/B measured bpe_merges/k-means/LM
  *      gates +20-45% hot after a single warm), then ONE timed
  *      full-scale run, with an in-phase adaptive CONVERGENCE loop
  *      (keep re-running while the latest run undercuts the previous by
  *      >20%, min of all, cap 4) whenever the first DRIFTS >25% and
  *      >0.3s in EITHER direction from the previous round's median
  *      (r10's regression-only single retry left +17-65% inflations
  *      unconfirmed, and the r11 A/B measured heavy plans still tiering
  *      at run 3: 6.8 -> 1.9 -> 1.3 s) or the query has no history. GC
  *      jitter is proportionally small at >= 1s, and every slow number
  *      still comes from its own fresh session.
  *   3. (subsumed by note 2 — median-of-3 where noise is material.)
  *   4. The 16M-row skew demonstration runs in its OWN SparkSession after
  *      the query groups, reported in a separate `skew_demo` JSON block:
  *      its 32M-row working set raises heap/GC pressure for anything
  *      timed after it in the same JVM. Its pair is timed 2-run-min like
  *      the other multi-second queries.
  *   5. From-index SERVING forms (`served` block): the int8 / IVF+PQ /
  *      BM25 indexes and the src-bucketed edge table are built once
  *      untimed, then the from-index queries (plus the zero-exchange
  *      bucketed pageRank) are timed — the query-priced cost a
  *      production path pays, vs the one-shot forms that re-encode or
  *      rebuild per run.
  *   6. Clean-session RE-TIMING (`retimed` block): FAST-phase queries
  *      whose medians moved >15% (and >0.3s) vs the previous
  *      BENCH_FULL.json are re-timed in ONE fresh shared session (all
  *      flagged queries are sub-second, where shared-vs-isolated deltas
  *      are symmetric noise by the A/B), so group-boundary placement
  *      artifacts are separable from real engine deltas without
  *      re-running anything by hand. Slow-tail queries never retime:
  *      their main number already comes from a fresh session with an
  *      in-phase adaptive second run (note 2) — the retime would repeat
  *      the identical protocol. A flagged query whose CURRENT time
  *      crossed slowCut (a genuine fast->multi-second regression) gets
  *      its own fresh retime session (r11): the shared session inflates
  *      heavy queries 15-65%, which would corrupt the diagnostic
  *      exactly when it matters. Reading the two numbers: retimed BELOW
  *      main means the shared-session main was inflated (contention only
  *      ADDS wall) — the retime is the protocol-correct number and is
  *      what `queries` PUBLISHES (r13; names in `retime_published`, raw
  *      pair kept in `retimed`) — publishing the inflated main instead
  *      fed next round's fast/slow routing an inflated prev and made
  *      borderline ~0.7 s queries flip-flop between phases forever;
  *      retimed ABOVE main is the opposite signature (the retime session
  *      itself hit contention), never substitutes, and is the regression
  *      to chase.
  *   7. Per-row PLAUSIBILITY screen (r13 verdict directive 2): after
  *      publication, any row >3x its previous-round median (and >1s over
  *      it) gets ONE automatic fresh-session protocol-matched re-run —
  *      family rows off the stored famDir tables, served rows off the
  *      re-attached bucketed tables/indexes (Lake.registerBucketed),
  *      everything else its gate form. A re-run landing back below the
  *      trigger resolves the row (min publishes); one that persists is
  *      named in `row_anomalies` and caps run_quality at "suspect".
  *      `SPARK_GRAFT_BENCH_INFLATE=name:3.5` is the self-test hook
  *      (inflates every measurement of the row -> persists; `:once`
  *      inflates only the main -> resolves).
  */
object Bench {
  /** Concurrent session clones the fast phase runs on (protocol note 1). */
  private val fastGroups = 3

  /** (medianSeconds, allRunsSucceeded) over `runs` timed executions. */
  private def timed(runs: Int)(body: => Unit): (Double, Boolean) = {
    val times = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      val ok = try { body; true } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val sorted = times.map(_._1).sorted
    (sorted(sorted.length / 2), times.forall(_._2))
  }

  /** (minSeconds, allRunsSucceeded) over `runs` timed executions — the
    * no-warm-up shape for multi-second queries (protocol note 2): run 1
    * carries the one-time codegen/planning cost, so the min IS the warm
    * steady-state run.
    *
    * Adaptive third run: when run 2 still undercuts run 1 by >20%, the
    * query hasn't reached steady state (iterative plans — bpe_merges,
    * k-means, the LM gates — tier up the JIT across executions; the
    * round-9 A/B measured them +20-45% at a flat 2-run-min) — spend one
    * more run and take the min. Converged queries never pay it.
    */
  private def timedMin(runs: Int, adaptive: Boolean = true)(body: => Unit): (Double, Boolean) = {
    def one(): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { body; true } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    var times = (1 to runs).map(_ => one())
    if (adaptive && runs >= 2 && times.forall(_._2) && times(1)._1 < 0.8 * times(0)._1)
      times = times :+ one()
    (times.map(_._1).min, times.forall(_._2))
  }


  /** Full-materialization evaluator: the noop sink computes EVERY output
    * column of the final plan (incl. the output sort). `count()` is NOT
    * a benchmark evaluator: Catalyst prunes columns the count doesn't
    * need, which deletes every cardinality-preserving operator from the
    * plan — round 9 measured window queries 2-8x under-timed
    * (j3_asof_join 0.27s counted vs 1.09s materialized; the as-of skew
    * probe "ran" an 8M-row hot-key window in 0.2s because the window
    * wasn't in the executed plan at all).
    */
  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Deterministic between-query state scrub for the shared phase-1
    * session (protocol note 1): blocking-unpersist every persistent RDD
    * (localCheckpoint blocks are the dominant cross-query contamination
    * channel), drop the SQL cache, and periodically force a GC so
    * ContextCleaner reclaims dead broadcast blocks.
    */
  private def scrub(spark: SparkSession, forceGc: Boolean): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    if (forceGc) System.gc()
  }

  // Skew demonstration: a deterministic corpus with 99% of events on one
  // user. Direct sessionization funnels the hot key's rows through ONE
  // reducer (serial sort + spill); the chunked form spreads them over 6h
  // time buckets and merges per-session summaries — same result (oracled
  // as a4_sessions_chunked; equality-tested in InvariantSpec), skew-immune
  // plan. The pair exists precisely to show chunked << direct.
  private def skewCorpus(spark: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(n).select(
      timestamp_micros(lit(1704067200000000L) +
        pmod(col("id") * 7919L, lit(30L * 86400000000L))).as("ts"),
      when(pmod(col("id"), lit(100)) < 99, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(5000))).as("user_id"),
      (pmod(xxhash64(col("id") + 1), lit(1000)) / lit(1000.0)).as("value"))
  }
  private def skewPair(spark: SparkSession, n: Long): Seq[(String, () => DataFrame)] = Seq(
    "skew_sessions_direct" -> (() =>
      graft.operators.CoreOps.sessionSummary(
        skewCorpus(spark, n), "user_id", "ts", "4 hours", "value")),
    "skew_sessions_chunked" -> (() =>
      graft.operators.CoreOps.sessionSummaryChunked(
        skewCorpus(spark, n), "user_id", "ts", 14400000000L, 21600000000L, "value")))

  /** Slow-phase queries the r11 drift adjudications flagged as JIT-TIERING
    * (their plans keep speeding up across FULL-SCALE runs — iterative
    * LSH/k-means/LM/pagerank shapes; `dedup_embedding_lsh` measured
    * 6.8 → 1.9 → 1.3 s within ONE fresh session): a single unconfirmed
    * run can record a half-converged number that reads as ±10-25% drift,
    * so for THESE the convergence-loop trigger drops from >25% && >0.3s
    * to >10% && >0.15s (r11 verdict directive). Non-iterative queries
    * keep the wider trigger — at 10% they would chase host jitter.
    */
  private val jitTieringFlagged: Set[String] = Set(
    "dedup_embedding_lsh", "dedup_embedding_pairs", "bpe_merges",
    "sim_topk_ivf_kmeans", "quality_lm_gate", "text_lm_surprisal",
    "nb_langid", "pipeline_keep", "graph_pagerank", "graph_ppr",
    // r12 adjudication: fresh-session runs tier 9-12s -> 1.2-2.5s; its
    // prev median crossed slowCut in r11, so it lands here from r12 on
    "search_hybrid_rrf")

  /** The slow-tail per-query timing protocol (doc note 2), shared by the
    * slow phase and the graph-family phase: two tiny warms when a
    * same-plan warm form exists, ONE timed full-scale run, and the
    * in-phase adaptive convergence loop (re-run while still descending
    * >20%, cap 4) whenever the first run drifts beyond the trigger vs
    * the previous round's median — tighter trigger for the flagged
    * JIT-tiering plans. Falls back to 2-run-min when no warm form
    * exists.
    */
  private def slowTimed(
      name: String,
      prev: Map[String, Double],
      runsCap: Int,
      warm: Option[() => Unit],
      full: () => Unit): (Double, Boolean) = {
    def one(): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { full(); true } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    warm match {
      case None => timedMin(math.min(runsCap, 2))(full())
      case Some(w) =>
        try { w(); w() } catch { case _: Throwable => () }
        val first = one()
        val (relThr, absThr) =
          if (jitTieringFlagged(name)) (0.10, 0.15) else (0.25, 0.3)
        val suspicious = first._2 && (prev.get(name) match {
          case Some(p) => math.abs(first._1 - p) > absThr &&
            math.abs(first._1 - p) > relThr * p
          case None    => true // first measurement: confirm it
        })
        if (!suspicious) first
        else {
          var runsDone = Seq(first)
          while (runsDone.length < 4 && runsDone.forall(_._2) &&
              (runsDone.length < 2 ||
                runsDone.last._1 < 0.8 * runsDone(runsDone.length - 2)._1))
            runsDone = runsDone :+ one()
          (runsDone.map(_._1).min, runsDone.forall(_._2))
        }
    }
  }

  /** Per-query seconds out of a named block (`"queries"`, `"served"`) of
    * a prior BENCH_FULL.json — names are `[a-z0-9_]+`, so a regex scan is
    * a full parser.
    */
  private def prevBlock(path: String, block: String): Map[String, Double] =
    try {
      val txt = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      ("\"" + block + "\":\\{([^}]*)\\}").r.findFirstMatchIn(txt).map { m =>
        """"([a-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(m.group(1))
          .map(p => p.group(1) -> p.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }

  private def prevQuerySeconds(path: String): Map[String, Double] =
    prevBlock(path, "queries")

  /** Synthetic row inflation for the row-plausibility self-test (r13
    * verdict directive 2's "Done" clause): `SPARK_GRAFT_BENCH_INFLATE=
    * "name:factor[:once][,name:factor...]"` multiplies that row's
    * measured seconds at every measurement point — main phase AND the
    * plausibility re-run — so the detector's PERSISTENT arm fires
    * (row_anomalies + run_quality suspect). With the `:once` suffix only
    * the main-phase number inflates and the clean re-run RESOLVES the
    * anomaly (the transient-glitch path). Never set outside the
    * self-test.
    */
  private val inflateSpec: Map[String, (Double, Boolean)] =
    sys.env.get("SPARK_GRAFT_BENCH_INFLATE").map { s =>
      s.split(",").filter(_.nonEmpty).map { e =>
        val parts = e.split(":")
        parts(0) -> (parts(1).toDouble, parts.length > 2 && parts(2) == "once")
      }.toMap
    }.getOrElse(Map.empty)

  private def inflate(name: String, sec: Double, rerun: Boolean = false): Double =
    inflateSpec.get(name) match {
      case Some((f, once)) if !(once && rerun) => sec * f
      case _ => sec
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    // the previous round's numbers — read BEFORE this run overwrites them
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", fullPath)
    val prev = prevQuerySeconds(prevPath)
    val prevServed = prevBlock(prevPath, "served")

    // phase wall-clock accounting on stderr — the harness overhead is
    // 85% of the end-to-end cost, so it must be inspectable per phase
    val phaseT0 = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    def phaseDone(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(
        f"[bench] phase $name%-10s ${(now - phaseT0.getAndSet(now)) / 1e9}%7.1f s")
    }

    // ---- Phase 0: host-window canary, FIRST and in its own fresh
    // session (graft.tools.HostCanary scaladoc: fixed synthetic
    // workloads, pinned references, geometric-mean factor). Load
    // average rides along as corroborating context.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val canaryResults: Seq[(String, Double)] = {
      val s0 = graft.tools.HostCanary.session()
      val out = graft.tools.HostCanary.measure(s0)
      s0.stop()
      System.gc()
      out
    }
    val windowFactor: Double = graft.tools.HostCanary.factor(canaryResults)
    phaseDone("canary")

    // ---- Phase 1: the shipped queries, split by cost (protocol notes
    // 1-2). SPARK_GRAFT_BENCH_ISOLATE=1 restores full per-query
    // isolation (the round-8 A/B reference protocol).
    val isolate = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").contains("1")
    // >= 1s queries isolate + skip the warm-up + time 2-run-min (note 2);
    // the threshold reads the PREVIOUS artifact so the protocol
    // self-tunes. A query with no previous median counts as slow
    // (unknown cost: isolate first, classify next round).
    val slowCut = sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOWCUT", "1.0").toDouble
    val allQueries = SparkEntry.queries.toSeq.sortBy(_._1)
    // build-vs-operator attribution for the graph-family phase
    // (`family_build` artifact block) — empty under ISOLATE=1
    val familyBuilds = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val familyNames = SparkEntry.graphFamilyQueries.keySet
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", {
      val p = java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent
      if (p != null) p.resolve("sf0.001").toString else ""
    })
    val warmOk = warmDir.nonEmpty &&
      new java.io.File(warmDir, "lineitem.parquet").exists()
    // per-run UNIQUE dirs for the stored family tables and the served
    // indexes (r13 ADVICE: a fixed tmpdir path let two concurrent bench
    // invocations clobber each other's tables mid-phase and leaked the
    // tables after every run) — both live until the row-plausibility
    // phase is done re-running off them, then are deleted
    val famDir = java.nio.file.Files
      .createTempDirectory("graft-bench-family").toString
    val idx = java.nio.file.Files
      .createTempDirectory("graft-bench-idx").toString
    // the happy path deletes both after the plausibility phase; an
    // aborted run (OOM, kill, a failure outside the per-query catch)
    // would otherwise leak multi-GB table/index dirs per attempt
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(famDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
    }))
    // plan capture from INSIDE the harness (r13 verdict directive 1: a
    // fresh Explain after an anomalous run cannot rule out an
    // environment-sensitive plan flip — capture what the bench itself
    // would run). SPARK_GRAFT_BENCH_EXPLAIN=1 dumps the formatted plan
    // of every family/served row next to the artifact.
    val explainDir: Option[String] =
      if (!sys.env.get("SPARK_GRAFT_BENCH_EXPLAIN").contains("1")) None
      else Some(java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$fullPath.plans")).toString)
    def capturePlan(name: String, df: => DataFrame): Unit =
      explainDir.foreach { d =>
        try java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case _: Throwable => () }
      }
    val results =
      if (isolate) allQueries.map { case (name, fn) =>
        val spark = GraftSession.local()
        try exec(fn(spark, sfDir)) catch { case _: Throwable => () } // warm-up
        val (sec, ok) = timed(runs)(exec(fn(spark, sfDir)))
        spark.stop()
        System.gc()
        (name, inflate(name, sec), ok)
      }
      else {
        // the co-purchase graph family splits off first: benched the
        // served way (r12 verdict directive 2) — see the family phase
        val (famQs, nonFamily) = allQueries.partition {
          case (name, _) => familyNames(name)
        }
        val (slowQs, fastQs) = nonFamily.partition { case (name, _) =>
          prev.get(name).forall(_ >= slowCut)
        }
        // slow tail: per-query fresh sessions — the round-9 A/B measured
        // heavy queries inflating 15-65% in a scrubbed shared session
        // (broadcast/checkpoint block reclamation lags the scrub), and
        // the slow tail IS the number that matters.
        //
        // r10 cost split (wall directive): instead of the 2-run-min —
        // whose run 1 is a full-scale throwaway paying only for
        // codegen/JIT — each query warms ONCE on the tiny sibling corpus
        // (same plan shape at ~100x less data, ~0.2s) and is then timed
        // ONCE at full scale. The single run self-adjudicates in-phase:
        // landing >25% AND >0.3s above the previous round's median (or
        // having no previous median at all) buys one more full-scale run,
        // min of the two. Halves the slow phase's timed compute; heavy
        // queries no longer appear in the retime phase (their main
        // number IS the clean fresh-session measurement).
        // ---- Phase 1a: the co-purchase graph family, benched the served
        // way (r12 verdict directive 2). Every family row used to re-derive
        // the SAME edge list from lineitem inside its timed run (~12
        // identical builds, 15-20 s/run and growing each round); a
        // production path derives the edge tables once per corpus snapshot
        // and runs every graph operator off the stored tables. So: the
        // three co-purchase shapes are built ONCE into parquet — timed,
        // attributed in the artifact's `family_build` block — and each
        // operator row then runs in its OWN fresh session (the slow-tail
        // isolation contract) reading the stored tables, timed by the
        // same warm2+1(convergence) protocol as the slow phase. The gate
        // forms stay self-contained (Verify prices the build per query
        // for oracle isolation), and ISOLATE=1 keeps the one-shot forms.
        val familyResults =
          if (famQs.isEmpty) Nil
          else {
            val sB = GraftSession.local()
            // the stored tables are written many-file (hash on src —
            // deterministic, no pre-sort): the AQE-coalesced build
            // otherwise lands 1-4 files, and every family row's scan
            // then runs near-single-task (the unsplittable-input
            // problem) — a production stored edge table is many-file by
            // construction, and with N files Spark's minPartitionNum
            // default gives the readers one task per file. The file
            // count is DATA-SIZED (r18, closing r17 verdict #4: the r17
            // `repartition(cpus)` layout made the measured input a
            // function of $SPARK_GRAFT_CPUS, so 8c vs 32c runs benched
            // different tables): stage the build AQE-shaped, then lay
            // out ceil(bytes / maxPartitionBytes) files with a floor of
            // 8 — a pure function of the data, identical at any core
            // count. Cost (both writes) stays attributed in family_build.
            def build(name: String, df: DataFrame, path: String): Unit = {
              val t0 = System.nanoTime()
              val stagePath = new org.apache.hadoop.fs.Path(s"$path.stage")
              val fsB = stagePath.getFileSystem(
                sB.sparkContext.hadoopConfiguration)
              df.write.mode("overwrite").parquet(stagePath.toString)
              val bytes = fsB.getContentSummary(stagePath).getLength
              val maxSplit = org.apache.spark.network.util.JavaUtils
                .byteStringAsBytes(
                  sB.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
              val nFiles = math.max(8L, (bytes + maxSplit - 1) / maxSplit).toInt
              sB.read.parquet(stagePath.toString)
                .repartition(nFiles, org.apache.spark.sql.functions.col("src"))
                .write.mode("overwrite").parquet(path)
              fsB.delete(stagePath, true)
              familyBuilds += name -> (System.nanoTime() - t0) / 1e9
            }
            val fr = SparkEntry.copurchaseFrames(sB, sfDir)
            build("edges", fr.edges, s"$famDir/full/edges")
            build("edges_weighted", fr.weighted, s"$famDir/full/weighted")
            build("half_edges", fr.half, s"$famDir/full/half")
            if (warmOk) { // tiny same-plan tables for the off-clock JIT warms
              val tw = SparkEntry.copurchaseFrames(sB, warmDir)
              tw.edges.write.mode("overwrite").parquet(s"$famDir/warm/edges")
              tw.weighted.write.mode("overwrite").parquet(s"$famDir/warm/weighted")
              tw.half.write.mode("overwrite").parquet(s"$famDir/warm/half")
            }
            sB.stop()
            System.gc()
            val out = famQs.zipWithIndex.map { case ((name, _), i) =>
              val spark = GraftSession.local()
              val fn = SparkEntry.graphFamilyQueries(name)
              def frames(kind: String) = SparkEntry.CopurchaseFrames(
                spark.read.parquet(s"$famDir/$kind/edges"),
                spark.read.parquet(s"$famDir/$kind/weighted"),
                spark.read.parquet(s"$famDir/$kind/half"))
              val warm = if (warmOk) Some(() => exec(fn(frames("warm")))) else None
              val (sec, ok) = slowTimed(name, prev, runs, warm,
                () => exec(fn(frames("full"))))
              capturePlan(name, fn(frames("full")))
              spark.stop()
              if (i % 6 == 5) System.gc()
              (name, inflate(name, sec), ok)
            }
            phaseDone("family")
            out
          }
        // slow tail: TWO tiny warms (iterative plans tier the JIT across
        // executions — the r9 A/B measured +20-45% hot after a single
        // warm), ONE timed full-scale run, drift-triggered convergence
        // loop — see slowTimed (r10 recorded +17-65% single-run
        // inflations on unchanged queries; the r11 A/B measured heavy
        // plans still tiering at run 3: 6.8 -> 1.9 -> 1.3 s).
        val slowResults = slowQs.zipWithIndex.map { case ((name, fn), i) =>
          val spark = GraftSession.local()
          val warm = if (warmOk) Some(() => exec(fn(spark, warmDir))) else None
          val (sec, ok) = slowTimed(name, prev, runs, warm,
            () => exec(fn(spark, sfDir)))
          spark.stop()
          if (i % 6 == 5) System.gc()
          (name, inflate(name, sec), ok)
        }
        phaseDone("slow")
        // fast queries: r11 runs them CONCURRENTLY across 2-3 session
        // clones of one SparkContext (r9 directive: they are read-only
        // over the same parquet, and their shared-vs-isolated deltas
        // measured as symmetric ±0.05s noise — scheduling/planning
        // latency, which concurrency overlaps, dominates their wall).
        // Groups are greedy-balanced by previous cost. The between-query
        // scrub is context-GLOBAL (unpersist-all would kill another
        // group's in-flight localCheckpoint), so scrubs run under the
        // write side of a ReadWriteLock every ~12 completions while each
        // timed query holds the read side.
        val spark = GraftSession.local()
        val groups = Array.fill(fastGroups)(
          scala.collection.mutable.ArrayBuffer.empty[(String, (SparkSession, String) => DataFrame)])
        val groupCost = Array.fill(fastGroups)(0.0)
        fastQs.sortBy { case (n, _) => -prev.getOrElse(n, 0.5) }.foreach { q =>
          val g = groupCost.indices.minBy(groupCost)
          groups(g) += q; groupCost(g) += prev.getOrElse(q._1, 0.5)
        }
        val scrubLock = new java.util.concurrent.locks.ReentrantReadWriteLock()
        val nDone = new java.util.concurrent.atomic.AtomicInteger(0)
        def fastOne(sess: SparkSession, name: String,
            fn: (SparkSession, String) => DataFrame): (String, Double, Boolean) = {
          // sub-0.4s queries: min-of-2, no adaptation — run 1 is the
          // cold codegen run either protocol discards, and at <0.4s the
          // retime trigger (>0.3s AND >15%) is unreachable short of a
          // 2x regression, which min-of-2 still surfaces.
          scrubLock.readLock().lock()
          val (sec, ok) =
            try {
              if (prev.get(name).exists(_ < 0.4))
                timedMin(2, adaptive = false)(exec(fn(sess, sfDir)))
              else timed(math.max(runs, 3))(exec(fn(sess, sfDir)))
            } finally scrubLock.readLock().unlock()
          val d = nDone.incrementAndGet()
          if (d % 12 == 0) {
            scrubLock.writeLock().lock()
            try scrub(spark, forceGc = d % 24 == 0)
            finally scrubLock.writeLock().unlock()
          }
          (name, inflate(name, sec), ok)
        }
        val fastResults = {
          import scala.concurrent.{Await, Future, ExecutionContext}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(fastGroups)
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          val futs = groups.toSeq.map { g =>
            Future {
              val sess = spark.newSession()
              g.toSeq.map { case (n, f) => fastOne(sess, n, f) }
            }
          }
          val out = futs.flatMap(Await.result(_, Duration.Inf))
          pool.shutdown()
          out
        }
        spark.stop()
        System.gc()
        phaseDone("fast")
        (familyResults ++ slowResults ++ fastResults).sortBy(_._1)
      }

    // ---- Phase 1.5: from-index SERVING forms. The one-shot bench
    // queries above re-encode the corpus per run (build-priced); a
    // production search path builds the index ONCE and each query pays
    // only the partition-pruned index read (query-priced). Build untimed,
    // time the served queries — ranking parity with the one-shot forms is
    // spec-proven, so these are bench-only entries (no oracle row). ----
    // the served rows, constructible in ANY session off the on-disk
    // index/table layouts — the main served phase uses the building
    // session (register = false: writeBucketed registered the catalog
    // tables there); a row-plausibility re-run builds a FRESH session and
    // re-attaches the bucketed tables via Lake.registerBucketed (no
    // rewrite), so the re-run times the identical stored-table plan
    def servedDefs(s: SparkSession, register: Boolean)
        : Seq[(String, () => DataFrame)] = {
      import org.apache.spark.sql.functions._
      import graft.functions.{Similarity, TextAnalysis}
      // everything here is LAZY so a single-row plausibility re-run
      // (which picks ONE thunk out of the returned seq) pays only its
      // own row's setup — not an embeddings localCheckpoint plus two
      // catalog registrations it never touches. The main served phase
      // runs all six thunks and forces the lot exactly once, as before.
      lazy val registered: Unit = if (register) {
        graft.sinks.Lake.registerBucketed(s, "graft_bench_edges",
          s"$idx/edges", "src BIGINT, dst BIGINT", Seq("src"), 32)
        graft.sinks.Lake.registerBucketed(s, "graft_bench_edges_dst",
          s"$idx/edges_dst", "src BIGINT, dst BIGINT", Seq("dst"), 32)
      }
      lazy val emb = graft.sources.Tables.embeddings(s, sfDir)
      lazy val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .localCheckpoint()
      lazy val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      lazy val bucketedEdges = { registered; s.table("graft_bench_edges") }
      lazy val bucketedEdgesDst = { registered; s.table("graft_bench_edges_dst") }
      Seq(
        "graph_pagerank_served" -> (() =>
          graft.functions.Graph.pageRank(bucketedEdges, "src", "dst",
            iterations = 5, broadcastRanks = false, checkpointEdges = false)),
        "graph_hits_served" -> (() =>
          graft.functions.Graph.hits(bucketedEdges, "src", "dst",
            iterations = 3, broadcastScores = false, checkpointEdges = false,
            edgesByDst = Some(bucketedEdgesDst))),
        // the nightly walk-corpus regeneration path: walks + skip-gram
        // pairs straight off the stored bucketed edge table — no edge
        // rebuild, no checkpoint materialization (checkpointEdges=false
        // keeps the bucketed scan; the frontier stays broadcast, it is
        // walk-sized)
        "graph_walk_pairs_served" -> (() => {
          val seeds = bucketedEdges.select(col("src").as("node")).distinct()
            .filter(pmod(col("node"), lit(40)) === 0)
          graft.functions.Graph.skipGramPairs(
            graft.functions.Graph.deterministicWalks(bucketedEdges,
              "src", "dst", seeds, steps = 4, checkpointEdges = false),
            window = 2)
        }),
        "sim_topk_int8_served" -> (() =>
          Similarity.int8TopKFromIndex(s, queries, s"$idx/int8", k = 5)),
        "sim_topk_ivfpq_served" -> (() =>
          Similarity.ivfPqTopKFromIndex(s, queries, corpus, s"$idx/ivfpq",
            k = 5, centroidEvery = 25, nprobe = 3, m = 8, dim = 64)),
        "search_bm25_served" -> (() =>
          TextAnalysis.bm25SearchFromIndex(s, s"$idx/bm25",
            Seq("window", "hash", "stream", "dup"), topK = 50)))
    }
    val sparkSrv = GraftSession.local()
    val (servedResults, servedBuilds) = {
      import org.apache.spark.sql.functions._
      import graft.functions.{Similarity, TextAnalysis}
      // build-vs-serve attribution (r11 verdict directive 5): the served
      // phase's wall is dominated by the one-time untimed index/table
      // builds — publish each build's seconds (`served_build` block) so
      // the artifact explains its own wall instead of reading as
      // overhead. A production path pays a build ONCE per corpus
      // snapshot; the per-query medians are what repeats.
      val builds = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      def built[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        builds += name -> (System.nanoTime() - t0) / 1e9
        r
      }
      val emb = graft.sources.Tables.embeddings(sparkSrv, sfDir)
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      built("int8")(Similarity.writeInt8Index(corpus, s"$idx/int8"))
      built("ivfpq")(Similarity.writeIvfPqIndex(corpus, s"$idx/ivfpq",
        centroidEvery = 25, m = 8, dim = 64))
      built("bm25")(TextAnalysis.writeInvertedIndex(
        graft.sources.Tables.documents(sparkSrv, sfDir),
        "text", "doc_id", s"$idx/bm25"))
      // graph serving: the co-purchase edge list written ONCE as a
      // src-bucketed catalog table (the 100 TB layout), then pageRank
      // with broadcastRanks=false + checkpointEdges=false — per round
      // only the node-sized rank frame shuffles to the edge bucketing
      // (zero edge-side exchanges and bit-equality with the direct path,
      // both pinned in GraphOpsSpec). HITS joins edges on BOTH keys, so
      // its serving layout is the same edge set stored TWICE — bucketed
      // by src and by dst (the r12 `edgesByDst` path; same two pins).
      sparkSrv.sql("DROP TABLE IF EXISTS graft_bench_edges")
      sparkSrv.sql("DROP TABLE IF EXISTS graft_bench_edges_dst")
      val copurchase = graft.functions.Graph.copurchaseEdges(
        graft.sources.Tables.lineitem(sparkSrv, sfDir)).localCheckpoint()
      built("edges_src")(graft.sinks.Lake.writeBucketed(
        copurchase, "graft_bench_edges", s"$idx/edges", Seq("src"), numBuckets = 32))
      built("edges_dst")(graft.sinks.Lake.writeBucketed(
        copurchase, "graft_bench_edges_dst", s"$idx/edges_dst", Seq("dst"),
        numBuckets = 32))
      copurchase.unpersist(blocking = true)
      val served = servedDefs(sparkSrv, register = false)
      served.foreach { case (_, fn) =>
        try exec(fn()) catch { case _: Throwable => () } // warm-up
      }
      val rs = served.map { case (name, fn) =>
        val (sec, ok) = timed(runs)(exec(fn()))
        capturePlan(name, fn())
        (name, inflate(name, sec), ok)
      }
      (rs, builds.toSeq)
    }
    sparkSrv.stop()
    System.gc()
    phaseDone("served")

    // ---- Phase 2: the 16M-row skew demo, in a fresh session. The small
    // 2M warm-up pass stays: dropping it was measured +80% on the chunked
    // form (3.6s vs 2.0s) — the 16M run-1 "warm-up" is too expensive to
    // waste on codegen, the 2M pass buys the same compilation for ~2s. ----
    val spark2 = GraftSession.local()
    skewPair(spark2, 2000000L).foreach { case (_, fn) =>
      try exec(fn()) catch { case _: Throwable => () } // warm-up (JIT only)
    }
    // single timed run: the 2M pass already bought codegen/JIT, and the
    // demo's signal is a 3x direct-vs-chunked gap — far outside
    // single-run jitter at this scale (wall directive: was 2-run-min)
    val skewResults = skewPair(spark2, 16000000L).map { case (name, fn) =>
      val (sec, ok) = timedMin(1)(exec(fn()))
      (name, sec, ok)
    }
    spark2.stop()
    System.gc()
    phaseDone("skew")

    // ---- Phase 3: clean-session re-timing of round-over-round deltas.
    // A query's group placement shades its median (group-boundary
    // artifacts measured at ±30% on unchanged code), so any query whose
    // delta vs the previous BENCH_FULL exceeds 15% (and is big enough
    // for the delta to mean anything) is re-timed in one
    // fresh session; both numbers land in the artifact so a reader can
    // separate engine changes from harness placement. ----
    val retimed: Seq[(String, Double)] = {
      val flagged = results.collect {
        case (name, sec, true) if prev.get(name).exists(p =>
          // both a RELATIVE and an ABSOLUTE floor: a 0.2->0.33s move is
          // 65% but 130ms — scheduler/GC noise on this host, never a
          // regression worth a clean-session adjudication (the round-9
          // phase accounting measured jitter-chasing retimes at ~90s/run).
          // FAST-phase queries only (wall directive): slow-tail queries
          // already measured in their own fresh session with an in-phase
          // adaptive second run — a retime would repeat the identical
          // protocol and learn nothing. Family queries never retime for
          // the same reason, AND a retime would run the one-shot form
          // (edge build embedded) — protocol-mismatched against their
          // stored-table main number, which would fake the "retimed
          // above main" contamination signature.
          p < slowCut && !familyNames(name) &&
          math.abs(sec - p) > 0.3 && math.abs(sec - p) / p > 0.15) => name
      }
      if (flagged.isEmpty) Nil
      else {
        // p < slowCut bounds only the PREVIOUS median: a fast-phase query
        // that genuinely regressed to multi-second THIS round would be
        // retimed in a shared session where the A/B measured heavy
        // queries inflating 15-65% — corrupting the "retimed ABOVE main
        // = contamination" diagnostic exactly when a real regression
        // fires. So flagged queries whose CURRENT sec >= slowCut each get
        // their own fresh session; the (typical) sub-second rest share
        // one, where shared-vs-isolated deltas are symmetric noise.
        val currentSec = results.collect { case (n, s, true) => n -> s }.toMap
        val (heavyNow, fastNow) =
          flagged.partition(n => currentSec.get(n).exists(_ >= slowCut))
        val heavyOut = heavyNow.map { name =>
          val s3 = GraftSession.local()
          val fn = SparkEntry.queries(name)
          try exec(fn(s3, sfDir)) catch { case _: Throwable => () } // warm-up
          val (sec, ok) = timedMin(math.min(runs, 2))(exec(fn(s3, sfDir)))
          s3.stop()
          (name, if (ok) inflate(name, sec, rerun = true) else -1.0)
        }
        val fastOut = if (fastNow.isEmpty) Nil else {
          val s3 = GraftSession.local()
          val out = fastNow.map { name =>
            val fn = SparkEntry.queries(name)
            try exec(fn(s3, sfDir)) catch { case _: Throwable => () } // warm-up
            val (sec, ok) = timed(runs)(exec(fn(s3, sfDir)))
            scrub(s3, forceGc = false)
            // a query that FAILS in the retime session must not record a
            // near-instant "fast" median that reads as a placement artifact
            (name, if (ok) inflate(name, sec, rerun = true) else -1.0)
          }
          s3.stop()
          out
        }
        heavyOut ++ fastOut
      }
    }
    phaseDone("retime")

    // ---- Retime PUBLICATION (see protocol note 6) — computed BEFORE the
    // row-plausibility screen so the screen tests the numbers the
    // artifact will actually publish.
    val retimeSec = retimed.filter(_._2 > 0).toMap
    val publishedResults0 = results.map { case (name, sec, ok) =>
      retimeSec.get(name) match {
        case Some(r) if ok && r < sec => (name, r, ok)
        case _ => (name, sec, ok)
      }
    }
    val retimePublished = results.collect {
      case (name, sec, true) if retimeSec.get(name).exists(_ < sec) => name
    }

    // ---- Phase 3b: per-row PLAUSIBILITY (r13 verdict directive 2). The
    // run-quality canaries qualify the WINDOW; they cannot see a single
    // row reading far above its own history inside an "ok" window — the
    // r13 driver artifact carried three stored-table graph rows at 9-19x
    // the committed clean numbers and still self-declared ok. So: any
    // published row above 3x its previous-round median (and >1s over it —
    // sub-second rows are the retime phase's jurisdiction) triggers ONE
    // automatic fresh-session, protocol-matched re-run — family rows
    // re-read the stored famDir tables, served rows re-attach the
    // bucketed tables/indexes via Lake.registerBucketed, everything else
    // runs its gate form. A re-run landing back below the trigger
    // RESOLVES the row (the min publishes — a fresh re-run can only
    // remove inflation); one that persists lands the row in
    // `row_anomalies` and caps run_quality at "suspect": the number is
    // either real or environmental, and a human adjudicates with the
    // plan dumps (SPARK_GRAFT_BENCH_EXPLAIN=1) and the scan canary.
    def rowAnomalous(sec: Double, p: Double): Boolean = sec > 3 * p && sec - p > 1.0
    val mainCand = publishedResults0.collect {
      case (n, s, true) if prev.get(n).exists(p => rowAnomalous(s, p)) => n -> s }
    val servedCand = servedResults.collect {
      case (n, s, true) if prevServed.get(n).exists(p => rowAnomalous(s, p)) => n -> s }
    val servedNameSet = servedResults.map(_._1).toSet
    def rerunRow(name: String): (Double, Boolean) = {
      val s = GraftSession.local()
      try {
        if (servedNameSet(name)) {
          val fn = servedDefs(s, register = true).toMap.apply(name)
          try exec(fn()) catch { case _: Throwable => () } // warm-up
          val (sec, ok) = timedMin(2)(exec(fn()))
          (inflate(name, sec, rerun = true), ok)
        } else if (familyNames(name) && !isolate) {
          val fn = SparkEntry.graphFamilyQueries(name)
          def frames(kind: String) = SparkEntry.CopurchaseFrames(
            s.read.parquet(s"$famDir/$kind/edges"),
            s.read.parquet(s"$famDir/$kind/weighted"),
            s.read.parquet(s"$famDir/$kind/half"))
          if (warmOk) { try exec(fn(frames("warm"))) catch { case _: Throwable => () } }
          val (sec, ok) = timedMin(2)(exec(fn(frames("full"))))
          (inflate(name, sec, rerun = true), ok)
        } else {
          val fn = SparkEntry.queries(name)
          if (warmOk) { try exec(fn(s, warmDir)) catch { case _: Throwable => () } }
          val (sec, ok) = timedMin(2)(exec(fn(s, sfDir)))
          (inflate(name, sec, rerun = true), ok)
        }
      } finally { s.stop(); System.gc() }
    }
    val rowReruns: Map[String, Double] =
      (mainCand ++ servedCand).map { case (name, _) =>
        val (sec, ok) = try rerunRow(name) catch { case _: Throwable => (-1.0, false) }
        name -> (if (ok) sec else -1.0)
      }.toMap
    val rowAnomalies: Seq[String] = (mainCand ++ servedCand).collect {
      case (name, _) if {
        val r = rowReruns.getOrElse(name, -1.0)
        val pOpt = prev.get(name).orElse(prevServed.get(name))
        r <= 0 || pOpt.exists(p => rowAnomalous(r, p))
      } => name
    }
    val publishedResults = publishedResults0.map { case (n, s, ok) =>
      rowReruns.get(n) match {
        case Some(r) if ok && r > 0 && r < s => (n, r, ok)
        case _ => (n, s, ok)
      }
    }
    val servedFinal = servedResults.map { case (n, s, ok) =>
      rowReruns.get(n) match {
        case Some(r) if ok && r > 0 && r < s => (n, r, ok)
        case _ => (n, s, ok)
      }
    }
    if (rowReruns.nonEmpty) {
      System.err.println(s"[bench] row-plausibility re-runs: " +
        rowReruns.map { case (n, r) => f"$n=$r%.2f" }.mkString(", ") +
        (if (rowAnomalies.nonEmpty)
          s"; PERSISTING anomalies: ${rowAnomalies.mkString(", ")}" else ""))
      phaseDone("plausibility")
    }
    // the stored family tables and served indexes are no longer needed
    // once the plausibility re-runs are done (r13 ADVICE: delete per-run
    // dirs instead of leaking fixed tmpdir paths)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(famDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))

    // ---- Phase 4: END-of-run canary (r12 verdict directive 1). The
    // phase-0 canary qualifies only the START of the run: contention
    // arriving mid-run — exactly the r12 degraded-artifact failure mode
    // (load_avg 3.1 at start, walk-family numbers 3x later) — is
    // invisible to a single factor. Re-running the same pinned workloads
    // LAST makes mid-run drift a published number, folded into
    // `run_quality` below.
    val canaryEndResults: Seq[(String, Double)] = {
      val sE = graft.tools.HostCanary.session()
      val out = graft.tools.HostCanary.measure(sE)
      sE.stop()
      System.gc()
      out
    }
    // scored against the END-position pinned references (HostCanary.refEnd):
    // the end canary runs in a JIT-warm JVM and reads ~30-40% below the
    // cold-JVM phase-0 protocol on an unchanged window — position-matched
    // references keep `canary_drift` a statement about the HOST, not the JVM
    val windowFactorEnd: Double = graft.tools.HostCanary.factorEnd(canaryEndResults)
    phaseDone("canary-end")

    // ---- Run-quality verdict: the repo's documented discard rule, made
    // an artifact FIELD so a degraded run self-declares instead of
    // requiring SCALING.md prose (r12 verdict directive 1b). Signals:
    //  - FAILED retimes: a flagged query whose clean-session retime
    //    errored leaves its main number standing UNADJUDICATED.
    //    (Published-number retime undercuts are definitionally ZERO
    //    under retime publication — any retime below its main was
    //    substituted INTO the published map, so nothing published can
    //    still undercut; r13 shipped the field anyway and its rule text
    //    overstated what was measured — r13 ADVICE. The PRE-publication
    //    undercut count survives as `retime_undercuts_raw`, a diagnostic
    //    of how inflamed the shared fast phase was before correction,
    //    deliberately NOT a quality arm: on a drifting host it reads
    //    10-14 from the fast/slow routing flip-flop alone.)
    //  - canary DRIFT: |wf_end - wf_start| / wf_start — the host window
    //    moved while the run was in it; monotone drift alone caps the
    //    verdict at "suspect" until it exceeds the degraded threshold.
    //  - PERSISTING row anomalies (phase 3b): a row >3x its own history
    //    whose automatic fresh-session re-run did not resolve it — the
    //    r13 blind spot (window canaries flat, three rows 9-19x).
    val mainSec = publishedResults.collect { case (n, s, true) => n -> s }.toMap
    val wfRatio = // >1 when the window IMPROVED over the run
      if (windowFactor > 0 && windowFactorEnd > 0) windowFactor / windowFactorEnd
      else 1.0
    // raw = pre-substitution, window-normalized: how many flagged mains
    // the clean retimes undercut before publication corrected them
    val retimeUndercutsRaw = {
      val rawSec = results.collect { case (n, s, true) => n -> s }.toMap
      retimed.count { case (name, r) =>
        val rAdj = r * math.max(1.0, wfRatio) // rescale to the start window
        r > 0 && rawSec.get(name).exists(m => m - rAdj > 0.3 && rAdj < 0.8 * m)
      }
    }
    // a FAILED retime (-1) leaves its flagged main standing uncorrected —
    // that is an unadjudicated number, not a corrected one
    val retimeFailures = retimed.count(_._2 <= 0)
    val canaryDrift =
      if (windowFactor > 0 && windowFactorEnd > 0)
        math.abs(windowFactorEnd - windowFactor) / windowFactor
      else -1.0 // a canary failed: the window cannot be qualified
    // Drift thresholds are CALIBRATED above the instrument's measured
    // noise floor: across the seven r13 full runs, four whose query
    // totals agreed within ±3% (220.7-233.2 s — flat-window runs by the
    // numbers they exist to qualify) still read start/end factor drifts
    // of 15-37%, i.e. the two-position canary pair is noisier than the
    // totals it qualifies. A threshold below that floor marks every run
    // degraded and the field stops discriminating; the r12 failure mode
    // this exists to catch was 1.5-3x mid-run contention (drift >> 0.5).
    val runQuality =
      if (retimeFailures >= 3 || canaryDrift > 0.5) "degraded"
      else if (retimeFailures >= 1 || canaryDrift > 0.2 || canaryDrift < 0 ||
        rowAnomalies.nonEmpty) "suspect"
      else "ok"
    val runQualityRule = "degraded: failed retimes >= 3 (published-number " +
      "retime undercuts are definitionally zero under retime publication; " +
      "retime_undercuts_raw diagnoses pre-publication shared-phase " +
      "inflation), or |wf_end-wf_start|/wf_start > 0.5 (calibrated above " +
      "the pair's measured 15-37% flat-window noise floor; the r12 " +
      "failure class reads 1.5-3x) -> discard and re-run in a recovered " +
      "window; suspect: failed retime >= 1, drift > 0.2, a canary failed, " +
      "or a row_anomalies entry (a row >3x and >1s over its previous " +
      "median whose automatic fresh-session re-run did not resolve it)"
    System.err.println(f"[bench] run_quality=$runQuality " +
      f"(raw_undercuts=$retimeUndercutsRaw " +
      f"failed=$retimeFailures published=${retimePublished.size} " +
      f"row_anomalies=${rowAnomalies.size}, " +
      f"wf_start=$windowFactor%.3f, wf_end=$windowFactorEnd%.3f)")

    // ---- Reporting. The driver captures only the LAST ~2000 chars of
    // stdout and parses one JSON line out of it (sbt appends ~70 chars of
    // its own after us). A full 70+-query map with 9-digit doubles is
    // ~2.5 KB and gets decapitated — rounds 1-3 all show `parsed: null`.
    // So: full detail goes to BENCH_FULL.json on disk; the stdout line is
    // millisecond-rounded, slowest-first, and hard-budgeted to fit the
    // tail window whole.
    def ms3(v: Double): String = java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def entries(rs: Seq[(String, Double, Boolean)]): Seq[String] =
      rs.map { case (k, v, _) => "\"" + k + "\":" + ms3(v) }
    // Errored queries appear ONLY in the `errors` array: their fail-fast
    // wall times are not measurements, so they are excluded from the
    // `queries` map and the `value` total — a consumer reading `queries`
    // alone sees real timings only. The map publishes the
    // retime-corrected numbers (see retime publication above).
    val okResults = publishedResults.filter(_._3)
    val skewQs = entries(skewResults.filter(_._3)).mkString("{", ",", "}")
    val servedQs = entries(servedFinal.filter(_._3)).mkString("{", ",", "}")
    val servedBuildQs = servedBuilds.map { case (k, v) => "\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    val canaryQs = canaryResults.filter(_._2 > 0)
      .map { case (k, v) => "\"" + k + "\":" + ms3(v) }.mkString("{", ",", "}")
    val canaryEndQs = canaryEndResults.filter(_._2 > 0)
      .map { case (k, v) => "\"" + k + "\":" + ms3(v) }.mkString("{", ",", "}")
    val windowQs = s""""canary":$canaryQs,"window_factor":${ms3(windowFactor)},""" +
      s""""canary_end":$canaryEndQs,"window_factor_end":${ms3(windowFactorEnd)},""" +
      s""""canary_drift":${ms3(canaryDrift)},""" +
      s""""retime_undercuts_raw":$retimeUndercutsRaw,""" +
      s""""retime_failures":$retimeFailures,""" +
      s""""retime_published":${retimePublished.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""row_anomalies":${rowAnomalies.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""row_reruns":${rowReruns.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + ms3(v) }.mkString("{", ",", "}")},""" +
      s""""run_quality":"$runQuality","run_quality_rule":"$runQualityRule",""" +
      s""""load_avg":${ms3(loadAvg)}"""
    val familyBuildQs = familyBuilds
      .map { case (k, v) => "\"" + k + "\":" + ms3(v) }.mkString("{", ",", "}")
    val retimedQs = retimed.map { case (k, v) => "\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    val errors = (results ++ servedFinal ++ skewResults)
      .collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = okResults.map(_._2).sum

    // runs_per_query describes the PER-PHASE protocol, not one number
    // (r10 shipped the misleading flat "3"): slow = 2 tiny warms + 1
    // full-scale run (+1 on >25% drift); fast = median-of-3, min-of-2
    // under 0.4s, 2-3 concurrent session clones; served = median-of-3;
    // skew = warm(2M)+1.
    val protocol = "family:stored-edges warm2+1;slow:warm2+1(conv<=4 on drift);fast:med3|min2 x" +
      (if (isolate) "isolated" else s"${fastGroups}grp") +
      ";served:med3;skew:warm+1"
    val fullJson =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec",$windowQs,"queries":${entries(okResults).mkString("{", ",", "}")},"served":$servedQs,"served_build":$servedBuildQs,"family_build":$familyBuildQs,"retimed":$retimedQs,"skew_demo":$skewQs,"runs_per_query":"$protocol","errors":$errors,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // Slowest-first so whatever fits is the informative part; budget keeps
    // the whole line inside the driver's tail capture. The fixed skeleton
    // itself can outgrow the budget if errors/skew entries multiply, so
    // degrade in steps (drop errors detail, then the skew block) and the
    // final fallback is a minimal always-valid JSON line — never truncate
    // mid-string, a decapitated line is exactly the bug this guards.
    val budgetTotal = 1750
    val slowestFirst = entries(okResults.sortBy(-_._2))
    def mk(qs: Seq[String], skew: String, errs: String): String =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","window_factor":${ms3(windowFactor)},"window_factor_end":${ms3(windowFactorEnd)},"run_quality":"$runQuality","canary":$canaryQs,"canary_end":$canaryEndQs,"queries":${qs.mkString("{", ",", "}")},"served":$servedQs,"served_build":$servedBuildQs,"family_build":$familyBuildQs,"skew_demo":$skew,"runs_per_query":"$protocol","errors":$errs,"n_queries":${okResults.size},"n_errors":${results.size - okResults.size},"full":"$fullPath","sf":"$sfDir"}"""
    val line = Seq((skewQs, errors), (skewQs, "[]"), ("{}", "[]")).iterator
      .map { case (sk, er) =>
        val room = budgetTotal - mk(Nil, sk, er).length
        if (room < 0) None
        else {
          val kept = scala.collection.mutable.ArrayBuffer.empty[String]
          var used = 0
          slowestFirst.foreach { e =>
            if (used + e.length + 1 <= room) { kept += e; used += e.length + 1 }
          }
          Some(mk(kept.toSeq, sk, er))
        }
      }
      .collectFirst { case Some(l) => l }
      .getOrElse(s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":{},"sf":"$sfDir"}""")
    println(line)
  }
}
