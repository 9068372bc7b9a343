package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Checkpoints
import graft.tools.HostCanary

/** Benchmark main: times every [[SparkEntry.queries]] row against
  * `SPARK_GRAFT_SF_DIR`, plus the from-index serving rows and the skew
  * pair, writes the full artifact to `SPARK_GRAFT_BENCH_FULL` (default
  * `BENCH_FULL.json`, formatted plans beside it in `<artifact>.plans/`)
  * and prints ONE budgeted JSON line on stdout.
  *
  * Every row of every block goes through one protocol, [[timeRow]]: a
  * fresh session, the row's warm form twice off the clock, then
  * [[timedRuns]] timed noop-sink runs. A block publishes the min; the
  * `runs` block lists every timed run. A fresh session per row because
  * a shared one inflates heavy rows 15-65% even when scrubbed between
  * rows (broadcast and checkpoint block reclamation lags the scrub); two
  * warms because iterative plans keep tiering the JIT across executions
  * (+20-45% after a single warm). Warm forms: a gate row runs itself on
  * the sf0.001 sibling corpus when it exists ([[warmSibling]]); a
  * graph-family row runs off edge tables stored once per run (their
  * build attributed in `family_build`) and warms on the sibling's
  * tables; a skew row warms on a 2M-row corpus; a served row has no
  * warm form. A row and each of its runs are checkpoint scopes; a row
  * that ends holding a persisted RDD is an error (`layers.rdds_held`).
  *
  * Nothing is read from a previous artifact: rows are timed and judged
  * only by evidence from this run (see [[runQuality]]). Judging rows
  * across artifacts is `scripts/bench_compare.py`'s job.
  */
object Bench {

  /** Timed runs per row. */
  val timedRuns = 3

  /** The stdout line's length cap: the line's reader keeps only the last
    * ~2000 chars of stdout, and sbt appends ~70 chars of its own after us.
    */
  val stdoutBudget = 1750

  /** Full-materialization evaluator: the noop sink computes EVERY output
    * column of the final plan (incl. the output sort). `count()` is NOT
    * a benchmark evaluator: Catalyst prunes columns the count doesn't
    * need, which deletes every cardinality-preserving operator from the
    * plan — round 9 measured window queries 2-8x under-timed
    * (j3_asof_join 0.27s counted vs 1.09s materialized; the as-of skew
    * probe "ran" an 8M-row hot-key window in 0.2s because the window
    * wasn't in the executed plan at all).
    */
  def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One timed row: every run's seconds, whether all of them succeeded,
    * the formatted plan of its timed form ("" when none was built) and
    * the persisted RDDs its session still held after it.
    */
  final case class Row(name: String, runs: Seq[Double], ok: Boolean, plan: String = "",
      rddsHeld: Int = 0) {
    def sec: Double = runs.min
    /** The row after its session was found holding `n` persisted RDDs. */
    def held(n: Int): Row = copy(rddsHeld = n, ok = ok && n == 0)
  }

  /** The protocol's clock: `warm` twice off the clock (a failing warm is
    * ignored; the timed runs report the failure), then [[timedRuns]]
    * timed `run`s, each a checkpoint scope. The row fails when any timed
    * run throws.
    */
  def timeRuns(name: String, warm: Option[() => Unit], run: () => Unit): Row = {
    warm.foreach(w => try { Checkpoints.scoped(w()); Checkpoints.scoped(w()) }
      catch { case _: Throwable => () })
    val times = (1 to timedRuns).map { _ =>
      val t0 = System.nanoTime()
      val ok = try { Checkpoints.scoped(run()); true } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    Row(name, times.map(_._1), times.forall(_._2))
  }

  /** One row under the protocol, in a fresh [[GraftSession.local]].
    * `warm` and `run` are called once in that session and return the
    * row's forms, so per-session setup (a catalog registration, a
    * checkpointed probe set) stays off the clock; each timed run builds
    * its frame anew, so planning is on it. The last timed frame's plan
    * is captured before the session stops.
    */
  def timeRow(name: String)(
      warm: SparkSession => Option[() => DataFrame],
      run: SparkSession => () => DataFrame): Row = {
    val s = GraftSession.local()
    try {
      val row = Checkpoints.scoped {
        val (warmForm, runForm) = (warm(s), run(s))
        var last: Option[DataFrame] = None
        val row = timeRuns(name, warmForm.map(w => () => exec(w())),
          () => { val df = runForm(); last = Some(df); exec(df) })
        val plan = last.map { df =>
          try df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          catch { case _: Throwable => "" }
        }
        row.copy(plan = plan.getOrElse(""))
      }
      row.held(s.sparkContext.getPersistentRDDs.size)
    } catch { case _: Throwable => Row(name, Nil, ok = false) }
    finally { s.stop(); System.gc() }
  }

  /** The sf0.001 sibling of a corpus directory, when it exists: the
    * off-clock warm corpus of the gate and family rows (same plan shape
    * at ~100x less data).
    */
  def warmSibling(sfDir: String): Option[String] =
    Option(java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent)
      .map(_.resolve("sf0.001").toString)
      .filter(d => new java.io.File(d, "lineitem.parquet").exists())

  /** The within-run row screen: the second-fastest timed run more than
    * 3x the fastest and more than 1 s above it, so the published min is
    * not confirmed by any other run of the row.
    */
  def anomalous(runs: Seq[Double]): Boolean = runs.sorted match {
    case a +: b +: _ => b > 3 * a && b - a > 1.0
    case _ => false
  }

  val runQualityRule: String = "degraded: canary_drift > 0.5 -> discard and " +
    "re-run in a recovered window; suspect: canary_drift > 0.2, a failed " +
    "canary workload, or a row_anomalies entry (a row whose second-fastest " +
    "timed run is > 3x and > 1 s above its fastest); canary_drift = |geometric " +
    "mean of canary_end / canary_warm - 1|"

  /** The run's self-declared verdict, from evidence taken in the same
    * run: the drift between the warm start and the end canary readings
    * (both in a warm JVM), canary failures, and [[anomalous]] rows.
    */
  def runQuality(drift: Double, canaryFailed: Boolean, anomalies: Seq[String]): String =
    if (drift > 0.5) "degraded"
    else if (drift > 0.2 || canaryFailed || anomalies.nonEmpty) "suspect"
    else "ok"

  private def num(v: Double): String =
    java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def secs(kvs: Seq[(String, Double)]): String =
    obj(kvs.map { case (k, v) => k -> num(v) })
  private def strs(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The stdout line from the first of `forms` that fits [[stdoutBudget]]
    * with its `queries` map (each form takes the map's JSON) holding as
    * many rows as fit, slowest first; the last form with an empty map
    * when none fits.
    */
  def budgeted(rows: Seq[(String, Double)], forms: Seq[String => String]): String = {
    val entries = rows.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + num(v) }
    forms.iterator.map { form =>
      val room = stdoutBudget - form("{}").length
      val fit = entries.scanLeft(0)(_ + _.length + 1).tail.takeWhile(_ <= room).size
      if (room < 0) None else Some(form(entries.take(fit).mkString("{", ",", "}")))
    }.collectFirst { case Some(l) => l }.getOrElse(forms.last("{}"))
  }

  /** Everything one run measured; the verdicts and both JSON forms are
    * derived from it.
    */
  final case class Artifact(
      sf: String,
      cores: Int,
      full: String,
      queries: Seq[Row],
      served: Seq[Row],
      skew: Seq[Row],
      servedBuild: Seq[(String, Double)],
      familyBuild: Seq[(String, Double)],
      canary: Seq[(String, Double)],
      canaryWarm: Seq[(String, Double)],
      canaryEnd: Seq[(String, Double)],
      loadAvg: Double) {
    private val protocol = s"fresh session; warm2 (sf0.001|skew 2M|served none) + min of $timedRuns"
    private def ok(rs: Seq[Row]) = rs.filter(_.ok)
    private def published(rs: Seq[Row]) = secs(ok(rs).map(r => r.name -> r.sec))
    private def canaryJson(c: Seq[(String, Double)]) = secs(c.filter(_._2 > 0))

    def windowFactor: Double = HostCanary.factor(canary)
    def drift: Double = HostCanary.drift(canaryWarm, canaryEnd)
    def anomalies: Seq[String] = ok(queries ++ served ++ skew).filter(r => anomalous(r.runs)).map(_.name)
    def quality: String = runQuality(drift,
      (canary ++ canaryWarm ++ canaryEnd).exists(_._2 <= 0), anomalies)
    /** Errored rows' fail-fast walls are not measurements: they are named
      * only in `errors`, never in a seconds block or the total. */
    def total: Double = ok(queries).map(_.sec).sum
    def errors: Seq[String] = (queries ++ served ++ skew).filterNot(_.ok).map(_.name)

    def fullJson: String = {
      val runs = obj(ok(queries ++ served ++ skew).map(r => r.name -> r.runs.map(num).mkString("[", ",", "]")))
      val layers = obj((queries ++ served ++ skew).map(r => r.name -> s"""{"rdds_held":${r.rddsHeld}}"""))
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
        s""""canary":${canaryJson(canary)},"window_factor":${num(windowFactor)},""" +
        s""""canary_warm":${canaryJson(canaryWarm)},"canary_end":${canaryJson(canaryEnd)},""" +
        s""""canary_drift":${num(drift)},"row_anomalies":${strs(anomalies)},""" +
        s""""run_quality":"$quality","run_quality_rule":"$runQualityRule",""" +
        s""""load_avg":${num(loadAvg)},"queries":${published(queries)},""" +
        s""""served":${published(served)},"served_build":${secs(servedBuild)},""" +
        s""""family_build":${secs(familyBuild)},"skew_demo":${published(skew)},""" +
        s""""runs":$runs,"layers":$layers,"runs_per_query":"$protocol",""" +
        s""""errors":${strs(errors)},"sf":"$sf","cores":$cores}"""
    }

    /** Slowest rows first, so whatever fits is the informative part. The
      * fixed skeleton itself can outgrow the budget if errors multiply, so
      * it degrades in steps (drop the errors detail, then the skew block)
      * down to a minimal line: a line cut mid-string would not parse.
      */
    def stdoutLine: String = {
      def form(skew: String, errs: String)(qs: String) =
        s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
          s""""window_factor":${num(windowFactor)},"canary_drift":${num(drift)},""" +
          s""""run_quality":"$quality","canary":${canaryJson(canary)},""" +
          s""""canary_end":${canaryJson(canaryEnd)},"queries":$qs,""" +
          s""""served":${published(served)},"served_build":${secs(servedBuild)},""" +
          s""""family_build":${secs(familyBuild)},"skew_demo":$skew,""" +
          s""""runs_per_query":"$protocol","errors":$errs,""" +
          s""""n_queries":${ok(queries).size},"n_errors":${queries.size - ok(queries).size},""" +
          s""""full":"$full","sf":"$sf","cores":$cores}"""
      def minimal(qs: String) =
        s"""{"metric":"total","value":${num(total)},"unit":"sec","run_quality":"$quality","queries":$qs,"sf":"$sf","cores":$cores}"""
      budgeted(ok(queries).map(r => r.name -> r.sec), Seq(
        form(published(skew), strs(errors)), form(published(skew), "[]"),
        form("{}", "[]"), minimal))
    }
  }

  /** Skew demonstration: a deterministic corpus with 99% of events on one
    * user. Direct sessionization funnels the hot key's rows through ONE
    * reducer (serial sort + spill); the chunked form spreads them over 6h
    * time buckets and merges per-session summaries — same result (oracled
    * as a4_sessions_chunked; equality-tested in InvariantSpec), skew-immune
    * plan. The pair exists precisely to show chunked << direct.
    */
  private def skewCorpus(spark: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(n).select(
      timestamp_micros(lit(1704067200000000L) +
        pmod(col("id") * 7919L, lit(30L * 86400000000L))).as("ts"),
      when(pmod(col("id"), lit(100)) < 99, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(5000))).as("user_id"),
      (pmod(xxhash64(col("id") + 1), lit(1000)) / lit(1000.0)).as("value"))
  }
  private val skewRows: Seq[(String, (SparkSession, Long) => DataFrame)] = Seq(
    "skew_sessions_direct" -> ((s, n) =>
      graft.operators.CoreOps.sessionSummary(
        skewCorpus(s, n), "user_id", "ts", "4 hours", "value")),
    "skew_sessions_chunked" -> ((s, n) =>
      graft.operators.CoreOps.sessionSummaryChunked(
        skewCorpus(s, n), "user_id", "ts", 14400000000L, 21600000000L, "value")))

  /** The co-purchase graph family's edge tables, built ONCE per run into
    * `famDir/full` (and `famDir/warm` off the warm corpus): a production
    * path derives them once per corpus snapshot and runs every graph
    * operator off the stored tables, where the gate forms re-derive the
    * edge list per row for oracle isolation. Returns each full-scale
    * build's seconds (the `family_build` block).
    *
    * The full tables are written many-file (hash on src, no pre-sort):
    * the AQE-coalesced build otherwise lands 1-4 files, and every family
    * row's scan then runs near-single-task. The file count is
    * DATA-SIZED, ceil(bytes / maxPartitionBytes) with a floor of 8, so
    * the measured input is identical at any core count.
    */
  private def buildFamily(sfDir: String, warmDir: Option[String], famDir: String)
      : Seq[(String, Double)] = {
    val s = GraftSession.local()
    try {
      def build(name: String, df: DataFrame, path: String): (String, Double) = {
        val t0 = System.nanoTime()
        val stagePath = new org.apache.hadoop.fs.Path(s"$path.stage")
        val fs = stagePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        df.write.mode("overwrite").parquet(stagePath.toString)
        val bytes = fs.getContentSummary(stagePath).getLength
        val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          s.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        val nFiles = math.max(8L, (bytes + maxSplit - 1) / maxSplit).toInt
        s.read.parquet(stagePath.toString)
          .repartition(nFiles, org.apache.spark.sql.functions.col("src"))
          .write.mode("overwrite").parquet(path)
        fs.delete(stagePath, true)
        name -> (System.nanoTime() - t0) / 1e9
      }
      val fr = SparkEntry.copurchaseFrames(s, sfDir)
      val builds = Seq(
        build("edges", fr.edges, s"$famDir/full/edges"),
        build("edges_weighted", fr.weighted, s"$famDir/full/weighted"),
        build("half_edges", fr.half, s"$famDir/full/half"))
      warmDir.foreach { d =>
        val tw = SparkEntry.copurchaseFrames(s, d)
        tw.edges.write.mode("overwrite").parquet(s"$famDir/warm/edges")
        tw.weighted.write.mode("overwrite").parquet(s"$famDir/warm/weighted")
        tw.half.write.mode("overwrite").parquet(s"$famDir/warm/half")
      }
      builds
    } finally { s.stop(); System.gc() }
  }

  private def familyFrames(s: SparkSession, famDir: String, kind: String) =
    SparkEntry.CopurchaseFrames(
      s.read.parquet(s"$famDir/$kind/edges"),
      s.read.parquet(s"$famDir/$kind/weighted"),
      s.read.parquet(s"$famDir/$kind/half"))

  /** The served rows' index and table builds, once per run in their own
    * session; returns each build's seconds (the `served_build` block: a
    * production path pays a build once per corpus snapshot, the served
    * rows are what repeats). The co-purchase edge list is stored TWICE,
    * bucketed by src and by dst: pageRank joins edges on src, HITS on
    * both keys, so each reads its bucketing with zero edge-side
    * exchanges (pinned in GraphOpsSpec).
    */
  private def buildServed(sfDir: String, idx: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.col
    import graft.functions.{Similarity, TextAnalysis}
    val s = GraftSession.local()
    try {
      def built(name: String)(body: => Unit): (String, Double) = {
        val t0 = System.nanoTime()
        body
        name -> (System.nanoTime() - t0) / 1e9
      }
      val corpus = graft.sources.Tables.embeddings(s, sfDir)
        .select(col("vec_id"), col("embedding").as("vec"))
      val copurchase = Checkpoints.local(graft.functions.Graph.copurchaseEdges(
        graft.sources.Tables.lineitem(s, sfDir)))
      Seq(
        built("int8")(Similarity.writeInt8Index(corpus, s"$idx/int8")),
        built("ivfpq")(Similarity.writeIvfPqIndex(corpus, s"$idx/ivfpq",
          centroidEvery = 25, m = 8, dim = 64)),
        built("bm25")(TextAnalysis.writeInvertedIndex(
          graft.sources.Tables.documents(s, sfDir), "text", "doc_id", s"$idx/bm25")),
        built("edges_src")(graft.sinks.Lake.writeBucketed(
          copurchase, "graft_bench_edges_src", s"$idx/edges_src", Seq("src"), numBuckets = 32)),
        built("edges_dst")(graft.sinks.Lake.writeBucketed(
          copurchase, "graft_bench_edges_dst", s"$idx/edges_dst", Seq("dst"), numBuckets = 32)))
    } finally { s.stop(); System.gc() }
  }

  /** The from-index serving rows over [[buildServed]]'s layouts. Each
    * row's setup (re-attaching a bucketed table to the fresh session's
    * catalog, checkpointing the 20 probe vectors) runs once per session,
    * off the clock; the returned thunk is the timed form.
    */
  private def servedRows(sfDir: String, idx: String)
      : Seq[(String, SparkSession => () => DataFrame)] = {
    import org.apache.spark.sql.functions._
    import graft.functions.{Graph, Similarity, TextAnalysis}
    def edges(s: SparkSession, by: String): DataFrame = {
      graft.sinks.Lake.registerBucketed(s, s"graft_bench_edges_$by",
        s"$idx/edges_$by", "src BIGINT, dst BIGINT", Seq(by), 32)
      s.table(s"graft_bench_edges_$by")
    }
    def probes(s: SparkSession): DataFrame = Checkpoints.local(
      graft.sources.Tables.embeddings(s, sfDir).filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
    Seq(
      "graph_pagerank_served" -> { s =>
        val e = edges(s, "src")
        () => Graph.pageRank(e, "src", "dst",
          iterations = 5, broadcastRanks = false, checkpointEdges = false)
      },
      "graph_hits_served" -> { s =>
        val (bySrc, byDst) = (edges(s, "src"), edges(s, "dst"))
        () => Graph.hits(bySrc, "src", "dst", iterations = 3,
          broadcastScores = false, checkpointEdges = false, edgesByDst = Some(byDst))
      },
      // the nightly walk-corpus regeneration path: walks + skip-gram pairs
      // straight off the stored bucketed edge table (checkpointEdges=false
      // keeps the bucketed scan; the frontier stays broadcast, it is
      // walk-sized)
      "graph_walk_pairs_served" -> { s =>
        val e = edges(s, "src")
        () => {
          val seeds = e.select(col("src").as("node")).distinct()
            .filter(pmod(col("node"), lit(40)) === 0)
          Graph.skipGramPairs(Graph.deterministicWalks(e, "src", "dst", seeds,
            steps = 4, checkpointEdges = false), window = 2)
        }
      },
      "sim_topk_int8_served" -> { s =>
        val q = probes(s)
        () => Similarity.int8TopKFromIndex(s, q, s"$idx/int8", k = 5)
      },
      "sim_topk_ivfpq_served" -> { s =>
        val q = probes(s)
        val corpus = graft.sources.Tables.embeddings(s, sfDir)
          .select(col("vec_id"), col("embedding").as("vec"))
        () => Similarity.ivfPqTopKFromIndex(s, q, corpus, s"$idx/ivfpq",
          k = 5, centroidEvery = 25, nprobe = 3, m = 8, dim = 64)
      },
      "search_bm25_served" -> { s =>
        () => TextAnalysis.bm25SearchFromIndex(s, s"$idx/bm25",
          Seq("window", "hash", "stream", "dup"), topK = 50)
      })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    val warmDir = warmSibling(sfDir)

    // phase wall-clock accounting on stderr
    var phaseT0 = System.nanoTime()
    def phaseDone(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"[bench] phase $name%-12s ${(now - phaseT0) / 1e9}%7.1f s")
      phaseT0 = now
    }

    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // cold reading -> window_factor; warm reading -> drift reference
    val canary = HostCanary.measureFresh()
    val canaryWarm = HostCanary.measureFresh()
    phaseDone("canary")

    // per-run unique dirs for the stored family tables and the served
    // indexes, so concurrent bench runs never share them; an aborted run
    // would otherwise leak them
    def tempDir(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
    val famDir = tempDir("graft-bench-family")
    val idx = tempDir("graft-bench-idx")
    def delete(dir: String): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Runtime.getRuntime.addShutdownHook(new Thread(() => { delete(famDir); delete(idx) }))

    val familyBuild = buildFamily(sfDir, warmDir, famDir)
    phaseDone("family-build")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      SparkEntry.graphFamilyQueries.get(name) match {
        case Some(body) => timeRow(name)(
          s => warmDir.map(_ => () => body(familyFrames(s, famDir, "warm"))),
          s => () => body(familyFrames(s, famDir, "full")))
        case None => timeRow(name)(
          s => warmDir.map(d => () => fn(s, d)),
          s => () => fn(s, sfDir))
      }
    }
    delete(famDir)
    phaseDone("queries")

    val servedBuild = buildServed(sfDir, idx)
    val served = servedRows(sfDir, idx).map { case (name, form) =>
      timeRow(name)(_ => None, form)
    }
    delete(idx)
    phaseDone("served")

    val skew = skewRows.map { case (name, fn) =>
      timeRow(name)(s => Some(() => fn(s, 2000000L)), s => () => fn(s, 16000000L))
    }
    phaseDone("skew")

    val canaryEnd = HostCanary.measureFresh()
    phaseDone("canary-end")

    val art = Artifact(sfDir, GraftSession.defaultCores, fullPath, queries, served, skew,
      servedBuild, familyBuild, canary, canaryWarm, canaryEnd, loadAvg)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val plans = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$fullPath.plans"))
    (queries ++ served ++ skew).filter(_.plan.nonEmpty).foreach { r =>
      java.nio.file.Files.write(plans.resolve(s"${r.name}.txt"), r.plan.getBytes(utf8))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath), (art.fullJson + "\n").getBytes(utf8))
    System.err.println(f"[bench] run_quality=${art.quality} (canary_drift=${art.drift}%.3f, " +
      f"window_factor=${art.windowFactor}%.3f, row_anomalies=${art.anomalies.mkString(",")})")
    println(art.stdoutLine)
  }
}
