package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalactic.Tolerance._
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Artifact, Row}

/** Bench's row protocol, its within-run verdicts and its stdout line,
  * on synthetic rows (no corpus, no session), plus a source lint that
  * Bench reads no previous artifact.
  */
class BenchSpec extends AnyFunSuite {

  private val canary = Seq("canary_cpu" -> 0.5, "canary_shuffle" -> 2.0, "canary_scan" -> 1.0)
  private def scaled(f: Double) = canary.map { case (k, v) => k -> v * f }

  private def artifact(
      queries: Seq[Row],
      warm: Seq[(String, Double)] = canary,
      end: Seq[(String, Double)] = canary,
      skew: Seq[Row] = Nil) =
    Artifact("/data/sf0.1", "BENCH_FULL.json", queries,
      served = Seq(Row("graph_pagerank_served", Seq(0.72, 0.70, 0.71), ok = true),
        Row("search_bm25_served", Seq(0.21, 0.20, 0.22), ok = true)),
      skew = skew,
      servedBuild = Seq("int8" -> 0.07, "bm25" -> 0.86),
      familyBuild = Seq("edges" -> 1.81),
      canary = canary, canaryWarm = warm, canaryEnd = end, loadAvg = 0.5)

  test("timeRuns: warm twice off the clock, then 3 timed runs; min published, every run kept") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val sleeps = Iterator(150L, 10L, 80L)
    val r = Bench.timeRuns("q",
      warm = Some(() => events += "warm"),
      run = () => { events += "run"; Thread.sleep(sleeps.next()) })
    assert(events.toSeq === Seq("warm", "warm", "run", "run", "run"))
    assert(r.ok)
    assert(r.runs.size === Bench.timedRuns)
    assert(r.runs.size === 3)
    assert(r.sec === r.runs.min)
    assert(r.runs.indexOf(r.sec) === 1)
    assert(r.runs(0) >= 0.15 && r.runs(1) >= 0.01 && r.runs(2) >= 0.08)
  }

  test("timeRuns: a throwing timed run fails the row; a throwing warm does not") {
    var n = 0
    val failed = Bench.timeRuns("q", None,
      () => { n += 1; if (n == 2) throw new RuntimeException("boom") })
    assert(!failed.ok)
    assert(failed.runs.size === 3)
    val warmFails = Bench.timeRuns("q", Some(() => throw new RuntimeException("warm")), () => ())
    assert(warmFails.ok)
    assert(warmFails.runs.size === 3)
  }

  test("anomaly rule: second-fastest run > 3x and > 1 s above the fastest") {
    assert(Bench.anomalous(Seq(2.1, 0.5, 2.0)))
    assert(!Bench.anomalous(Seq(0.2, 0.9, 1.0)), "3x but under the 1 s floor")
    assert(!Bench.anomalous(Seq(2.0, 5.0, 7.0)), "1 s over but under 3x")
    assert(!Bench.anomalous(Seq(1.0, 9.0, 1.1)), "a single slow run: the min is confirmed")
    assert(!Bench.anomalous(Seq(1.0)))
    assert(!Bench.anomalous(Nil))
  }

  test("run_quality: drift thresholds, a failed canary and an anomaly") {
    assert(Bench.runQuality(0.0, canaryFailed = false, Nil) === "ok")
    assert(Bench.runQuality(0.2, canaryFailed = false, Nil) === "ok")
    assert(Bench.runQuality(0.21, canaryFailed = false, Nil) === "suspect")
    assert(Bench.runQuality(0.5, canaryFailed = false, Nil) === "suspect")
    assert(Bench.runQuality(0.51, canaryFailed = false, Nil) === "degraded")
    assert(Bench.runQuality(0.6, canaryFailed = true, Seq("q")) === "degraded")
    assert(Bench.runQuality(0.1, canaryFailed = true, Nil) === "suspect")
    assert(Bench.runQuality(-1.0, canaryFailed = true, Nil) === "suspect")
    assert(Bench.runQuality(0.1, canaryFailed = false, Seq("q")) === "suspect")
  }

  test("the artifact's verdict comes from its own canaries and rows") {
    val steady = Seq(Row("a", Seq(1.0, 1.1, 1.2), ok = true))
    assert(graft.tools.HostCanary.drift(canary, scaled(1.1)) === 0.1 +- 1e-9)
    assert(artifact(steady).quality === "ok")
    assert(artifact(steady).drift === 0.0 +- 1e-9)
    assert(artifact(steady, end = scaled(1.3)).quality === "suspect")
    assert(artifact(steady, end = scaled(0.6)).quality === "suspect")
    assert(artifact(steady, end = scaled(1.6)).quality === "degraded")
    // the cold reading (window_factor) is not the drift reference
    assert(artifact(steady, warm = scaled(2.0), end = scaled(2.0)).quality === "ok")
    val oneFailed = canary.updated(1, "canary_shuffle" -> -1.0)
    assert(artifact(steady, end = oneFailed).quality === "suspect")
    assert(artifact(steady, end = oneFailed).drift === 0.0 +- 1e-9)
    val spiky = Row("b", Seq(0.4, 2.5, 2.6), ok = true)
    val skewSpiky = Row("skew_sessions_chunked", Seq(0.4, 2.5, 2.6), ok = true)
    assert(artifact(steady :+ spiky).anomalies === Seq("b"))
    assert(artifact(steady :+ spiky).quality === "suspect")
    assert(artifact(steady, skew = Seq(skewSpiky)).anomalies === Seq("skew_sessions_chunked"))
    assert(artifact(steady :+ spiky.copy(ok = false)).anomalies === Nil, "errors are not screened")
  }

  private val mapper = new ObjectMapper()

  private def synthetic(nRows: Int, nErrors: Int): Seq[Row] = {
    val rnd = new scala.util.Random(7)
    (0 until nRows).map { i =>
      val name = f"query_row_with_a_long_name_$i%03d"
      if (i % (nRows / nErrors) == 0) Row(name, Nil, ok = false)
      else Row(name, Seq.fill(3)(0.1 + rnd.nextDouble() * 10), ok = true)
    }
  }

  test("stdout line: 200 rows + 20 errors fit the budget, parse, and keep the slowest rows first") {
    val rows = synthetic(200, 20)
    val art = artifact(rows)
    val line = art.stdoutLine
    assert(line.length <= Bench.stdoutBudget)
    assert(Bench.stdoutBudget === 1750)
    val j = mapper.readTree(line)
    Seq("metric", "value", "queries", "run_quality").foreach(f => assert(j.has(f), f))
    assert(j.get("metric").asText === "total")
    assert(j.get("run_quality").asText === art.quality)
    assert(j.get("n_queries").asInt === 180)
    assert(j.get("n_errors").asInt === 20)
    assert(j.get("value").asDouble === rows.filter(_.ok).map(_.sec).sum +- 0.01)
    val kept = j.get("queries").fieldNames.asScala.toSeq
    val slowest = rows.filter(_.ok).sortBy(-_.sec).map(_.name)
    assert(kept.nonEmpty && kept.size < slowest.size)
    assert(kept === slowest.take(kept.size))
  }

  test("stdout line: too many errors to list degrades to a parseable line") {
    val art = artifact(synthetic(200, 100))
    val line = art.stdoutLine
    assert(line.length <= Bench.stdoutBudget)
    val j = mapper.readTree(line)
    assert(j.get("queries").size > 0)
    assert(j.get("n_errors").asInt === 100)
  }

  test("full artifact: every ok row of every block publishes its min and all its runs") {
    val skew = Seq(Row("skew_sessions_direct", Seq(9.0, 8.8, 9.1), ok = true))
    val art = artifact(synthetic(40, 4), skew = skew)
    val j = mapper.readTree(art.fullJson)
    val runs = j.get("runs")
    val ok = (art.queries ++ art.served ++ art.skew).filter(_.ok)
    assert(runs.size === ok.size)
    ok.foreach { r =>
      assert(runs.get(r.name).size === 3, r.name)
      runs.get(r.name).elements.asScala.map(_.asDouble).toSeq.zip(r.runs)
        .foreach { case (published, run) => assert(published === run +- 0.0005, r.name) }
    }
    assert(j.get("queries").size === 36)
    assert(j.get("skew_demo").get("skew_sessions_direct").asDouble === 8.8)
    assert(j.get("served").size === 2)
    assert(j.get("errors").size === 4)
    Seq("canary", "window_factor", "canary_warm", "canary_end", "canary_drift", "row_anomalies",
      "run_quality", "served_build", "family_build").foreach(f => assert(j.has(f), f))
    Seq("window_factor_end", "retimed", "row_reruns").foreach(f => assert(!j.has(f), f))
  }

  test("layers block: every row publishes rdds_held; a row that held any is an error") {
    val leaky = Row("leaky_row", Seq(1.0, 1.1, 1.2), ok = true).held(2)
    assert(!leaky.ok && leaky.rddsHeld === 2)
    assert(Row("r", Seq(1.0), ok = true).held(0).ok)
    val art = artifact(Seq(Row("clean_row", Seq(0.5, 0.6, 0.7), ok = true), leaky))
    val j = mapper.readTree(art.fullJson)
    val layers = j.get("layers")
    assert(layers.get("clean_row").get("rdds_held").asInt === 0)
    assert(layers.get("leaky_row").get("rdds_held").asInt === 2)
    assert(layers.get("graph_pagerank_served").get("rdds_held").asInt === 0)
    assert(layers.size === 4)
    assert(art.errors === Seq("leaky_row"))
    assert(!j.get("queries").has("leaky_row"))
  }

  test("Bench.scala reads no file and no previous artifact; src/main reads three env vars") {
    val src = Files.readString(Paths.get("src/main/scala/graft/Bench.scala"))
    Seq("readAllBytes", "readString", "readAllLines", "Files.lines", "newBufferedReader",
      "newInputStream", "FileInputStream", "FileReader", "Source.from", "BENCH_PREV")
      .foreach(api => assert(!src.contains(api), api))
    val envKey = """(?:sys\.env\s*(?:\.\s*\w+\s*)?|System\.getenv)\(\s*"([A-Z_]+)"""".r
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val keys = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => envKey.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    finally walk.close()
    assert(keys === Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_FULL"))
  }
}
