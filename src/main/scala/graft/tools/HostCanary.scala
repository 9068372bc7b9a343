package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Host-window canary: three fixed SYNTHETIC workloads — a codegen'd
  * scan/CPU shape, a 1M-group shuffle shape and a parquet scan — timed
  * in a fresh session. `window_factor` = geometric mean of (now /
  * reference) qualifies the virtualized host's current window against
  * pinned references (three same-day r11 runs on identical code read
  * 146/223/344 s; `bench_compare.py` normalizes cross-artifact deltas by
  * the factor ratio). The references were measured at `local[32]`, so
  * on another core count the factor also reads the core count; Bench's
  * `canary_drift` is therefore taken against a second reading of the
  * same run ([[drift]]), never against the pinned references.
  *
  * Synthetic rather than engine queries so the canary prices the HOST,
  * never the round's code changes: the pinned reference survives every
  * engine edit and never needs re-measurement. References were measured
  * in the 2026-08-15 (r12) window via `runMain graft.tools.HostCanary`;
  * factor ~1.0 = that window, >1.3 = degraded host.
  *
  * Standalone use — check the window BEFORE committing to a bench run:
  * `sbt 'runMain graft.tools.HostCanary [repeat]'` prints one JSON line
  * with the timings and the factor (and a second, warm reading).
  */
object HostCanary {

  /** Pinned reference seconds, measured IN PROTOCOL POSITION (the
    * phase-0 fresh session of the r12 idle-window full run: 0.476 /
    * 1.979). The session config is load-bearing: the same shuffle canary
    * reads ~3.3 s at the shipped AQE `initialPartitionNum = 4x cores`
    * (per-partition overhead the r12 session, which left it at `cores`,
    * did not pay), which is why [[session]] overrides that one key —
    * references and measurements must share one config or the factor is
    * meaningless.
    *
    * `canary_scan` (r14, verdict directive 3) prices cold-ish parquet
    * scan throughput of a table written earlier in the same session —
    * the served/family phases' gating channel that the cpu/shuffle pair
    * never samples. References measured 2026-08-15 (r14 window,
    * cpu/shuffle factors ~1.0 at the time of measurement) via
    * `runMain graft.tools.HostCanary`.
    */
  val ref: Seq[(String, Double)] = Seq(
    "canary_cpu" -> 0.47,
    "canary_shuffle" -> 1.98,
    "canary_scan" -> 1.00)

  /** The factory session with AQE's `initialPartitionNum` pinned to
    * `cores`, the config the references in [[ref]] were measured on.
    * Every Bench canary reading runs on it too.
    */
  def session(cores: Int = graft.GraftSession.defaultCores): SparkSession =
    graft.GraftSession.local(cores, "host-canary", Map(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> cores.toString))

  /** The fixed workloads; `n` rows of `spark.range`. Aggregates are
    * overflow-free (max / pmod'd sums): ANSI mode is on, and a wrapped
    * long would abort the canary instead of timing it.
    */
  def body(spark: SparkSession, name: String, n: Long): DataFrame = name match {
    case "canary_cpu" => // codegen'd scan: xxhash chain into a 1-row agg
      spark.range(n).select(
        max(xxhash64(xxhash64(col("id")), col("id") + 1L)).as("h"))
    case _ => // shuffle: 1M-group aggregate + a second exchange (sort)
      spark.range(n).groupBy(pmod(col("id") * 2654435761L, lit(1000000L)).as("g"))
        .agg(count(lit(1)).as("n"), max(col("id")).as("s"))
        .orderBy(col("g"))
  }

  /** The disk-scan workload's fixed table (r13 verdict directive 3): the
    * cpu canary prices codegen throughput and the shuffle canary the
    * exchange machinery, but the bench's served/family phases are gated
    * on PARQUET SCAN throughput of tables written earlier in the same
    * run — exactly the channel neither samples (the r13 blind spot: three
    * stored-table graph rows read 9-19x while both canaries said "flat").
    * So: write a fixed-shape table once (untimed setup — it shares the
    * written-this-run freshness of the real stored tables), then time
    * full scans that aggregate EVERY column (no pruning, no pushdown —
    * the max()s keep the scan the only cost). ~390 MB on disk, the
    * family/served tables' scale.
    */
  private def scanTable(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id"),
      xxhash64(col("id")).as("h1"),
      xxhash64(col("id"), lit(1)).as("h2"),
      conv(pmod(xxhash64(col("id"), lit(2)), lit(1L << 40)).cast("string"),
        10, 16).as("s"))

  private def scanAll(df: DataFrame): DataFrame =
    df.agg(max(col("id")), max(col("h1")), max(col("h2")), max(col("s")))

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Warm once at 1/100 size (codegen), then min-of-2 at full size.
    * -1.0 marks a failed workload (excluded from the factor). The scan
    * workload writes its table to a per-call temp dir (untimed), times
    * 2 full-column scans, and removes the table.
    */
  def measure(spark: SparkSession): Seq[(String, Double)] =
    ref.map { case (name, _) =>
      try {
        if (name == "canary_scan") {
          val dir = java.nio.file.Files
            .createTempDirectory("graft-canary-scan").toString
          try {
            val n = 30000000L
            scanTable(spark, n).write.mode("overwrite").parquet(dir) // untimed
            exec(scanAll(spark.read.parquet(dir).limit(300000))) // codegen warm
            val times = (1 to 2).map { _ =>
              val t0 = System.nanoTime()
              exec(scanAll(spark.read.parquet(dir)))
              (System.nanoTime() - t0) / 1e9
            }
            (name, times.min)
          } finally org.apache.commons.io.FileUtils
            .deleteQuietly(new java.io.File(dir))
        } else {
          val full = if (name == "canary_cpu") 400000000L else 16000000L
          exec(body(spark, name, full / 100)) // codegen warm
          val times = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            exec(body(spark, name, full))
            (System.nanoTime() - t0) / 1e9
          }
          (name, times.min)
        }
      } catch { case _: Throwable => (name, -1.0) }
    }

  /** [[measure]] in a fresh [[session]], stopped afterwards. */
  def measureFresh(): Seq[(String, Double)] = {
    val s = session()
    try measure(s) finally { s.stop(); System.gc() }
  }

  /** Geometric mean of now/ref over the successful workloads; -1.0 when
    * none succeeded. Results pair with their reference BY NAME (not by
    * position): a caller passing a filtered or reordered seq — e.g. one
    * with failed -1.0 entries removed — must not silently pair a timing
    * with the wrong pinned reference.
    */
  def factor(results: Seq[(String, Double)]): Double = ratio(results, ref)

  /** How far `later` moved from `earlier`, two readings of the workloads
    * in the same run: |geometric mean of later/earlier - 1| over the
    * workloads both read successfully; -1.0 when there are none. A
    * same-run reference carries the host's core count and the JVM's
    * warmth with it, so neither reads as drift.
    */
  def drift(earlier: Seq[(String, Double)], later: Seq[(String, Double)]): Double = {
    val r = ratio(later, earlier)
    if (r < 0) -1.0 else math.abs(r - 1)
  }

  private def ratio(results: Seq[(String, Double)], refs: Seq[(String, Double)]): Double = {
    val refByName = refs.filter(_._2 > 0).toMap
    val ratios = results.collect {
      case (name, sec) if sec > 0 && refByName.contains(name) =>
        sec / refByName(name)
    }
    if (ratios.isEmpty) -1.0
    else math.exp(ratios.map(math.log).sum / ratios.size)
  }

  private def json(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")

  /** Prints the cold reading and its `window_factor`; with `repeat`, a
    * second reading in a fresh session of the now-warm JVM (Bench's
    * `canary_warm`, the drift reference).
    */
  def main(args: Array[String]): Unit = {
    val cold = measureFresh()
    println(f"""{"canary":${json(cold)},"window_factor":${factor(cold)}%.3f}""")
    if (args.contains("repeat")) {
      val warm = measureFresh()
      println(s"""{"canary_warm":${json(warm)}}""")
    }
  }
}
