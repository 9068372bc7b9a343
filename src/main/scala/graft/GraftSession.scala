package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for single-JVM `local[n]` mode, but every setting
  * here is what we would ship to a 1000-executor cluster as well:
  * AQE on (runtime re-planning, skew-join splitting, partition coalescing),
  * shuffle partitions sized to the parallelism actually available instead of
  * the 200 default, UTC session time zone so window/bucket arithmetic is
  * reproducible against external oracles.
  */
object GraftSession {

  /** Hadoop's `file` scheme served by [[LocalFs]] through both filesystem
    * APIs: `FileSystem` (parquet, lake and index writes) and `FileContext`
    * (Spark's streaming checkpoints and state store).
    */
  val localFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.FileSystemImpl].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.FileContextImpl].getName)

  /** Cores a session runs on when its caller names none:
    * `SPARK_GRAFT_CPUS`, otherwise every core the JVM sees.
    */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session builder in the engine: the apps, the oracle gate
    * (`Verify`), the test session, `Bench`, `streambench` and the tools
    * all run on this config. `conf` is applied after the shipped keys
    * and is for a harness's explicit overrides only (the test session's
    * temp warehouse dir; [[graft.tools.HostCanary]]'s pinned
    * `initialPartitionNum`).
    */
  def local(
      cores: Int = defaultCores,
      appName: String = "graft",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE can only coalesce DOWN from the initial partition count —
      // with initial == cores, a 50x corpus still funnels every shuffle
      // through `cores` partitions and per-task working sets grow
      // unboundedly with the data (the 250k-doc smoke OOM'd an 8 GB heap
      // exactly this way: ~1M exploded shingle rows per task). Start
      // higher and let AQE coalesce: small stages come back to ~`cores`
      // partitions (parallelismFirst), big stages keep enough partitions
      // that a task's working set stays bounded at ANY corpus size — the
      // same config a 1000-executor cluster ships. 4x cores, not more:
      // operators that MATERIALIZE at the initial partitioning
      // (localCheckpoint in the CC rounds) pay per-task overhead that
      // AQE never sees — 16x cores measured the 250k curation DAG at
      // 3.5x its 4x-cores cost.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cores * 4).toString)
      // 128 MB scan splits: with ~2-4x expansion from parquet decode, a
      // task's working set stays well inside a typical 4-8 GB executor
      // heap share, so scans neither spill nor starve parallelism at any
      // corpus size (explicit, not defaulted, because it's load-bearing
      // for the 100 TB sizing story).
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(localFs)
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
