package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Batch table loaders for the driver-generated parquet corpus
  * (`/root/testdata/sf*`; see TESTDATA.md). One method per table so query
  * code never hand-builds paths.
  */
object Tables {
  /** Memoized per (session, path): re-running a query re-uses the resolved
    * relation — file listing, parquet footers, inferred schema — instead
    * of re-listing on every call. On a 100 TB table the listing/footer
    * pass is thousands of S3 round-trips; benchmarks see it as a fixed
    * ~0.1-0.3 s floor per query. The cache holds lazy plans (nothing is
    * materialized), is keyed by `sessionUUID` (stable, never reused —
    * unlike identity hash codes), and entries of STOPPED sessions are
    * evicted on the next access so a long-lived JVM (test runner,
    * notebook) doesn't pin dead sessions' plans forever.
    *
    * CAVEAT: the cached relation snapshots the file listing at first
    * access. If a parquet path's contents are regenerated or appended to
    * under the same session, the stale listing is silently served; a new
    * session resolves the path afresh.
    */
  private val planCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Tables whose consumers run crypto-hash-dense narrow pipelines
    * (shingle/minhash/char-trigram/vector math — md5 per element) where
    * single-task scans serialize real compute. Scan-light tables
    * (lineitem/orders/events: scan → filter → one aggregate/sort) are
    * deliberately NOT filled: the A/B measured the extra exchange costing
    * them 2-3x (tpch_q1 0.34 → 1.00 s) while the text tier gained up to
    * 4.4x (dedup_simhash_wide 3.08 → 0.70 s).
    */
  // embeddings deliberately absent: its consumers (vector math over a
  // row-per-vector array column) measured 1.3-2x WORSE filled — the
  // per-row compute is too light to amortize the exchange + task overhead
  private val computeDenseTables = Map("documents" -> "doc_id")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    planCache.filterInPlace((_, df) => !df.sparkSession.sparkContext.isStopped)
    planCache.getOrElseUpdate(
      (org.apache.spark.sql.graftbridge.ColumnBridge.sessionUUID(spark),
        s"$dir/$name.parquet"), {
        val df = spark.read.parquet(s"$dir/$name.parquet")
        computeDenseTables.get(name) match {
          case Some(idCol) =>
            fillScanParallelism(spark, s"$dir/$name.parquet", df, idCol)
          case None => df
        }
      })
  }

  /** A scan-light table WITH the parallelism fill — the per-QUERY opt-in
    * for the few consumers whose downstream is compute-dense even though
    * the table's typical consumer is not (e.g. `table_profile_orders`:
    * a 7x count-distinct expand behind a single-task scan). Same
    * data-sized condition as the documents fill — inert at scale.
    */
  def tableFilled(
      spark: SparkSession, dir: String, name: String, idCol: String): DataFrame = {
    planCache.filterInPlace((_, df) => !df.sparkSession.sparkContext.isStopped)
    planCache.getOrElseUpdate(
      (org.apache.spark.sql.graftbridge.ColumnBridge.sessionUUID(spark),
        s"$dir/$name.parquet#filled"),
      fillScanParallelism(spark, s"$dir/$name.parquet",
        spark.read.parquet(s"$dir/$name.parquet"), idCol))
  }

  /** Guide §2.5's unsplittable-input fix, made conditional: parquet scan
    * parallelism is bounded by row groups, and a small corpus arrives as
    * ONE file with ONE row group — so every narrow pipeline over it
    * (tokenize / shingle / minhash / char-trigram, the CPU-dense half of
    * the text tier) runs single-task until its first exchange, no matter
    * how many cores the session holds (measured: the LSH band build ran
    * 1.26 s in one task on a 32-core session). When the scan's ESTIMATED
    * split count cannot reach half the default parallelism,
    * hash-repartition on the table's unique id to the default
    * parallelism right after the read (NOT round-robin — see the inline
    * note below: a keyless repartition first pays a local sort of the
    * full text rows): rows are unchanged (and the id hash is
    * deterministic under retry), filters/projections still push BELOW
    * the added exchange (PushDownPredicates/ColumnPruning both traverse
    * Repartition), and the exchange moves at most the table's bytes
    * once. At production scale the split estimate exceeds any
    * realistic core count and this is the identity — the condition is
    * data-sized, not tuned to the local core count.
    */
  private def fillScanParallelism(
      spark: SparkSession, path: String, df: DataFrame,
      idCol: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes: Seq[Long] =
      if (!fs.exists(p)) Nil
      else if (fs.getFileStatus(p).isFile) Seq(fs.getFileStatus(p).getLen)
      else fs.listStatus(p).toSeq.filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        .map(_.getLen)
    val estSplits = sizes.map(sz => math.max(1L, (sz + maxSplit - 1) / maxSplit)).sum
    // hash-partition on the table's unique id, NOT round-robin: a keyless
    // repartition first pays a local sort of the full rows (text payload
    // included; spark.sql.execution.sortBeforeRepartition, the SPARK-23207
    // retry-determinism guard), which on a text corpus costs more than
    // the exchange itself. The id hash is already retry-deterministic.
    if (estSplits * 2 <= target) df.repartition(target, col(idCol)) else df
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped in several parquet encodings across corpus
    * regenerations: TIMESTAMP(NANOS) (read by Spark as a raw nano count
    * under `spark.sql.legacy.parquet.nanosAsLong`), TIMESTAMP(MICROS)
    * without timezone (read as TIMESTAMP_NTZ), and plain TIMESTAMP. The
    * normalization is total so a driver-side schema shift never reaches
    * query code: every downstream operator sees a session-TZ
    * TimestampType. The NTZ->Timestamp cast is an identity under the UTC
    * session timezone the engine pins ([[graft.GraftSession]]).
    *
    * The integer branch does NOT assume nanos (the round-7 lesson: a
    * silent encoding shift broke 19 queries at analysis time): one
    * first-row probe classifies the epoch unit by magnitude. The branch
    * cuts are second < 1e11 < milli < 1e14 < micro < 1e17 < nano, which
    * classifies correctly for timestamps between ~1973-03 (1e8 s) and
    * ~5138 (1e11 s): below 1e11 the value must be seconds (a millisecond
    * count under 1e11 would be a pre-1973-03 date), and each later unit's
    * range scales by exactly 1000. Dates outside that window (or mixed
    * units within one file) are out of contract. The normalized frame is
    * memoized per (session, dir) so the probe job runs once, not per
    * query.
    */
  private val eventsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    eventsCache.filterInPlace((_, df) => !df.sparkSession.sparkContext.isStopped)
    eventsCache.getOrElseUpdate(
      (org.apache.spark.sql.graftbridge.ColumnBridge.sessionUUID(s), d), {
        val raw = table(s, d, "events")
        raw.schema("ts").dataType match {
          case LongType =>
            val sample = raw.select(col("ts")).filter(col("ts").isNotNull)
              .limit(1).collect().headOption.map(_.getLong(0).abs)
            val toTs = sample match {
              case Some(v) if v < 100000000000L => "timestamp_seconds(ts)"
              case Some(v) if v < 100000000000000L => "timestamp_millis(ts)"
              case Some(v) if v < 100000000000000000L => "timestamp_micros(ts)"
              case _ => "timestamp_micros(ts DIV 1000)" // nanos (also the empty-table default)
            }
            raw.withColumn("ts", expr(toTs))
          case TimestampNTZType =>
            raw.withColumn("ts", col("ts").cast(TimestampType))
          case _ => raw
        }
      })
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")

  /** `documents` WITHOUT the scan-parallelism fill — for the index
    * BUILD/lifecycle paths, whose cost is dominated by many short write/
    * read stages rather than narrow compute: the interleaved A/B measured
    * the filled read costing them 1.14-2.47x (index_delete_bm25,
    * dedup_retract_labels) while the pair-mining/classifier pipelines
    * gained 1.7-3.7x from the same fill. At production scale the fill is
    * inert either way (the split-count condition never fires), so this
    * split only encodes which LOCAL plan each workload shape wants.
    */
  def documentsRaw(s: SparkSession, d: String): DataFrame = {
    planCache.filterInPlace((_, df) => !df.sparkSession.sparkContext.isStopped)
    planCache.getOrElseUpdate(
      (org.apache.spark.sql.graftbridge.ColumnBridge.sessionUUID(s),
        s"$d/documents.parquet#raw"),
      s.read.parquet(s"$d/documents.parquet"))
  }

  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** Streaming sources, mirroring the reference's source surface:
  *
  *  - S1 file-monitor text source (`chapter2/BasicStreamingOperations.java:52-60`,
  *    `readFile(..., PROCESS_CONTINUOUSLY, 1000)`): Structured Streaming's
  *    file source re-lists the directory every micro-batch, which is the
  *    same continuous-monitoring semantics; the 1000 ms scan interval maps
  *    to the trigger interval chosen at `writeStream` time.
  *  - S2 Kafka source (`chapter3/WindowingOperations.java:44-60`): the
  *    `kafka` streaming source with `startingOffsets=latest`.
  */
object Sources {

  /** S1: monitor a directory of text files; one `value: String` row per line. */
  def fileLines(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("text").load(dir)

  /** S2: Kafka topic as a stream of string values.
    * Mirrors `WindowingOperations.java:44-60` (bootstrap `localhost:9092`,
    * `setStartFromLatest()`); group id is managed by Spark's own offset
    * tracking rather than the consumer group protocol.
    *
    * NOTE: this container ships no `spark-sql-kafka` connector jar (and no
    * broker), so the source can only be exercised on a real cluster with
    * `--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>`.
    */
  def kafkaLines(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(bootstrap, topic, startingOffsets))
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** S2 consumer options (pure, spec-testable without the connector jar):
    * the exact option surface `kafkaLines` hands the `kafka` source.
    */
  def kafkaSourceOptions(
      bootstrap: String,
      topic: String,
      startingOffsets: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets)

  /** Streaming view of a parquet directory with an explicit schema —
    * used to drive the `events` table as a stream in tests/benchmarks.
    * `globFilter` selects specific files inside the directory (the
    * streaming file source itself only accepts directories).
    */
  def parquetStream(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      globFilter: Option[String] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    globFilter.foreach(g => r.option("pathGlobFilter", g))
    r.parquet(dir)
  }
}
