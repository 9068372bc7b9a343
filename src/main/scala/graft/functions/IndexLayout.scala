package graft.functions

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{broadcast, col, concat_ws, lit}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.functions.Checkpoints.Owned

/** Shared layout rules for the materialized index families (LSH band
  * buckets, IVF+PQ cells): every write — the base build and each append —
  * lands under a `batch=<id>` partition directory, and an append with a
  * known batch id is a DYNAMIC PARTITION OVERWRITE of exactly its own
  * `batch=<id>` partitions rather than a blind parquet append.
  *
  * That one layout rule is what makes streaming index maintenance
  * idempotent under foreachBatch's at-least-once contract: a replayed
  * micro-batch re-derives the same rows (the derivation is deterministic
  * — frozen codebooks / hash band keys — and the source replays the same
  * data for the same batch id) and REPLACES the partitions its failed
  * attempt may have half-written, so retries cannot duplicate index rows.
  * The pruning key (bucket / cell) stays the OUTER partition column, so
  * probe-time partition pruning is unchanged.
  *
  * An index should be maintained either by one streaming query (whose
  * checkpointed batch ids are unique and monotone) or by SERIAL ad-hoc
  * batch appends. Default batch-id allocation (max-existing + 1) is a
  * non-atomic filesystem read-modify-write: TWO CONCURRENT appends with
  * `batchId = None` can pick the same id, and the later dynamic
  * overwrite silently replaces the earlier one's rows. Concurrent
  * backfills must pass EXPLICIT, distinct batch ids; interleaving a
  * stream with ad-hoc appends has the same hazard.
  */
private[graft] object IndexLayout {

  /** Batch id of the base (non-incremental) build. */
  val BaseBatch = -1L

  /** Open the engine table at `dir`: the same columns, types and rows as
    * `spark.read.parquet(dir)`, without the one-task job Spark runs to
    * infer the schema of every plain parquet read (its parallel footer
    * merge runs even when `mergeSchema` is off). The data schema is the
    * one Spark wrote into the footer of one data file, read here on the
    * driver; partition columns are still inferred from the paths. With no
    * data file (an empty dir, or one holding only `_SUCCESS`) or no Spark
    * schema in the footer, the table opens with the plain read, so an
    * empty dir still raises its `AnalysisException`.
    *
    * Every table read in the engine's functions and sinks goes through
    * here. Listing the table is unchanged: a level with more subdirs than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) is
    * still listed by a Spark job, as in the plain read.
    */
  def readTable(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, new Path(dir)) match {
      case Some(schema) => spark.read.schema(schema).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  /** The Spark schema in the footer of the first data file under `root`
    * (depth first; names starting with `_` or `.` are skipped, as Spark's
    * own listing skips them), or None.
    */
  private def footerSchema(spark: SparkSession, root: Path): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def firstFile(fs: FileSystem, p: Path): Option[Path] = {
      val (dirs, files) = fs.listStatus(p).toSeq.filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }.partition(_.isDirectory)
      files.headOption.map(_.getPath)
        .orElse(dirs.view.flatMap(d => firstFile(fs, d.getPath)).headOption)
    }
    scala.util.Try {
      firstFile(root.getFileSystem(conf), root).flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey))
        finally reader.close()
      }.map(DataType.fromJson).collect { case s: StructType => s }
    }.toOption.flatten
  }

  /** The footer key Spark's parquet writer stores the row schema under. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Largest `batch=<id>` value present under `root` (searched at depth 1
    * and 2, covering both `batch=N` and `<prune>=K/batch=N` layouts), or
    * [[BaseBatch]] when only the base build exists. Driver-side FS
    * listing, bounded by the number of partition directories.
    */
  def maxBatchId(spark: SparkSession, root: String): Long = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return BaseBatch
    val found = Seq("batch=*", "*/batch=*").flatMap { pat =>
      fs.globStatus(new Path(p, pat)) match {
        case null => Nil
        case sts => sts.toSeq.map(_.getPath.getName.stripPrefix("batch="))
      }
    }
    found.flatMap(s => scala.util.Try(s.toLong).toOption)
      .foldLeft(BaseBatch)(math.max)
  }

  /** Whether `root` holds any `batch=<id>` partition directories (depth
    * 1 or 2). A layout WITHOUT them predates the batch convention: an
    * append into it would write `bucket=K/batch=N` next to flat
    * `bucket=K` files — a mixed-depth partition tree Spark's discovery
    * rejects ("Conflicting directory structures"), bricking every
    * subsequent read of the index. Appenders fail fast on false.
    */
  def hasBatchDirs(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && Seq("batch=*", "*/batch=*").exists { pat =>
      Option(fs.globStatus(new Path(p, pat))).exists(_.nonEmpty)
    }
  }

  /** Persist the index's SHAPE PARAMETERS (band counts, bucket counts,
    * codebook dims ...) as a 1-row table under `<root>/params`, making
    * the layout self-describing: a reader or appender called with
    * DIFFERENT parameters would silently prune the wrong partitions /
    * bucket band keys differently and return wrong results with no
    * error — [[requireParams]] turns that into a loud failure at open
    * time (the `writeBm25Index` stats-table convention, generalized).
    */
  def writeParams(spark: SparkSession, root: String, params: Map[String, Long]): Unit = {
    import spark.implicits._
    params.toSeq.sortBy(_._1).toDF("param", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/params")
  }

  /** Fail loudly if `<root>/params` exists and disagrees with `expected`.
    * A layout without a params table (pre-convention build) is accepted
    * as-is — the caller's arguments are then the only source of truth.
    */
  def requireParams(spark: SparkSession, root: String, expected: Map[String, Long]): Unit = {
    val p = new Path(s"$root/params")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val stored = readTable(spark, s"$root/params")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val diff = expected.filter { case (k, v) => stored.get(k).exists(_ != v) }
      val built = diff.keys.map(k => k -> stored(k)).toMap
      require(diff.isEmpty,
        s"index at $root was built with $built, " +
          s"but caller passed $diff — results would be silently wrong")
    }
  }

  /** One stored shape parameter from `<root>/params`, when present. */
  def readParam(spark: SparkSession, root: String, key: String): Option[Long] = {
    val p = new Path(s"$root/params")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else readTable(spark, p.toString)
      .collect().collectFirst {
        case r if r.getString(0) == key => r.getLong(1)
      }
  }

  /** Largest batch id CONSUMED by a compaction under `markerRoot`
    * (`compacted/through=<id>` dirs; [[Long.MinValue]]-free None when
    * never compacted). Appenders refuse ids at or below it: a replayed
    * pre-compaction micro-batch would re-write `batch=<id>` partitions
    * whose rows already live in the compacted batch — silent
    * duplication. Multiple markers (a crashed marker rotation) resolve
    * to the max — the conservative bound.
    */
  def compactedThrough(spark: SparkSession, markerRoot: String): Option[Long] = {
    val fs = new Path(markerRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(s"$markerRoot/through=*")))
      .map(_.toSeq.flatMap(s =>
        scala.util.Try(s.getPath.getName.stripPrefix("through=").toLong).toOption))
      .filter(_.nonEmpty).map(_.max)
  }

  /** The batch id an append or maintainer batch lands under: `explicit`,
    * else one above the largest `batch=<id>` under `root`
    * ([[maxBatchId]]). An id at or below the compaction bound under
    * `markerRoot` ([[compactedThrough]]) is refused: its rows already
    * live in the compacted batch, so landing it again would silently
    * duplicate them. `compaction` names the compaction in the message.
    */
  private[functions] def allocateBatchId(
      spark: SparkSession,
      explicit: Option[Long],
      root: String,
      markerRoot: String,
      compaction: String): Long = {
    val id = explicit.getOrElse(maxBatchId(spark, root) + 1)
    compactedThrough(spark, markerRoot).foreach(t => require(id > t,
      s"batch $id was consumed by a $compaction (through=$t) — a replay " +
        "here would duplicate its rows; writes must resume above it"))
    id
  }

  /** Record `through` as the compaction bound (rotate: write the new
    * marker BEFORE removing older ones, so the guard never lapses).
    */
  private[graft] def writeCompactedThrough(
      spark: SparkSession, markerRoot: String, through: Long): Unit = {
    val fs = new Path(markerRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$markerRoot/through=$through"))
    Option(fs.globStatus(new Path(s"$markerRoot/through=*"))).foreach(_.foreach { s =>
      val v = scala.util.Try(
        s.getPath.getName.stripPrefix("through=").toLong).toOption
      if (v.exists(_ != through)) { fs.delete(s.getPath, true); () }
    })
  }

  /** Collapse a batch-partitioned index table's `batch=*` tree into ONE
    * batch (`toBatch`) via a STAGED SWAP — the lifecycle operator the
    * idempotent-append layout needs at 100 TB: a year of micro-batches
    * is thousands of `batch=` dirs per bucket/cell, and partition
    * discovery + open cost grow with every one. `keep` filters the rows
    * that survive (e.g. committed batches only — a crashed append's
    * orphans are reclaimed here); `repartitionCols`/`targetFiles` shape
    * the output (one file per prune partition is the usual goal).
    *
    * STOP-THE-WORLD: quiesce appenders/searchers for the swap window.
    * Crash safety is a deterministic RESUME, not atomicity: the merged
    * table is fully staged (with `_SUCCESS`) BEFORE the live dir is
    * touched; a crash between the delete and the rename leaves the
    * staging complete and the live dir absent, which the next call (or
    * [[resumeCompaction]]) detects and finishes with the rename alone.
    * A stale staging from a crash BEFORE the swap is rebuilt wholesale.
    */
  private[graft] def compactTable(
      spark: SparkSession,
      tableDir: String,
      partCols: Seq[String],
      toBatch: Long,
      keep: DataFrame => DataFrame,
      repartitionCols: Seq[String],
      targetFiles: Int): Unit = {
    require(partCols.lastOption.contains("batch"),
      "compactTable expects a batch-terminated partition layout")
    // a resumed swap IS the completed compaction — unlike the rebuilds,
    // there is nothing fresher to derive, so return
    if (resumeCompaction(spark, tableDir)) return
    val rows = keep(readTable(spark, tableDir))
      .drop("batch").withColumn("batch", lit(toBatch))
    val shaped =
      if (repartitionCols.isEmpty) rows.repartition(targetFiles)
      else rows.repartition(targetFiles, repartitionCols.map(col): _*)
    // ONE copy of the swap protocol (r17 review): the fold rides the
    // same stage/require-_SUCCESS/delete/rename as the rebuilds; the
    // staging write lazily reads the still-intact live table
    stageAndSwap(spark, tableDir)(staging =>
      shaped.write.partitionBy(partCols: _*).parquet(staging))
  }

  /** Stage a complete REPLACEMENT table and swap it in via the same
    * delete-then-rename protocol as [[compactTable]] — shared by the
    * rebuild operators, which re-derive contents from a corpus rather
    * than fold the stored table. Crash rules identical: the staging dir
    * is fully written (with `_SUCCESS`) before the live dir is touched;
    * a crash between the delete and the rename is finished by
    * [[resumeCompaction]] (or the next call here), and a stale pre-swap
    * staging is rebuilt wholesale. STOP-THE-WORLD for the swap window,
    * like every lifecycle operator of the index family.
    */
  private[graft] def stageAndSwap(
      spark: SparkSession, tableDir: String)(
      writeStaging: String => Unit): Unit = {
    val live = new Path(tableDir)
    val staging = new Path(tableDir + ".compacting")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // finish an interrupted predecessor's swap first — then rebuild
    // anyway: the caller is asking for a FRESH derivation, and contents
    // are deterministic in (corpus, params), so a rerun is idempotent
    resumeCompaction(spark, tableDir)
    require(fs.exists(live), s"no index table at $tableDir")
    fs.delete(staging, true)
    writeStaging(staging.toString)
    require(fs.exists(new Path(staging, "_SUCCESS")),
      s"staging write at $staging left no _SUCCESS marker")
    fs.delete(live, true)
    require(fs.rename(staging, live),
      s"rename $staging -> $live failed; staging holds the full table")
    ()
  }

  /** Finish a compaction swap interrupted between its delete and its
    * rename (live dir absent, staging complete). Returns true when a
    * resume happened. Safe to call any time.
    */
  def resumeCompaction(spark: SparkSession, tableDir: String): Boolean = {
    val live = new Path(tableDir)
    val staging = new Path(tableDir + ".compacting")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(new Path(staging, "_SUCCESS"))) {
      require(fs.rename(staging, live),
        s"resume rename $staging -> $live failed")
      true
    } else false
  }

  /** Write `df` into `path` replacing only the partitions present in
    * `df` — the idempotent append primitive, and the one dynamic
    * partition overwrite of the engine. The mode rides this write's
    * options, never the session conf, so no concurrent write on the
    * session sees it.
    */
  def overwriteBatchPartitions(df: DataFrame, path: String, partCols: Seq[String]): Unit = {
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path)
  }

  /** Copy-on-write rewrite of the partitions of the table at `dir` whose
    * `partCols` values are in `keys` (string forms, `partCols` order) —
    * the one write path of every maintained partitioned table (lake
    * deletes, partitioned count and upsert state, graph edge logs):
    *  1. prune `table` to exactly the affected tuples ([[affectedSlice]]);
    *  2. pin `rewrite(slice)`, the rows that replace them (Spark refuses
    *     to overwrite a path the running plan still reads);
    *  3. one collect counts the pinned rows per tuple;
    *  4. when any are left, ONE dynamic overwrite
    *     ([[overwriteBatchPartitions]]) replaces the tuples they hold;
    *  5. the dirs of affected tuples left with no rows are deleted
    *     (dynamic overwrite cannot express "write nothing").
    * Untouched partitions are never opened for write and stay
    * byte-identical. `table` is the caller's open relation over `dir`
    * ([[readTable]]), None while `dir` holds no rows yet; `rewrite` then
    * gets None for the slice. Partition values must round-trip through
    * their string form. NOT crash-atomic: a failure inside 4 or between
    * 4 and 5 leaves affected partitions half-rewritten (untouched ones
    * are never at risk); each caller's commit marker, written after
    * this returns, is what a replay checks.
    *
    * Returns the row count of every affected tuple that still holds rows.
    */
  private[graft] def rewritePartitions(
      spark: SparkSession,
      dir: String,
      partCols: Seq[String],
      keys: Seq[Seq[String]],
      table: Option[DataFrame])(
      rewrite: Option[DataFrame] => DataFrame): Map[Seq[String], Long] =
    if (keys.isEmpty) Map.empty
    else Checkpoints.scoped { // releases the pin once the rewrite is done
      val rows = rewrite(table.map(affectedSlice(_, partCols, keys))).checkpointed()
      // counted per pinned partition and merged on the driver: one job
      // and no shuffle, where a groupBy collect runs two
      val n = partCols.length
      val live = rows.select(partCols.map(c => col(c).cast("string")): _*).rdd
        .mapPartitions { it =>
          val counts = mutable.Map.empty[Seq[String], Long].withDefaultValue(0L)
          it.foreach(r => counts(Seq.tabulate(n)(r.getString)) += 1L)
          counts.iterator
        }
        .collect() // bounded by pinned partitions x affected tuples
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (live.nonEmpty) overwriteBatchPartitions(rows, dir, partCols)
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // dir names escaped as the writer escapes them (`50%` is `50%25`)
      keys.filterNot(live.contains).foreach { k =>
        fs.delete(new Path(dir, partCols.zip(k).map { case (c, v) =>
          ExternalCatalogUtils.getPartitionPathString(c, v) }.mkString("/")), true)
      }
      live
    }

  /** The rows of `table` in the partitions `keys` names: per-column
    * `isin` prunes directories at the scan, and an exact tuple filter
    * keeps sibling partitions that share a coarse value out (they must
    * stay byte-identical). A tuple set larger than
    * [[graft.sinks.Lake.MaxInlineIds]] rides a broadcast semi-join,
    * never plan text.
    */
  private[graft] def affectedSlice(
      table: DataFrame, partCols: Seq[String], keys: Seq[Seq[String]]): DataFrame = {
    val Sep = "\u0001" // non-printing separator: ("1","12") vs ("11","2") must not collide
    val keyCol = concat_ws(Sep, partCols.map(c => col(c).cast("string")): _*)
    val keyStrs = keys.map(_.mkString(Sep))
    val pruned = table.where(partCols.zipWithIndex.map { case (c, i) =>
      col(c).cast("string").isin(keys.map(_(i)).distinct: _*)
    }.reduce(_ && _))
    if (keyStrs.length <= graft.sinks.Lake.MaxInlineIds) pruned.where(keyCol.isin(keyStrs: _*))
    else {
      import table.sparkSession.implicits._
      pruned.join(broadcast(keyStrs.toDF("__k")), keyCol === col("__k"), "left_semi")
    }
  }
}
