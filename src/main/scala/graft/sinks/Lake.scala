package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{Checkpoints, IndexLayout}
import graft.functions.Checkpoints.Owned

/** Lake-maintenance operators for a partitioned parquet corpus: targeted
  * (GDPR-style) deletion and small-file compaction, both copy-on-write
  * and PARTITION-SCOPED — only directories that actually contain affected
  * rows are ever read fully or rewritten, which is the property that makes
  * these operations feasible on a 100 TB lake (the delete set is typically
  * a few thousand ids; rewriting the whole corpus for that is not a plan).
  *
  * This is the same shape Delta/Iceberg implement as copy-on-write
  * `DELETE`, expressed over plain partitioned parquet:
  *   1. locate affected partitions with a scan whose id predicate pushes
  *      into the parquet reader (row-group stats + dictionary skip the
  *      untouched ones cheaply);
  *   2. re-read ONLY those partitions (partition-pruned scan) minus the
  *      deleted rows;
  *   3. overwrite ONLY those partitions (dynamic partition overwrite);
  *      untouched partition directories are never opened for write.
  *
  * NOT crash-atomic, unlike Delta/Iceberg's snapshot-commit DELETE:
  * dynamic partition overwrite clears each affected directory before
  * rewriting it, and emptied-partition directories are removed after the
  * write. A failure mid-operation can leave affected partitions truncated
  * or partially rewritten (untouched partitions are never at risk).
  * Snapshot or back up affected partitions before an irreversible
  * (GDPR-style) delete; a transactional table format is the right tool
  * when crash-atomicity is a hard requirement.
  *
  * No counterpart in the reference (batch lake maintenance is out of its
  * streaming scope) — beyond-reference training-data-pipeline surface.
  */
object Lake {

  /** Outcome of a [[deleteByIds]]: rows removed, partitions rewritten
    * (of which `partitionsEmptied` ended with zero rows and had their
    * directories dropped), and partitions left untouched on disk.
    */
  final case class DeleteStats(
      rowsDeleted: Long,
      partitionsRewritten: Long,
      partitionsEmptied: Long,
      partitionsUntouched: Long)

  /** Copy-on-write delete of `ids` from the lake at `dir` (partitioned by
    * string column `partCol`, id column `idCol`).
    *
    * Up to [[MaxInlineIds]] the ids ride the plan as an `isin` literal
    * list — the predicate pushes into the parquet reader, so untouched
    * partitions cost row-group stats only. A larger delete set (a real
    * GDPR batch can be millions of ids) would bloat the plan itself, so
    * it switches to [[deleteMatching]]'s broadcast-join form.
    */
  def deleteByIds(
      spark: SparkSession,
      dir: String,
      partCol: String,
      idCol: String,
      ids: Seq[Long]): DeleteStats =
    if (ids.length <= MaxInlineIds)
      deleteWhere(spark, dir, partCol, col(idCol).isin(ids: _*))
    else {
      import spark.implicits._
      deleteMatching(spark, dir, partCol, idCol, ids.toDF(idCol))
    }

  /** Ids above this count go through the join path instead of plan-literal
    * `isin` (a million-literal predicate is its own scalability bug).
    */
  val MaxInlineIds = 10000

  /** [[deleteByIds]] with the delete set as a DataFrame (one `idCol`
    * column) — the form that scales to arbitrarily large delete sets:
    * hits are located with a broadcast LEFT SEMI join, survivors with a
    * broadcast LEFT ANTI join, so the delete set never becomes plan text
    * and never shuffles the lake.
    */
  def deleteMatching(
      spark: SparkSession,
      dir: String,
      partCol: String,
      idCol: String,
      ids: org.apache.spark.sql.DataFrame): DeleteStats =
    deleteImpl(spark, dir, partCol,
      hitOf = lake => lake.join(broadcast(ids), Seq(idCol), "left_semi"),
      surviveOf = slice => slice.join(broadcast(ids), Seq(idCol), "left_anti"))

  /** Copy-on-write delete of every row matching `predicate` — the general
    * form (`deleteWhere(..., col("user_id") === 42)`, retention cutoffs,
    * etc.); only partitions containing a match are rewritten.
    *
    * The survivors of affected partitions are localCheckpoint'd before the
    * overwrite: Spark (correctly) refuses to overwrite a path that is
    * still an input of the plan being executed, and the checkpoint
    * materializes exactly the affected slice — the copy-on-write cost
    * floor any engine pays for this operation. A partition whose every
    * row dies cannot be expressed by dynamic overwrite (there is nothing
    * to write), so its directory is removed directly.
    *
    * NULL predicate results count as NOT matched (SQL `DELETE WHERE`
    * semantics): a row whose predicate evaluates to NULL — e.g. a NULL id
    * under an `isin` delete list — SURVIVES. Without the `coalesce`,
    * such rows would fail both `where(p)` and `where(!p)` and silently
    * vanish from every rewritten partition without being counted.
    */
  def deleteWhere(
      spark: SparkSession,
      dir: String,
      partCol: String,
      predicate: org.apache.spark.sql.Column): DeleteStats = {
    val hit = coalesce(predicate, lit(false))
    deleteImpl(spark, dir, partCol,
      hitOf = _.where(hit), surviveOf = _.where(!hit))
  }

  private def deleteImpl(
      spark: SparkSession,
      dir: String,
      partCol: String,
      hitOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      surviveOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : DeleteStats = {
    // partition values travel as strings throughout (partition discovery
    // may have type-inferred the column to date/int; directory names are
    // its string form either way)
    val lake = IndexLayout.readTable(spark, dir)
    val allParts = lake.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0))

    // 1. locate affected partitions
    val hits = hitOf(lake)
      .groupBy(col(partCol).cast("string").as(partCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (hits.isEmpty)
      return DeleteStats(0L, 0L, 0L, allParts.length.toLong)

    val affected = hits.keys.toSeq
    val rowsDeleted = hits.values.sum

    // 2. partition-pruned re-read of the affected slice, minus the dead rows
    val survivors = surviveOf(
      lake.where(col(partCol).cast("string").isin(affected: _*)))
      .checkpointed()

    val perPart = survivors
      .groupBy(col(partCol).cast("string").as(partCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val emptied = affected.filterNot(perPart.contains)

    // 3. dynamic partition overwrite touches only partitions present in
    //    the written frame; the untouched directories keep their files
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      survivors.write.mode("overwrite").partitionBy(partCol).parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }

    // fully-emptied partitions have nothing to overwrite with: drop them
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    emptied.foreach { p =>
      fs.delete(new Path(dir, s"$partCol=$p"), true)
    }

    DeleteStats(rowsDeleted, affected.length.toLong, emptied.length.toLong,
      (allParts.length - affected.length).toLong)
  }

  /** Copy-on-write delete from a MULTI-LEVEL partitioned layout — the
    * [[deleteMatching]] discipline generalized to the materialized index
    * families' nested trees (`bucket=K/batch=N`, `cell=K/batch=N`):
    * remove every row whose `idCol` value appears in `ids` (a one-column
    * DataFrame), rewriting ONLY partition directories that actually held
    * a matching row. Untouched directories are never opened for write
    * (byte-identical after the call — spec-pinned), fully-emptied
    * directories are dropped, and re-running the same delete is a
    * natural no-op (discovery finds no matching rows → zero rewrites).
    *
    * Discovery is one scan with the id predicate as a broadcast
    * LEFT SEMI join (pushes nothing into parquet, but reads only the id
    * column + partition values); the rewrite re-reads ONLY the affected
    * directories (per-column `isin` partition pruning + an exact
    * partition-tuple filter so sibling partitions sharing a coarse value
    * are not rewritten). Partition values must round-trip through their
    * string form (the numeric bucket/cell/batch columns all do); same
    * crash-atomicity caveat as [[deleteWhere]]. The table is opened
    * ONCE ([[IndexLayout.readTable]]): discovery, the rewrite's pruned
    * re-read and `partitionsUntouched` all use that one relation, the
    * last counted from its file listing (distinct leaf dirs of its
    * input files), not by a job.
    *
    * OPERATING RULE (measured, SCALING "Delete-family pricing"): the
    * discovery scan is the
    * corpus-proportional term and EVERY call pays it, while the rewrite
    * is flat per affected fixed-size partition — so N pending deletes
    * batched into ONE call cost one scan where N calls cost N (measured
    * 7x at 10x corpus). Accumulate delete ids and flush them as one
    * frame per maintenance window.
    */
  def deleteMatchingNested(
      spark: SparkSession,
      dir: String,
      partCols: Seq[String],
      idCol: String,
      ids: org.apache.spark.sql.DataFrame): DeleteStats = {
    val lake = IndexLayout.readTable(spark, dir)
    val partStr = partCols.map(c => col(c).cast("string").as(c))
    val hits = lake.join(broadcast(ids), Seq(idCol), "left_semi")
      .groupBy(partStr: _*).agg(count(lit(1)).as("__n"))
      .collect() // bounded by the number of affected partition dirs
    val keys = hits.toSeq.map(r => partCols.map(r.getAs[String]))
    cowDeleteFromPartitions(spark, dir, lake, partCols, idCol, ids, keys,
      rowsDeletedKnown = Some(hits.map(_.getAs[Long]("__n")).sum))
  }

  /** The rewrite half of [[deleteMatchingNested]], with the affected
    * partition-value tuples ALREADY KNOWN (`keys`, string forms in
    * `partCols` order) — lets a caller that resolved the delete set in
    * its own pass (the inverted index's stats protocol) skip the second
    * discovery scan. When `rowsDeletedKnown` is absent the affected
    * slice is counted before and after the anti-join (delete-set-
    * proportional, never corpus-proportional).
    *
    * `lake` is the caller's open relation over `dir`
    * ([[IndexLayout.readTable]]); the rewrite reads its affected slice
    * from it, and `partitionsUntouched` is the number of distinct leaf
    * dirs of its input files (the file listing it already holds) less
    * the affected count, so no job counts the partitions.
    */
  private[graft] def cowDeleteFromPartitions(
      spark: SparkSession,
      dir: String,
      lake: org.apache.spark.sql.DataFrame,
      partCols: Seq[String],
      idCol: String,
      ids: org.apache.spark.sql.DataFrame,
      keys: Seq[Seq[String]],
      rowsDeletedKnown: Option[Long]): DeleteStats = {
    val allParts = lake.inputFiles.map(f => new Path(f).getParent).distinct.length.toLong
    if (keys.isEmpty) return DeleteStats(0L, 0L, 0L, allParts)
    val Sep = "\u0001" // non-printing separator: ("1","12") vs ("11","2") must not collide
    val keyCol = concat_ws(Sep, partCols.map(c => col(c).cast("string")): _*)
    val keyStrs = keys.map(_.mkString(Sep))
    // per-column isin prunes directories at the scan; the exact tuple
    // filter keeps sibling partitions that share a coarse value out of
    // the rewrite (they must stay byte-identical). Tuple sets larger
    // than the inline bound ride as a broadcast semi-join, never plan
    // text (the MaxInlineIds rule applied to partition keys).
    val coarse = partCols.zipWithIndex.map { case (c, i) =>
      col(c).cast("string").isin(keys.map(_(i)).distinct: _*)
    }.reduce(_ && _)
    val pruned = lake.where(coarse)
    val slice =
      if (keyStrs.length <= MaxInlineIds) pruned.where(keyCol.isin(keyStrs: _*))
      else {
        import spark.implicits._
        pruned.join(broadcast(keyStrs.toDF("__k")),
          keyCol === col("__k"), "left_semi")
      }
    // the scope releases the survivor pin once the rewrite is done
    Checkpoints.scoped {
      val survivors = slice.join(broadcast(ids), Seq(idCol), "left_anti")
        .checkpointed()
      val rowsDeleted = rowsDeletedKnown.getOrElse(
        slice.count() - survivors.count())
      val survivorKeys = survivors
        .select(concat_ws(Sep, partCols.map(c => col(c).cast("string")): _*)
          .as("__k"))
        .distinct().collect().map(_.getString(0)).toSet
      val emptied = keys.filterNot(k => survivorKeys(k.mkString(Sep)))
      // a fully-emptied affected set has nothing to overwrite with —
      // skip the write (it would only churn a _SUCCESS at the root)
      if (survivorKeys.nonEmpty)
        survivors.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*).parquet(dir)
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { k =>
        val sub = partCols.zip(k).map { case (c, v) => s"$c=$v" }.mkString("/")
        fs.delete(new Path(dir, sub), true); ()
      }
      DeleteStats(rowsDeleted, keys.length.toLong, emptied.length.toLong,
        allParts - keys.length)
    }
  }

  /** Compact the named partitions of the lake at `dir` down to
    * `filesPerPartition` files each — the maintenance pass every
    * streaming/micro-batch sink needs (each trigger writes a file per
    * task; a day of 1-minute triggers is 1440+ small files whose open
    * cost dominates scans). Rows are untouched; only the file layout
    * changes, and only inside the named partitions.
    */
  /** Z-order key for `cols` (2-4 long-typed dimensions): each column
    * quantizes to an 8-bit bucket over its [min, max] span by a pure
    * RIGHT SHIFT (overflow-free for any long range, integer-exact), and
    * the buckets' bits interleave — bit `i` of every dimension lands at
    * position `i * k + j`, so sorting by the key gives the classic
    * Morton/Z space-filling curve: rows close in EVERY dimension are
    * close in the sort order.
    *
    * `spans` holds one (min, shift) pair per column, from
    * [[zOrderSpans]] — computed once with a 1-row aggregate and passed
    * in as plan literals.
    */
  def zOrderValue(cols: Seq[org.apache.spark.sql.Column],
      spans: Seq[(Long, Int)]): org.apache.spark.sql.Column = {
    require(cols.size >= 2 && cols.size <= 4,
      s"z-order wants 2-4 dimensions, got ${cols.size}")
    require(cols.size == spans.size, "one (min, shift) span per column")
    val k = cols.size
    val buckets = cols.zip(spans).map { case (c, (min, shift)) =>
      least(shiftright(c - lit(min), shift), lit(255L))
    }
    (0 until 8).flatMap { i =>
      buckets.zipWithIndex.map { case (b, j) =>
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ + _)
  }

  /** (min, shift) spans for [[zOrderValue]]: shift is the smallest right
    * shift that maps the column's full [min, max] range into [0, 255].
    */
  def zOrderSpans(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): Seq[(Long, Int)] = {
    val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.indices.map { i =>
      val lo = row.getLong(2 * i)
      val hi = row.getLong(2 * i + 1)
      val range = hi - lo // non-negative; fits a long for any real column
      val shift = math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(range) - 8)
      (lo, shift)
    }
  }

  def compactPartitions(
      spark: SparkSession,
      dir: String,
      partCol: String,
      partitions: Seq[String],
      filesPerPartition: Int): Unit = {
    val raw = IndexLayout.readTable(spark, dir)
      .where(col(partCol).isin(partitions: _*))
    // deterministic salt (row-content hash) splits each partition's rows
    // across exactly filesPerPartition writer tasks
    val salt = pmod(hash(raw.columns.map(col): _*), lit(filesPerPartition))
    val slice = raw
      .repartition(partitions.length * filesPerPartition, col(partCol), salt)
      .checkpointed()
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      slice.write.mode("overwrite").partitionBy(partCol).parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Bucket-clustered write: hash-partition `df` into `numBuckets` files
    * per bucket column value-range and register the layout in the session
    * catalog, so every subsequent equi-join or aggregation on
    * `bucketCols` reads the bucketing metadata and SKIPS ITS SHUFFLE —
    * the co-location contract fact tables on a 100 TB lake are written
    * under once and joined on thousands of times. `sortBy` the same
    * columns so per-bucket files are additionally sort-merged without a
    * sort stage.
    *
    * This is catalog-backed on purpose: plain `parquet(path)` cannot
    * carry bucketing metadata (Spark would re-shuffle on read), so the
    * write goes through `saveAsTable` with an explicit `path` — data
    * lands as ordinary parquet under `path`, readable by any engine; the
    * shuffle-free join is available to sessions that read it AS the
    * table. Both sides of a join must share bucket count and columns
    * (BucketingSpec pins the no-Exchange plan).
    *
    * Scale shape: ONE hash shuffle at write time (the same shuffle the
    * first join would have paid), zero at read time, forever after.
    */
  def writeBucketed(
      df: org.apache.spark.sql.DataFrame,
      table: String,
      path: String,
      bucketCols: Seq[String],
      numBuckets: Int): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed: bucketCols must be non-empty")
    df.write
      .mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Re-attach an EXISTING [[writeBucketed]] layout to a (new) session's
    * catalog without rewriting a byte — the in-memory catalog dies with
    * its SparkContext, but the bucketed files (bucket id encoded in the
    * file names) and their sort order are all on disk; a CREATE TABLE
    * with the same CLUSTERED/SORTED BY spec over the same location
    * restores the exchange-free join property in any later session.
    * `schemaDdl` must match the written schema (e.g. "src BIGINT, dst
    * BIGINT") and `bucketCols`/`numBuckets` the original write's —
    * BucketingSpec pins result equality and the bucketed scan.
    */
  def registerBucketed(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      path: String,
      schemaDdl: String,
      bucketCols: Seq[String],
      numBuckets: Int): Unit = {
    require(bucketCols.nonEmpty, "registerBucketed: bucketCols must be non-empty")
    val bc = bucketCols.mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table ($schemaDdl) USING parquet
         |CLUSTERED BY ($bc) SORTED BY ($bc) INTO $numBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }
}
