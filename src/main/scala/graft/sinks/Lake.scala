package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
    * it switches to [[deleteMatchingNested]]'s broadcast-join form.
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
      deleteMatchingNested(spark, dir, Seq(partCol), idCol, ids.toDF(idCol))
    }

  /** Ids above this count go through the join path instead of plan-literal
    * `isin` (a million-literal predicate is its own scalability bug).
    */
  val MaxInlineIds = 10000

  /** Copy-on-write delete of every row matching `predicate` — the general
    * form (`deleteWhere(..., col("user_id") === 42)`, retention cutoffs,
    * etc.); only partitions containing a match are rewritten. Discovery
    * pushes the predicate into the parquet reader; the rewrite is
    * [[IndexLayout.rewritePartitions]] keeping `!predicate`.
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
      predicate: Column): DeleteStats = {
    val hit = coalesce(predicate, lit(false))
    val lake = IndexLayout.readTable(spark, dir)
    deleteFound(spark, dir, lake, Seq(partCol), lake.where(hit))(_.where(!hit))
  }

  /** Copy-on-write delete from a (possibly MULTI-LEVEL) partitioned
    * layout — the lake's `day=` tree or the materialized index families'
    * nested trees (`bucket=K/batch=N`, `cell=K/batch=N`): remove every
    * row whose `idCol` value appears in `ids` (a one-column DataFrame of
    * any size), rewriting ONLY partition directories that actually held
    * a matching row. Untouched directories are never opened for write
    * (byte-identical after the call — spec-pinned), fully-emptied
    * directories are dropped, and re-running the same delete is a
    * natural no-op (discovery finds no matching rows → zero rewrites).
    *
    * Discovery is one scan with the id predicate as a broadcast
    * LEFT SEMI join (pushes nothing into parquet, but reads only the id
    * column + partition values); the rewrite
    * ([[IndexLayout.rewritePartitions]]) re-reads ONLY the affected
    * directories and keeps a broadcast LEFT ANTI join of them, so the
    * delete set never becomes plan text and never shuffles the table.
    * Same crash-atomicity caveat as the rewrite. The table is opened
    * ONCE ([[IndexLayout.readTable]]): discovery, the rewrite's pruned
    * re-read and `partitionsUntouched` all use that one relation, the
    * last counted from its file listing, not by a job.
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
      ids: DataFrame): DeleteStats = {
    val lake = IndexLayout.readTable(spark, dir)
    deleteFound(spark, dir, lake, partCols, lake.join(broadcast(ids), Seq(idCol), "left_semi"))(
      _.join(broadcast(ids), Seq(idCol), "left_anti"))
  }

  /** The delete once `hits` (the matching rows of `lake`) are known: one
    * collect groups them by partition, giving the affected tuples and
    * the rows deleted, then [[cowDeleteFromPartitions]] keeps `survive`
    * of those partitions.
    */
  private def deleteFound(
      spark: SparkSession,
      dir: String,
      lake: DataFrame,
      partCols: Seq[String],
      hits: DataFrame)(
      survive: DataFrame => DataFrame): DeleteStats = {
    val found = hits.groupBy(partCols.map(c => col(c).cast("string").as(c)): _*)
      .agg(count(lit(1)).as("__n"))
      .collect() // bounded by the number of affected partition dirs
    cowDeleteFromPartitions(spark, dir, lake, partCols,
      found.toSeq.map(r => partCols.map(r.getAs[String])),
      rowsDeleted = Some(found.map(_.getAs[Long]("__n")).sum))(survive)
  }

  /** The rewrite half of a delete, with the affected partition-value
    * tuples ALREADY KNOWN (`keys`, string forms in `partCols` order) —
    * lets a caller that resolved the delete set in its own pass (the
    * inverted index's stats protocol) skip the second discovery scan.
    * The partitions rewrite through [[IndexLayout.rewritePartitions]]
    * keeping `survive` of their rows. When `rowsDeleted` is absent the
    * affected slice is counted before the rewrite (delete-set-
    * proportional, never corpus-proportional) and the survivors come
    * from the rewrite's own per-partition counts.
    *
    * `lake` is the caller's open relation over `dir`
    * ([[IndexLayout.readTable]]); `partitionsUntouched` is the number of
    * distinct leaf dirs of its input files (the file listing it already
    * holds) less the affected count, so no job counts the partitions.
    */
  private[graft] def cowDeleteFromPartitions(
      spark: SparkSession,
      dir: String,
      lake: DataFrame,
      partCols: Seq[String],
      keys: Seq[Seq[String]],
      rowsDeleted: Option[Long])(
      survive: DataFrame => DataFrame): DeleteStats = {
    val allParts = lake.inputFiles.map(f => new Path(f).getParent).distinct.length.toLong
    val before =
      if (rowsDeleted.isDefined || keys.isEmpty) 0L
      else IndexLayout.affectedSlice(lake, partCols, keys).count()
    val live = IndexLayout.rewritePartitions(spark, dir, partCols, keys, Some(lake))(
      slice => survive(slice.get))
    DeleteStats(rowsDeleted.getOrElse(before - live.values.sum), keys.length.toLong,
      keys.count(k => !live.contains(k)).toLong, allParts - keys.length)
  }

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
  def zOrderValue(cols: Seq[Column],
      spans: Seq[(Long, Int)]): Column = {
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
  def zOrderSpans(df: DataFrame,
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

  /** Compact the named partitions of the lake at `dir` down to
    * `filesPerPartition` files each — the maintenance pass every
    * streaming/micro-batch sink needs (each trigger writes a file per
    * task; a day of 1-minute triggers is 1440+ small files whose open
    * cost dominates scans). Rows are untouched; only the file layout
    * changes, and only inside the named partitions, through one dynamic
    * overwrite ([[IndexLayout.overwriteBatchPartitions]]).
    */
  def compactPartitions(
      spark: SparkSession,
      dir: String,
      partCol: String,
      partitions: Seq[String],
      filesPerPartition: Int): Unit = Checkpoints.scoped {
    val raw = IndexLayout.readTable(spark, dir)
      .where(col(partCol).isin(partitions: _*))
    // deterministic salt (row-content hash) splits each partition's rows
    // across exactly filesPerPartition writer tasks
    val salt = pmod(hash(raw.columns.map(col): _*), lit(filesPerPartition))
    // pinned: the overwrite replaces the partitions this plan reads
    val slice = raw
      .repartition(partitions.length * filesPerPartition, col(partCol), salt)
      .checkpointed()
    IndexLayout.overwriteBatchPartitions(slice, dir, Seq(partCol))
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
      df: DataFrame,
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
