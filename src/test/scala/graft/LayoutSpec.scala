package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Data-layout proofs for the 100 TB story: a date-partitioned lake layout
  * must turn a date predicate into PARTITION PRUNING (skip whole
  * directories at planning time), not a full scan + filter. Complements
  * `BucketingSpec` (shuffle-free co-located joins) and `PlanSpec`
  * (PushedFilters/ReadSchema row-group pushdown on the shipped queries).
  */
class LayoutSpec extends SparkSpec {

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))

  test("date-partitioned writes prune partitions at the scan") {
    val dir = tempDir("graft-layout").toString
    spark.range(10000)
      .select(col("id"),
        concat(lit("2024-01-"), lpad((col("id") % 10 + 1).cast("string"), 2, "0"))
          .as("day"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("day") === "2024-01-03")
    val full = spark.read.parquet(dir)

    // the day predicate becomes a partition filter, not a data filter
    assert(scanOf(pruned).partitionFilters.nonEmpty,
      "day predicate must prune partitions at plan time")

    // and the pruned scan physically reads ~1/10 of the files
    pruned.collect(); full.collect()
    val prunedFiles = scanOf(pruned).metrics("numFiles").value
    val fullFiles = scanOf(full).metrics("numFiles").value
    assert(prunedFiles > 0 && prunedFiles * 5 <= fullFiles,
      s"expected <=1/5 of files read, got $prunedFiles of $fullFiles")
  }

  test("deleteByIds rewrites only affected partitions, drops emptied ones") {
    val dir = tempDir("graft-del").toString
    // 10 days x 100 rows; day 2024-01-10 will be emptied entirely
    spark.range(1000)
      .select(col("id"),
        concat(lit("2024-01-"), lpad((col("id") % 10 + 1).cast("string"), 2, "0"))
          .as("day"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)

    def filesOf(day: String): Map[String, Long] = {
      val d = new java.io.File(s"$dir/day=$day")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = (1 to 10).map(i => f"2024-01-$i%02d").map(d => d -> filesOf(d)).toMap

    // ids ending in 9 live in day 10; delete all of day 10 + two rows of day 3
    val day10 = (0L until 1000L).filter(_ % 10 == 9)
    val targets = day10 ++ Seq(2L, 12L) // 2,12 -> day 03
    val stats = graft.sinks.Lake.deleteByIds(spark, dir, "day", "id", targets)

    assert(stats.rowsDeleted === 102L)
    assert(stats.partitionsRewritten === 2L)
    assert(stats.partitionsEmptied === 1L)
    assert(stats.partitionsUntouched === 8L)

    val after = spark.read.parquet(dir)
    assert(after.count() === 898L)
    assert(after.where(col("day") === "2024-01-10").count() === 0L)
    assert(!new java.io.File(s"$dir/day=2024-01-10").exists(),
      "fully-emptied partition directory must be dropped")
    assert(after.where(col("id").isin(2L, 12L)).count() === 0L)
    assert(after.where(col("day") === "2024-01-03").count() === 98L)

    // the 8 untouched partitions keep their exact files (same names+mtimes)
    (1 to 10).filterNot(i => i == 3 || i == 10).map(i => f"2024-01-$i%02d")
      .foreach { d =>
        assert(filesOf(d) === before(d), s"partition $d must be untouched")
      }
    assert(filesOf("2024-01-03") !== before("2024-01-03"))
  }

  test("deleteMatchingNested (join form) and deleteWhere match the isin form") {
    import spark.implicits._
    def mkLake(): String = {
      val dir = tempDir("graft-del2").toString
      spark.range(400)
        .select(col("id"), (col("id") % 4).cast("string").as("day"))
        .write.mode("overwrite").partitionBy("day").parquet(dir)
      dir
    }
    val targets = (0L until 400L).filter(i => i % 4 == 1 || i == 2)

    val viaJoin = mkLake()
    val s1 = graft.sinks.Lake.deleteMatchingNested(spark, viaJoin, Seq("day"), "id",
      targets.toDF("id"))
    val viaPred = mkLake()
    val s2 = graft.sinks.Lake.deleteWhere(spark, viaPred, "day",
      col("id") % 4 === 1 || col("id") === 2)

    assert(s1 === s2)
    assert(s1.rowsDeleted === 101L && s1.partitionsEmptied === 1L)
    val a = spark.read.parquet(viaJoin).orderBy("id").as[(Long, String)].collect().toSeq
    val b = spark.read.parquet(viaPred).orderBy("id").as[(Long, String)].collect().toSeq
    assert(a === b && a.length === 299)
    assert(!new java.io.File(s"$viaJoin/day=1").exists())
  }

  test("deleteWhere keeps NULL-predicate rows (SQL DELETE semantics)") {
    val dir = tempDir("graft-del3").toString
    // two partitions; day=1 contains two NULL-id rows (7,9 nulled) that
    // any id-based predicate evaluates to NULL on — and day=1 IS rewritten
    // by this delete. DELETE WHERE semantics: NULL is not a match, so
    // those rows must SURVIVE the rewrite and not be counted as deleted.
    spark.range(100)
      .select(when(col("id").isin(7L, 9L), lit(null)).otherwise(col("id")).as("id"),
        (col("id") % 2).cast("string").as("day"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)

    // ids 1,3,5 hit day=1 (where the NULLs live); id 2 hits day=0
    val stats = graft.sinks.Lake.deleteWhere(spark, dir, "day",
      col("id").isin(1L, 2L, 3L, 5L))
    assert(stats.rowsDeleted === 4L)
    assert(stats.partitionsRewritten === 2L)

    val after = spark.read.parquet(dir)
    assert(after.count() === 96L, "only the 4 matched rows may disappear")
    assert(after.where(col("id").isNull).count() === 2L,
      "NULL-id rows in rewritten partitions must survive")

    // and the isin fast path of deleteByIds (<= MaxInlineIds) agrees
    val dir2 = tempDir("graft-del4").toString
    spark.range(100)
      .select(when(col("id").isin(7L, 9L), lit(null)).otherwise(col("id")).as("id"),
        (col("id") % 2).cast("string").as("day"))
      .write.mode("overwrite").partitionBy("day").parquet(dir2)
    val s2 = graft.sinks.Lake.deleteByIds(spark, dir2, "day", "id", Seq(1L, 2L, 3L, 5L))
    assert(s2.rowsDeleted === 4L)
    assert(spark.read.parquet(dir2).where(col("id").isNull).count() === 2L)
  }

  test("deleteWhere drops an emptied partition whose dir name Spark escaped") {
    val dir = tempDir("graft-del5").toString
    spark.range(20)
      .select(col("id"), when(col("id") < 10, lit("50%")).otherwise(lit("a:b")).as("day"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    // the writer escapes '%' and ':' in partition dir names
    assert(new java.io.File(s"$dir/day=50%25").isDirectory)
    assert(new java.io.File(s"$dir/day=a%3Ab").isDirectory)
    // every row of "50%" dies, two of "a:b"
    val stats = graft.sinks.Lake.deleteWhere(spark, dir, "day", col("id") < 12)
    assert(stats.rowsDeleted === 12L)
    assert(stats.partitionsEmptied === 1L)
    assert(!new java.io.File(s"$dir/day=50%25").exists(),
      "the emptied partition's dir must be dropped")
    val after = spark.read.parquet(dir)
    assert(after.count() === 8L)
    assert(after.where(col("day") === "a:b").count() === 8L)
  }

  test("compactPartitions shrinks file count without changing rows") {
    val dir = tempDir("graft-compact").toString
    // simulate a micro-batch sink: 16 writer tasks -> 16 files per partition
    spark.range(2000).repartition(16)
      .select(col("id"), (col("id") % 2).cast("string").as("day"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    def nFiles(day: String): Int =
      new java.io.File(s"$dir/day=$day").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(nFiles("0") > 4)
    val beforeRows = spark.read.parquet(dir).orderBy("id").collect().toSeq

    graft.sinks.Lake.compactPartitions(spark, dir, "day", Seq("0"), filesPerPartition = 2)

    assert(nFiles("0") <= 2 && nFiles("0") >= 1, s"day=0 got ${nFiles("0")} files")
    assert(nFiles("1") > 4, "unnamed partition must keep its layout")
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq === beforeRows)
  }

  test("non-partition predicates still push to the parquet reader") {
    val dir = tempDir("graft-layout2").toString
    spark.range(10000)
      .select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(dir)
    val filtered = spark.read.parquet(dir).filter(col("k") === 3)
    val scan = scanOf(filtered)
    assert(scan.dataFilters.nonEmpty, "k predicate must reach the scan")
    assert(scan.metadata.get("PushedFilters").exists(_.contains("EqualTo")),
      s"k predicate must push into the parquet reader: ${scan.metadata}")
  }
}
