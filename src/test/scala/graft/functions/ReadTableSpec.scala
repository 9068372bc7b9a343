package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame}

import graft.SparkSpec

/** [[IndexLayout.readTable]] opens every table the engine writes with the
  * columns, types and rows of a plain `spark.read.parquet`, and runs no
  * Spark job doing it. The layouts keep each directory level under
  * Spark's parallel-listing threshold (32 subdirs), above which the
  * listing itself is a job, in the opener and the plain read alike.
  */
class ReadTableSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (0L until 60L).map { i =>
    i -> Seq.tabulate(6 + (i % 5).toInt)(k => s"w${(i * 7 + k * 3) % 23}").mkString(" ")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The opener's frame equals the plain read's, and opening starts no job. */
  private def assertOpensLikePlainRead(dir: String): Unit = {
    val (opened, jobs) = jobsDuring(IndexLayout.readTable(spark, dir))
    assert(jobs === 0, s"opening $dir started $jobs job(s)")
    val plain = spark.read.parquet(dir)
    assert(opened.schema === plain.schema, dir)
    val got = rows(opened)
    assert(got.nonEmpty, s"$dir holds no rows: the fixture lost its table")
    assert(got === rows(plain), dir)
  }

  test("the listener sees the plain read's schema-inference job") {
    val dir = tempDir("graft-rt-plain").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val (_, jobs) = jobsDuring(spark.read.parquet(dir))
    assert(jobs >= 1, "a plain parquet read infers its schema in a job")
  }

  test("LSH bands, shingles and params open like the plain read, with no job") {
    val lsh = tempDir("graft-rt-lsh").toString
    val all = docs.toDF("doc_id", "text")
    Dedup.writeLshIndex(all.filter($"doc_id" < 40), "text", "doc_id", lsh,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 8)
    Dedup.appendToLshIndex(all.filter($"doc_id" >= 40), "text", "doc_id", lsh,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 8, batchId = Some(0L))
    Seq("bands", "shingles", "params").foreach(t => assertOpensLikePlainRead(s"$lsh/$t"))
  }

  test("BM25 postings, stats, deletes/ and params open like the plain read, with no job") {
    val bm25 = tempDir("graft-rt-bm25").toString
    val all = docs.toDF("doc_id", "text")
    TextAnalysis.writeInvertedIndex(all.filter($"doc_id" < 40), "text", "doc_id", bm25,
      buckets = 8)
    TextAnalysis.appendToInvertedIndex(all.filter($"doc_id" >= 40), "text", "doc_id", bm25,
      buckets = 8, batchId = Some(0L))
    val stats = TextAnalysis.deleteFromInvertedIndex(spark, Seq(3L, 41L, 42L), bm25)
    assert(stats.rowsDeleted > 0L)
    val deletes = new java.io.File(s"$bm25/deletes").listFiles().filter(_.isDirectory)
    assert(deletes.length === 1, "the delete persisted no resolution")
    (Seq("postings", "stats", "params").map(t => s"$bm25/$t") :+ deletes.head.toString)
      .foreach(assertOpensLikePlainRead)
  }

  test("a BM25 index with string doc_ids opens like the plain read, with no job") {
    val bm25 = tempDir("graft-rt-bm25s").toString
    TextAnalysis.writeInvertedIndex(
      docs.map { case (i, t) => (s"doc-$i", t) }.toDF("doc_id", "text"),
      "text", "doc_id", bm25, buckets = 8)
    assertOpensLikePlainRead(s"$bm25/postings")
    assert(IndexLayout.readTable(spark, s"$bm25/postings").schema("doc_id").dataType ===
      org.apache.spark.sql.types.StringType)
    assertOpensLikePlainRead(s"$bm25/stats")
  }

  test("a dir with no data file raises the plain read's AnalysisException") {
    val empty = tempDir("graft-rt-empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    Files.createDirectory(empty.resolve(".hidden"))
    val missing = empty.resolve("absent").toString
    Seq(empty.toString, missing).foreach { dir =>
      val plain = intercept[AnalysisException](spark.read.parquet(dir))
      val opened = intercept[AnalysisException](IndexLayout.readTable(spark, dir))
      assert(opened.getCondition === plain.getCondition, dir)
      assert(opened.getMessage === plain.getMessage, dir)
    }
  }
}
