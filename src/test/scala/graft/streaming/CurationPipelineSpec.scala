package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.Dedup

/** The streaming-curation capstone's exactly-once story, end to end:
  *
  *   1. a run that CRASHES mid-stream and restarts from its checkpoint
  *      must converge to byte-identical outputs (kept corpus, dup log,
  *      LSH index, metric totals) as a run that never crashed; and
  *   2. replaying one micro-batch with the same batch id (foreachBatch's
  *      at-least-once contract) must leave every output unchanged.
  */
class CurationPipelineSpec extends SparkSpec {

  private val tpl1 = "the quick brown fox jumps over the lazy dog again and again today"
  private val tpl2 = "this is a wholly new document about storage engines and their many compaction strategies"
  private val tpl3 = "a different tale of rivers and mountains told slowly by the old storyteller at dusk"
  private val junk = "@@@@ #### $$$$ !!!! ???? %%%%"

  // (doc_id, text) per file; files 0-3 arrive before the crash, 4-6 after
  private val files = Seq(
    10L -> tpl1,
    11L -> tpl2,
    12L -> tpl1.replace("today", "tonight"), // near-dup of 10 (stream-indexed)
    13L -> junk, // gated out before the fanout
    14L -> tpl3,
    15L -> tpl2.replace("strategies", "plans"), // near-dup of 11, post-restart
    16L -> tpl3.replace("dusk", "dawn")) // near-dup of 14, post-restart

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("text", StringType)))

  private def writeDoc(dir: String, i: Int): Unit = {
    val (id, text) = files(i)
    val row = s""""$id","src${i % 3}","$text""""
    val p = Paths.get(dir, s"doc_$i.csv")
    Files.writeString(Paths.get(dir, s".tmp$i"), row + "\n")
    Files.move(Paths.get(dir, s".tmp$i"), p)
    // distinct mtimes keep the file source's pickup order deterministic
    Files.setLastModifiedTime(p, FileTime.fromMillis(1700000000000L + i * 1000L))
  }

  private case class Dirs(root: String) {
    val src = s"$root/src"; val ckpt = s"$root/ckpt"
    val kept = s"$root/kept"; val dups = s"$root/dups"
    val idx = s"$root/index"; val metrics = s"$root/metrics"
    Files.createDirectories(Paths.get(src))
  }

  private def seedIndex(idx: String): Unit = {
    import spark.implicits._
    Dedup.writeLshIndex(
      Seq((1L, "seed corpus document about entirely unrelated matters and topics"))
        .toDF("doc_id", "text"),
      "text", "doc_id", idx, n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
  }

  /** Start the pipeline against `d`, feed files [from, until) one
    * micro-batch per file, stop.
    */
  private def run(d: Dirs, from: Int, until: Int): Unit = {
    val docs = spark.readStream.schema(schema).csv(d.src)
    val q = CurationPipeline.start(
      docs, "text", "doc_id", minQualityMilli = 400,
      d.kept, d.dups, d.idx, d.metrics, buckets = 16)
      .option("checkpointLocation", d.ckpt)
      .start()
    try {
      (from until until).foreach { i =>
        writeDoc(d.src, i)
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  private def keptIds(d: Dirs): Set[Long] =
    spark.read.parquet(d.kept).select("doc_id").collect().map(_.getLong(0)).toSet
  // explicit schema: a batch with zero dups overwrites its partition with
  // no data files, so the dir can exist before any schema-bearing file does
  private def dupPairs(d: Dirs): Set[(Long, Long)] =
    spark.read.schema("new_id LONG, corpus_id LONG, jaccard_milli LONG, batch LONG")
      .parquet(d.dups).select("new_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private def indexedDocs(d: Dirs): Set[Long] =
    spark.read.parquet(s"${d.idx}/shingles").select("doc")
      .collect().map(_.getLong(0)).toSet
  // index CONTENT modulo the batch column (batch numbering differs between
  // a restarted and a straight-through run); casts because bucket/batch are
  // partition directories whose types come back via inference
  private def bandRows(d: Dirs): Set[(Long, Long, String, Long)] =
    spark.read.parquet(s"${d.idx}/bands")
      .select(col("doc").cast("long"), col("band").cast("long"),
        col("bh").cast("string"), col("bucket").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
  private def metricTotals(d: Dirs): Map[String, (Long, Long)] =
    spark.read.parquet(d.metrics).groupBy("lang_pred")
      .agg(sum("docs").as("d"), sum("tokens").as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("crash-restart converges to the never-crashed run's outputs") {
    val a = Dirs(tempDir("cur_a").toString)
    val b = Dirs(tempDir("cur_b").toString)
    seedIndex(a.idx); seedIndex(b.idx)

    run(a, 0, 4) // "crash" after 4 files
    run(a, 4, 7) // restart from the same checkpoint
    run(b, 0, 7) // never crashed

    assert(keptIds(a) === Set(10L, 11L, 14L), "kept after restart")
    assert(keptIds(b) === keptIds(a), "kept must match the clean run")
    assert(dupPairs(a) === Set((12L, 10L), (15L, 11L), (16L, 14L)),
      "dups vs stream-written index rows, across the crash boundary")
    assert(dupPairs(b) === dupPairs(a))
    assert(indexedDocs(a) === Set(1L, 10L, 11L, 14L), "dups never enter the index")
    assert(indexedDocs(b) === indexedDocs(a))
    assert(bandRows(a) === bandRows(b), "index band content identical modulo batch")
    assert(metricTotals(a) === metricTotals(b))
    assert(metricTotals(a)("en")._1 === 6L, "junk doc gated before metrics")
  }

  test("replaying a micro-batch with the same batch id changes nothing") {
    import spark.implicits._
    val d = Dirs(tempDir("cur_replay").toString)
    seedIndex(d.idx)
    val gated = StreamingCuration.annotateAndGate(
      Seq((10L, "src0", tpl1), (11L, "src1", tpl2))
        .toDF("doc_id", "source", "text"),
      "text", minQualityMilli = 400)

    def snap(): (Set[Long], Set[(Long, Long)], Set[(Long, Long, String, Long)]) =
      (keptIds(d), dupPairs(d), bandRows(d))

    CurationPipeline.curateBatch(gated, 0L, "text", "doc_id",
      d.kept, d.dups, d.idx, n = 3, bands = 4, rowsPerBand = 4,
      minJaccardMilli = 600, buckets = 16)
    val first = snap()
    assert(first._1 === Set(10L, 11L))
    CurationPipeline.curateBatch(gated, 0L, "text", "doc_id",
      d.kept, d.dups, d.idx, n = 3, bands = 4, rowsPerBand = 4,
      minJaccardMilli = 600, buckets = 16)
    assert(snap() === first, "batch-id overwrite must make the replay a no-op")
  }
}
