package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

final case class CurDoc(doc_id: Long, source: String, text: String, ts: Timestamp)

/** The shipped curation stages running as a stream: the quality gate,
  * exact dedup on the gate's fingerprint within the watermark horizon,
  * deterministic sampling and PII scrub all compose on a MemoryStream of
  * documents, with duplicates dropped across micro-batches and a row's
  * keep decision independent of the micro-batch it arrives in.
  */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def t(sec: Long) = new Timestamp(sec * 1000)
  private val goodText =
    "the quick brown fox jumps over the lazy dog while we watch it run " +
      "through the field and the sun is warm on the grass today"

  test("streaming pipeline gates, dedups across batches, samples and scrubs") {
    import graft.functions.Curation
    val input = MemoryStream[CurDoc]
    val gated = StreamingCuration.annotateAndGate(input.toDF(), "text", minQualityMilli = 400)
    val out = Curation.piiScrub(
      Curation.stratifiedSample(
        gated.withWatermark("ts", "1 minute").dropDuplicatesWithinWatermark("fp"),
        "doc_id", "source", Map("keepall" -> 1000), 1000),
      "text")
    val q = out.writeStream.format("memory").queryName("cur_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        CurDoc(1L, "keepall", goodText + " mail me a@b.co", t(10)),
        CurDoc(2L, "keepall", "x", t(11))) // one-token doc -> gated out
      q.processAllAvailable()
      input.addData(
        CurDoc(3L, "keepall", goodText + " mail me a@b.co", t(20)), // dup of 1 (normalized)
        CurDoc(4L, "keepall", goodText + " but different tail", t(21)))
      q.processAllAvailable()
      val rows = spark.table("cur_out")
        .select("doc_id", "scrubbed", "n_emails").as[(Long, String, Long)]
        .collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq === Seq(1L, 4L), s"got: ${rows.toSeq}")
      assert(rows(0)._2.endsWith("mail me <EMAIL>"))
      assert(rows(0)._3 === 1L)
    } finally q.stop()
  }

  test("streaming sample equals the batch sample on the same rows") {
    val docs = (1L to 200L).map(i =>
      CurDoc(i, if (i % 2 == 0) "even" else "odd", goodText + " " + i, t(i)))
    val input = MemoryStream[CurDoc]
    // the shipped gate, then the sampler, on a stream
    val out = graft.functions.Curation.stratifiedSample(
      StreamingCuration.annotateAndGate(input.toDF(), "text", minQualityMilli = 1),
      "doc_id", "source", Map("even" -> 300), 700)
    val q = out.writeStream.format("memory").queryName("cur_sample")
      .outputMode(OutputMode.Append).start()
    try {
      docs.grouped(50).foreach { b => input.addData(b); q.processAllAvailable() }
      val streamed = spark.table("cur_sample").select("doc_id").as[Long]
        .collect().toSet
      val batch = graft.functions.Curation.stratifiedSample(
        docs.toDF(), "doc_id", "source", Map("even" -> 300), 700)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }
}
