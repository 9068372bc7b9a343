package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.AuditTrail
import graft.sources.Sources

/** Fault-tolerance: a windowed streaming aggregation stopped mid-stream
  * and restarted from its checkpoint must neither lose nor duplicate
  * windows in the (exactly-once) file sink.
  */
class RecoverySpec extends SparkSpec {

  private def writeRow(dir: String, id: Int, tsMs: Long): Unit = {
    val row = s""""$id","Tom","Customer","Query","$tsMs","1","1""""
    val p = Paths.get(dir, s"audit_$id.csv")
    Files.writeString(Paths.get(dir, s".tmp$id"), row + "\n")
    Files.move(Paths.get(dir, s".tmp$id"), p)
  }

  test("windowed agg restart from checkpoint: no lost or duplicated windows") {
    val src = tempDir("rec_src").toString
    val out = tempDir("rec_out").toString
    val ckpt = tempDir("rec_ckpt").toString

    def pipeline() = StreamOps.windowedCount(
      AuditTrail.fromLines(Sources.fileLines(spark, src)),
      "eventTime", "5 seconds", watermark = "0 seconds")
      .select(col("window_start").cast("long").cast("string"), col("n").cast("string"))

    def run(): Unit = {
      val q = pipeline().writeStream.format("csv")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    // run 1: windows [0,5) x3 and [5,10) x2; watermark reaches 7s so only
    // [0,5) is finalized before the "crash"
    Seq(0 -> 1000L, 1 -> 2000L, 2 -> 4000L, 3 -> 6000L, 4 -> 7000L)
      .foreach { case (i, t) => writeRow(src, i, t) }
    run()

    // run 2 (restart from checkpoint): more data closes [5,10) and [10,15)
    Seq(5 -> 8000L, 6 -> 12000L, 7 -> 31000L)
      .foreach { case (i, t) => writeRow(src, i, t) }
    run()

    val result = spark.read.schema("window_start STRING, n STRING").csv(out)
      .collect()
      .map(r => r.getString(0).toLong -> r.getString(1).toLong)
    // every emitted window appears exactly once with the right count
    assert(result.length === result.map(_._1).distinct.length, s"duplicated windows: ${result.toSeq}")
    val byWindow = result.toMap
    assert(byWindow(0L) === 3L)
    assert(byWindow(5L) === 3L) // 6s,7s from run 1 + 8s from run 2 — state survived
    assert(byWindow(10L) === 1L)
  }
}
