package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.model.{AuditTrail, BrowserEvent}

/** MemoryStream-driven micro-batch tests for the keyed state machines
  * (ST1/ST2) — asserts cross-batch state retention and in-batch ordering.
  */
class StatefulOpsSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def fixtureAudits: Seq[AuditTrail] =
    spark.read.text(resourcePath("raw_audit_trail"))
      .collect()
      .map(r => {
        val p = r.getString(0).replace("\"", "").split(",")
        AuditTrail(p(0).toInt, p(1), p(2), p(3), p(4).toLong, p(5).toInt, p(6).toInt)
      })
      .sortBy(_.id)

  test("ST1: fixture produces exactly one (Tom, 4604) alert") {
    val input = MemoryStream[AuditTrail]
    val alerts = StatefulOps.deleteBurstAlerts(input.toDS())
    val q = alerts.writeStream.format("memory").queryName("st1_out")
      .outputMode(OutputMode.Append).start()
    try {
      // two batches to prove state survives micro-batch boundaries:
      // the two Tom deletes (ids 3 and 9) land in different batches.
      val rows = fixtureAudits
      input.addData(rows.filter(_.id <= 5))
      q.processAllAvailable()
      input.addData(rows.filter(_.id > 5))
      q.processAllAvailable()
      val out = spark.table("st1_out").as[StatefulOps.BurstAlert].collect()
      assert(out.toSeq === Seq(StatefulOps.BurstAlert("Tom", 1577215622870L, 4604L)))
    } finally q.stop()
  }

  test("ST1: within-batch deletes are processed in timestamp order") {
    val input = MemoryStream[AuditTrail]
    val alerts = StatefulOps.deleteBurstAlerts(input.toDS())
    val q = alerts.writeStream.format("memory").queryName("st1_order")
      .outputMode(OutputMode.Append).start()
    try {
      // deliberately out of order in one batch: 3 deletes 1 s apart
      input.addData(Seq(
        AuditTrail(2, "Bob", "Customer", "Delete", 3000L, 1, 1),
        AuditTrail(0, "Bob", "Customer", "Delete", 1000L, 1, 1),
        AuditTrail(1, "Bob", "Customer", "Delete", 2000L, 1, 1)))
      q.processAllAvailable()
      val out = spark.table("st1_order").as[StatefulOps.BurstAlert].collect().sortBy(_.ts)
      assert(out.toSeq === Seq(
        StatefulOps.BurstAlert("Bob", 2000L, 1000L),
        StatefulOps.BurstAlert("Bob", 3000L, 1000L)))
    } finally q.stop()
  }

  test("ST2: login/logout state machine across batches") {
    val input = MemoryStream[BrowserEvent]
    val durations = StatefulOps.actionDurations(input.toDS())
    val q = durations.writeStream.format("memory").queryName("st2_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(
        BrowserEvent(0, "Tom", "Login", 1000L),
        BrowserEvent(1, "Tom", "ViewVideo", 3000L)))  // emits (Login, 2000)
      q.processAllAvailable()
      input.addData(Seq(
        BrowserEvent(2, "Tom", "Logout", 6000L),      // emits (ViewVideo, 3000), clears
        BrowserEvent(3, "Tom", "ViewLink", 7000L),    // state empty -> no emit, sets
        BrowserEvent(4, "Tom", "Login", 9000L)))      // current is Login -> no emit
      q.processAllAvailable()
      val out = spark.table("st2_out").as[StatefulOps.ActionDuration].collect()
        .sortBy(_.durationMs)
      assert(out.toSeq === Seq(
        StatefulOps.ActionDuration("Tom", "Login", 2000L),
        StatefulOps.ActionDuration("Tom", "ViewVideo", 3000L)))
    } finally q.stop()
  }
}
