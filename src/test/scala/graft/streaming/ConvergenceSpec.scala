package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.model.{AuditTrail, BrowserEvent}
import graft.sources.Tables

/** Streaming-vs-batch convergence over the real corpus: replay the
  * sf0.01 `events` table (10k rows) through the streaming twins of
  * ST1/ST2/A4 in timestamp order across several micro-batches and assert
  * the converged streaming output equals the batch formulation — the one
  * the DuckDB oracle gate proves correct. This closes the "the oracle
  * only sees batch" gap: batch == oracle (driver gate) and
  * streaming == batch (this spec) together pin the streaming semantics.
  *
  * Reference semantics under test: `StatefulOperations.java:84-129` (ST1),
  * `CourseUseCase.java:114-180` (ST2), `WindowingOperations.java:133-157`
  * (A4 session windows).
  */
class ConvergenceSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val d = "/root/testdata/sf0.01"
  private val batchSize = 2000

  /** The corpus in replay (arrival) order: (event_id, user_id, event_type,
    * ts_us, value) sorted by (ts_us, event_id) — the same total order the
    * batch formulations use as their tie-break.
    */
  private lazy val replay: Array[(Long, Long, String, Long, Double)] =
    Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, String, Long, Double)]
      .collect()
      .sortBy(r => (r._4, r._1))

  private def chunks[T](xs: Seq[T]): Iterator[Seq[T]] = xs.grouped(batchSize)

  test("ST1 streaming replay of the corpus converges to the batch (oracled) answer") {
    val input = MemoryStream[AuditTrail]
    // the streaming twin keys on AuditTrail.user / filters operation ==
    // "Delete"; map the corpus into that shape (error -> Delete), with
    // timestamps in epoch micros so the 4h threshold matches the batch
    // query's 14400000000 us
    val alerts = StatefulOps.deleteBurstAlerts(input.toDS(), thresholdMs = 14400000000L)
    val q = alerts.writeStream.format("memory").queryName("conv_st1")
      .outputMode(OutputMode.Append).start()
    try {
      chunks(replay.toSeq).foreach { batch =>
        input.addData(batch.map { case (id, user, typ, tsUs, _) =>
          AuditTrail(id.toInt, user.toString,
            "Event", if (typ == "error") "Delete" else typ, tsUs, 0, 0)
        })
        q.processAllAvailable()
      }
      val streamed = spark.table("conv_st1")
        .select("user", "ts", "diffMs").as[(String, Long, Long)]
        .collect().toSeq.sorted
      // batch formulation emits (user_id, event_id, diff_us); re-attach
      // each event's timestamp to compare on the streaming output's shape
      val ev = Tables.events(spark, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      val batch = graft.SparkEntry.queries("st1_burst_alerts")(spark, d)
        .join(ev, "event_id")
        .select(col("user_id").cast("string"), col("ts_us"), col("diff_us"))
        .as[(String, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("J3 as-of streaming state machine converges to the batch (oracled) answer") {
    import StatefulOps.AsofEvent
    val input = MemoryStream[AsofEvent]
    val matches = StatefulOps.asofMatches(input.toDS())
    val q = matches.writeStream.format("memory").queryName("conv_asof")
      .outputMode(OutputMode.Append).start()
    try {
      // the oracled j3 query's exact input shape: clicks are left rows,
      // purchases pre-reduced to one row per (user, ts) are right rows
      val purchases = replay.filter(_._3 == "purchase")
        .groupBy(r => (r._2, r._4)).map { case ((u, ts), rs) =>
          (rs.map(_._1).max, u, ts)
        }.toSeq
      val events = (replay.filter(_._3 == "click")
        .map { case (id, u, _, ts, _) => AsofEvent(u, side = 1, ts, id) } ++
        purchases.map { case (id, u, ts) => AsofEvent(u, side = 0, ts, id) })
        .sortBy(e => (e.tsUs, e.side, e.id))
      chunks(events).foreach { batch =>
        input.addData(batch)
        q.processAllAvailable()
      }
      val streamed = spark.table("conv_asof")
        .select(col("key"), col("leftId"), col("leftTsUs"),
          col("rightId"), col("rightTsUs"))
        .as[(Long, Long, Long, Option[Long], Option[Long])]
        .collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("j3_asof_join")(spark, d)
        .select(col("user_id"), col("click_id"), col("click_ts_us"),
          col("last_purchase_id"), col("last_purchase_ts_us"))
        .as[(Long, Long, Long, Option[Long], Option[Long])]
        .collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("T1 rolling-features streaming twin converges to the batch (oracled) answer") {
    import StatefulOps.RollingEvent
    val input = MemoryStream[RollingEvent]
    val feats = StatefulOps.rollingFeatures(input.toDS(), rangeUs = 3600000000L)
    val q = feats.writeStream.format("memory").queryName("conv_t1")
      .outputMode(OutputMode.Append).start()
    try {
      val evs = replay.map { case (id, u, _, ts, v) =>
        RollingEvent(u, ts, id, math.floor(v * 1000).toLong)
      }.toSeq
      chunks(evs).foreach { batch =>
        input.addData(batch)
        q.processAllAvailable()
      }
      // far-future sentinels close every key's last tie group
      val flushTs = replay.last._4 + 30L * 24 * 3600 * 1000000
      input.addData(replay.map(_._2).distinct.toSeq.map(u =>
        RollingEvent(u, flushTs, -1L, 0L)))
      q.processAllAvailable()
      val streamed = spark.table("conv_t1")
        .select(col("id"), col("nRange"), col("sumMilliRange"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("t1_rolling_features")(spark, d)
        .select(col("event_id"), col("n_range"), col("sum_milli_range"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("T2 resample-ffill streaming replay converges to the batch (oracled) answer") {
    import StatefulOps.{ResampleEvent, ResampleCell}
    val stepUs = 21600000000L
    val input = MemoryStream[ResampleEvent]
    val cells = StatefulOps.resampleCells(input.toDS(), stepUs)
    val q = cells.writeStream.format("memory").queryName("conv_t2")
      .outputMode(OutputMode.Append).start()
    try {
      val evs = replay.map { case (_, u, _, ts, v) =>
        ResampleEvent(u, ts, math.floor(v * 100).toLong, flush = false)
      }.toSeq
      chunks(evs).foreach { batch =>
        input.addData(batch)
        q.processAllAvailable()
      }
      // flush sentinels close each key's last open cell (no new cell opens)
      input.addData(replay.map(_._2).distinct.toSeq.map(u =>
        ResampleEvent(u, 0L, 0L, flush = true)))
      q.processAllAvailable()
      val streamed = spark.table("conv_t2")
        .select(col("key"), col("cellUs"), col("valueCenti"), col("hasObs"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("t2_resample_ffill")(spark, d)
        .select(col("user_id"), col("cell_us"), col("value_centi"), col("has_obs"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("SCD2 streaming replay converges to the batch (oracled) answer") {
    import StatefulOps.Scd2Event
    val input = MemoryStream[Scd2Event]
    val versions = StatefulOps.scd2Versions(input.toDS())
    val q = versions.writeStream.format("memory").queryName("conv_scd2")
      .outputMode(OutputMode.Append).start()
    try {
      val evs = replay.map { case (id, u, typ, ts, _) =>
        Scd2Event(u, ts, id, typ, flush = false)
      }.toSeq
      chunks(evs).foreach { batch =>
        input.addData(batch)
        q.processAllAvailable()
      }
      input.addData(replay.map(_._2).distinct.toSeq.map(u =>
        Scd2Event(u, 0L, 0L, "", flush = true)))
      q.processAllAvailable()
      val streamed = spark.table("conv_scd2")
        .select(col("key"), col("attr"), col("validFromUs"),
          col("validToUs"), col("isCurrent"))
        .as[(Long, String, Long, Option[Long], Long)].collect().toSeq
        .sortBy(r => (r._1, r._3))
      val batch = graft.SparkEntry.queries("scd2_user_state")(spark, d)
        .as[(Long, String, Long, Option[Long], Long)].collect().toSeq
        .sortBy(r => (r._1, r._3))
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  /** Replay the corpus through the shipped ST2 operator
    * (`StatefulOps.actionDurations`, the one streambench and
    * `ChapterApps` run) in `chunkSize`-event micro-batches; returns the
    * streamed output sorted.
    */
  private def st2Replay(chunkSize: Int): Seq[(String, String, Long)] = {
    val input = MemoryStream[BrowserEvent]
    val durations = StatefulOps.actionDurations(
      input.toDS(), loginAction = "signup", logoutAction = "error")
    val name = s"conv_st2_$chunkSize"
    val q = durations.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      replay.toSeq.grouped(chunkSize).foreach { batch =>
        input.addData(batch.map { case (id, user, typ, tsUs, _) =>
          BrowserEvent(id.toInt, user.toString, typ, tsUs)
        })
        q.processAllAvailable()
      }
      spark.table(name)
        .select("user", "action", "durationMs").as[(String, String, Long)]
        .collect().toSeq.sorted
    } finally q.stop()
  }

  test("ST2 streaming replay converges to the batch answer") {
    val batch = graft.SparkEntry.queries("st2_action_durations")(spark, d)
      .select(col("user_id").cast("string"), col("action"), col("duration_us"))
      .as[(String, String, Long)].collect().toSeq.sorted
    assert(batch.nonEmpty)
    // three chunkings cut users' sessions at DIFFERENT micro-batch
    // boundaries (700 and 3701 are coprime to every session length in
    // the corpus, so plenty of sessions split mid-flight: state carries
    // the open action across the boundary). Convergence must not depend
    // on where the batch boundary lands.
    Seq(700, batchSize).foreach { chunk =>
      assert(st2Replay(chunk) === batch, s"chunk size $chunk diverged from batch")
    }
    // the last chunking runs on the RocksDB state store provider, the
    // candidate replacement for the default HDFS-backed store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try assert(st2Replay(3701) === batch, "chunk size 3701 (RocksDB) diverged from batch")
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("ST2 session split across three micro-batches (login/action/logout)") {
    val input = MemoryStream[BrowserEvent]
    val q = StatefulOps.actionDurations(input.toDS())
      .writeStream.format("memory").queryName("conv_st2_split")
      .outputMode(OutputMode.Append).start()
    try {
      // one user's session deliberately cut at every stage boundary:
      // Login arrives in batch 1, actions in batches 2-3, Logout in 4
      input.addData(BrowserEvent(1, "u1", "Login", 1000L))
      q.processAllAvailable()
      input.addData(BrowserEvent(2, "u1", "browse", 2000L))
      q.processAllAvailable()
      input.addData(BrowserEvent(3, "u1", "buy", 3500L))
      q.processAllAvailable()
      input.addData(BrowserEvent(4, "u1", "Logout", 5000L))
      q.processAllAvailable()
      val got = spark.table("conv_st2_split")
        .select("user", "action", "durationMs").as[(String, String, Long)]
        .collect().toSeq
      // each emission is the PREVIOUS action's duration; state crossed
      // three batch boundaries to produce them
      assert(got === Seq(
        ("u1", "Login", 1000L),
        ("u1", "browse", 1500L),
        ("u1", "buy", 1500L)))
      // after Logout the state is cleared: a fresh action emits nothing
      input.addData(BrowserEvent(5, "u1", "browse", 9000L))
      q.processAllAvailable()
      assert(spark.table("conv_st2_split").count() === 3L)
    } finally q.stop()
  }

  test("A1/A6 streaming tumbling counts converge to the batch answer") {
    val input = MemoryStream[(Long, Long)] // (event_id, ts_us)
    val counts = StreamOps.windowedCount(
      input.toDF().toDF("event_id", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
      "ts", "1 minute", watermark = "1 second")
    val q = counts.writeStream.format("memory").queryName("conv_a6")
      .outputMode(OutputMode.Append).start()
    try {
      chunks(replay.toSeq).foreach { batch =>
        input.addData(batch.map { case (id, _, _, tsUs, _) => (id, tsUs) })
        q.processAllAvailable()
      }
      input.addData((-1L, replay.last._4 + 30L * 24 * 3600 * 1000000)) // flush
      q.processAllAvailable()
      val sentinelWindow = (replay.last._4 + 30L * 24 * 3600 * 1000000) / 60000000L * 60
      val streamed = spark.table("conv_a6")
        .select(unix_micros(col("window_start")).divide(lit(1000000)).cast("long")
          .as("ws"), col("n"))
        .filter(col("ws") =!= sentinelWindow)
        .as[(Long, Long)].collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("a6_eventtime_count")(spark, d)
        .select(col("window_start"), col("n"))
        .as[(Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming LM scorer with a batch-trained model converges to the batch score") {
    // train-batch / score-stream: the model comes from the SAME corpus the
    // stream replays, so coverage is total and the per-doc streaming score
    // must EQUAL the batch lmSurprisalScore (oracled at the driver gate)
    val docsDf = Tables.documents(spark, d)
    val docs = docsDf.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val model = graft.functions.TextAnalysis
      .trigramModel(docsDf, "text", "doc_id").cache()
    val total = model.agg(sum(col("cnt"))).as[Long].head()
    val input = MemoryStream[(Long, String, Long)] // (doc_id, text, ts_us)
    val base = 1704067200000000L
    val scored = StreamingCuration.lmSurprisalStream(
      input.toDF().toDF("doc_id", "text", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
      model, total, "text", "doc_id", "ts",
      horizon = "1 second", windowDur = "1 minute")
    val q = scored.writeStream.format("memory").queryName("conv_lm")
      .outputMode(OutputMode.Append).start()
    try {
      docs.grouped(100).foreach { batch =>
        input.addData(batch.map { case (id, t) => (id, t, base + id) })
        q.processAllAvailable()
      }
      input.addData((-1L, "flush sentinel document", base + 365L * 86400000000L))
      q.processAllAvailable()
      val streamed = spark.table("conv_lm").filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("n_tri"), col("avg_surprisal_q10"))
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      val batch = graft.functions.TextAnalysis
        .lmSurprisalScore(docsDf, "text", "doc_id")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally { q.stop(); model.unpersist() }
  }

  test("A2 streaming running totals (update mode) converge to the batch answer") {
    val input = MemoryStream[(Long, Long)] // (user_id, value_milli)
    val totals = StreamOps.runningKeyedSum(
      input.toDF().toDF("user_id", "value_milli"), "user_id", "value_milli")
    val q = totals.writeStream.format("memory").queryName("conv_a2")
      .outputMode(OutputMode.Update).start()
    try {
      chunks(replay.toSeq).foreach { batch =>
        input.addData(batch.map { case (_, user, _, _, v) =>
          (user, math.floor(v * 1000).toLong)
        })
        q.processAllAvailable()
      }
      // update mode emits one row per changed key per micro-batch; counts
      // and totals are nondecreasing (values >= 0), so the per-key max
      // across all updates IS the converged value
      val streamed = spark.table("conv_a2")
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"), max(col("total")).as("total_value_milli"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("a2_keyed_running_total")(spark, d)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("A3 streaming sliding summary converges to the batch answer") {
    val input = MemoryStream[(Long, Long)] // (event_id, ts_us)
    val summary = StreamOps.slidingSummary(
      input.toDF().toDF("event_id", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
      "ts", "10 seconds", "5 seconds", watermark = "1 second")
    val q = summary.writeStream.format("memory").queryName("conv_a3")
      .outputMode(OutputMode.Append).start()
    try {
      chunks(replay.toSeq).foreach { batch =>
        input.addData(batch.map { case (id, _, _, tsUs, _) => (id, tsUs) })
        q.processAllAvailable()
      }
      input.addData((-1L, replay.last._4 + 30L * 24 * 3600 * 1000000)) // flush
      q.processAllAvailable()
      val cutoffSec = replay.last._4 / 1000000L + 60
      val streamed = spark.table("conv_a3")
        .select(col("window_start").cast("long").as("ws"), col("n"),
          unix_micros(col("min_ts")).as("mn"), unix_micros(col("max_ts")).as("mx"))
        .filter(col("ws") < cutoffSec)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("a3_sliding_summary")(spark, d)
        .select(col("window_start"), col("n"), col("min_ts_us"), col("max_ts_us"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("funnel streaming state machine converges to the batch answer") {
    import StatefulOps.FunnelEvent
    val input = MemoryStream[FunnelEvent]
    val res = StatefulOps.funnelConversions(input.toDS())
    val q = res.writeStream.format("memory").queryName("conv_funnel")
      .outputMode(OutputMode.Append).start()
    try {
      chunks(replay.toSeq).foreach { batch =>
        input.addData(batch.map { case (id, user, typ, tsUs, _) =>
          FunnelEvent(user, typ, tsUs, id)
        })
        q.processAllAvailable()
      }
      // far-future sentinel purchases resolve every still-pending click
      // as unconverted — the state-machine analog of the batch query's
      // NULL next_purchase
      val flushTs = replay.last._4 + 30L * 24 * 3600 * 1000000
      input.addData(replay.map(_._2).distinct.toSeq.map(u =>
        FunnelEvent(u, "purchase", flushTs, -1L)))
      q.processAllAvailable()
      val streamed = spark.table("conv_funnel")
        .groupBy(col("user"))
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
        .select(col("user"), col("n_clicks"), col("n_converted"),
          floor(col("n_converted") * lit(1000.0) / col("n_clicks")).cast("long")
            .as("conv_milli"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("funnel_click_purchase")(spark, d)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("session paths streaming twin converges to the batch top-50") {
    val input = MemoryStream[(Long, Long, String, Long)] // (id, user, type, ts_us)
    val paths = StreamOps.sessionPathsStream(
      input.toDF().toDF("event_id", "user_id", "event_type", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
      key = "user_id", tsCol = "ts", gap = "4 hours",
      typeCol = "event_type", idCol = "event_id")
    val q = paths.writeStream.format("memory").queryName("conv_paths")
      .outputMode(OutputMode.Append).start()
    try {
      chunks(replay.toSeq).foreach { batch =>
        input.addData(batch.map { case (id, user, typ, tsUs, _) =>
          (id, user, typ, tsUs)
        })
        q.processAllAvailable()
      }
      // far-future flush event closes every session past the watermark
      val flushTs = replay.last._4 + 30L * 24 * 3600 * 1000000
      input.addData((-1L, -1L, "flush", flushTs))
      q.processAllAvailable()
      // downstream batch ranking over the emitted per-session path log —
      // same (count desc, path) order and cutoff as the batch query
      val streamed = spark.table("conv_paths")
        .filter(col("user_id") =!= -1L)
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(50)
        .as[(String, Long)].collect().toSeq
      val batch = graft.SparkEntry.queries("session_paths")(spark, d)
        .as[(String, Long)].collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("N-step funnel streaming twin converges to the batch answer") {
    import StatefulOps.FunnelEvent
    val input = MemoryStream[FunnelEvent]
    val res = StatefulOps.funnelStepsStream(input.toDS(),
      Seq("view", "click", "purchase"))
    val q = res.writeStream.format("memory").queryName("conv_funnel_steps")
      .outputMode(OutputMode.Append).start()
    try {
      chunks(replay.toSeq).foreach { batch =>
        input.addData(batch.collect {
          case (id, user, typ, tsUs, _)
            if typ == "view" || typ == "click" || typ == "purchase" =>
            FunnelEvent(user, typ, tsUs, id)
        })
        q.processAllAvailable()
      }
      val streamed = spark.table("conv_funnel_steps")
        .groupBy(col("user"))
        .agg(
          min(when(col("step") === 1, col("tsUs"))).as("t1_us"),
          min(when(col("step") === 2, col("tsUs"))).as("t2_us"),
          min(when(col("step") === 3, col("tsUs"))).as("t3_us"),
          max(col("step")).cast("long").as("steps_reached"))
        .as[(Long, Option[Long], Option[Long], Option[Long], Long)]
        .collect().toSeq.sortBy(_._1)
      val batch = graft.SparkEntry.queries("funnel_steps")(spark, d)
        .as[(Long, Option[Long], Option[Long], Option[Long], Long)]
        .collect().toSeq.sortBy(_._1)
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("A5 streaming keyed tumbling counts converge to the batch answer") {
    val input = MemoryStream[(Long, String, Long)] // (user_id, event_type, ts_us)
    val counts = StreamOps.keyedWindowedCount(
      input.toDF().toDF("user_id", "event_type", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
      "ts", "1 day", "1 second", "user_id", "event_type")
    val q = counts.writeStream.format("memory").queryName("conv_a5")
      .outputMode(OutputMode.Append).start()
    try {
      chunks(replay.toSeq).foreach { batch =>
        input.addData(batch.map { case (_, user, typ, tsUs, _) => (user, typ, tsUs) })
        q.processAllAvailable()
      }
      input.addData((-1L, "flush", replay.last._4 + 30L * 24 * 3600 * 1000000))
      q.processAllAvailable()
      val streamed = spark.table("conv_a5")
        .filter(col("user_id") =!= -1L)
        .select(col("w.start").cast("long").as("ws"), col("user_id"),
          col("event_type"), col("n"))
        .as[(Long, Long, String, Long)].collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("a5_keyed_window_count")(spark, d)
        .select(col("window_start"), col("user_id"), col("event_type"), col("n"))
        .as[(Long, Long, String, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("J1 streaming stream-stream window join converges to the batch answer") {
    val clicksIn = MemoryStream[(Long, Long, Long)]    // (user_id, click_id, ts_us)
    val purchasesIn = MemoryStream[(Long, Long, Long)] // (user_id, purchase_id, ts_us)
    val left = clicksIn.toDF().toDF("user_id", "click_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val right = purchasesIn.toDF().toDF("user_id", "purchase_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val joined = StreamOps.streamStreamWindowJoin(
      left, right, "user_id", "ts", "1 day", watermark = "1 second")
    val q = joined.writeStream.format("memory").queryName("conv_j1")
      .outputMode(OutputMode.Append).start()
    try {
      // replay in timestamp order: no row ever arrives behind the
      // watermark, so no join state is evicted before its matches arrive
      // and the inner join emits every batch pair
      chunks(replay.toSeq).foreach { batch =>
        val clicks = batch.collect { case (id, user, "click", tsUs, _) => (user, id, tsUs) }
        val purchases = batch.collect { case (id, user, "purchase", tsUs, _) => (user, id, tsUs) }
        if (clicks.nonEmpty) clicksIn.addData(clicks)
        if (purchases.nonEmpty) purchasesIn.addData(purchases)
        q.processAllAvailable()
      }
      val streamed = spark.table("conv_j1")
        .select(col("w.start").cast("long").as("ws"), col("user_id"),
          col("click_id"), col("purchase_id"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("j1_windowed_join")(spark, d)
        .select(col("w"), col("user_id"), col("click_id"), col("purchase_id"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("J2 streaming interval join converges to the batch (oracled) answer") {
    val clicksIn = MemoryStream[(Long, Long, Long)]    // (user_id, click_id, ts_us)
    val purchasesIn = MemoryStream[(Long, Long, Long)] // (user_id, purchase_id, ts_us)
    val left = clicksIn.toDF().toDF("user_id", "click_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val right = purchasesIn.toDF().toDF("user_id", "purchase_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    // same asymmetric bounds as the oracled j2_interval_join query
    val joined = StreamOps.streamStreamIntervalJoin(
      left, right, "user_id", "ts",
      lowerUs = 7200000000L, upperUs = 86400000000L, watermark = "1 second")
    val q = joined.writeStream.format("memory").queryName("conv_j2")
      .outputMode(OutputMode.Append).start()
    try {
      // replay in timestamp order: rows never arrive behind the
      // watermark, so no join state is evicted before its matches arrive
      // — the converged inner join must emit every in-range pair exactly
      // once despite state eviction happening continuously behind the
      // watermark (left rows held watermark+upper, right watermark+lower)
      chunks(replay.toSeq).foreach { batch =>
        val clicks = batch.collect { case (id, user, "click", tsUs, _) => (user, id, tsUs) }
        val purchases = batch.collect { case (id, user, "purchase", tsUs, _) => (user, id, tsUs) }
        if (clicks.nonEmpty) clicksIn.addData(clicks)
        if (purchases.nonEmpty) purchasesIn.addData(purchases)
        q.processAllAvailable()
      }
      val streamed = spark.table("conv_j2")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("ts")).as("c_us"), unix_micros(col("ts_r")).as("p_us"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("j2_interval_join")(spark, d)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts_us"), col("purchase_ts_us"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("W2 streaming late-data tee converges to the batch split (per-row replay)") {
    // The tee advances its watermark per MICRO-batch; the batch operator
    // per row. They coincide exactly when each micro-batch carries one
    // row, so this replays a 250-event pseudo-arrival-ordered subset
    // row-at-a-time (the full corpus would be 10k triggers). Times are
    // truncated to milliseconds first — the tee's bookkeeping is in ms —
    // so both sides compare identical instants. Proof chain: tee ==
    // batch lateDataSplit here; batch lateDataSplit == DuckDB oracle on
    // the full corpus via the w2_late_data driver gate.
    import graft.operators.CoreOps
    val subset = Tables.events(spark, d)
      .withColumn("__pa", CoreOps.pseudoArrival(col("event_id")))
      .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"), col("__pa"))
      .as[(Long, Long, String)].collect().sortBy(_._3).take(250).toSeq
    val subsetDf = subset.toDF("event_id", "ts_ms", "__pa")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val (_, lateBatch) = CoreOps.lateDataSplit(
      subsetDf, "ts", col("__pa"), 2000000L, substring(col("__pa"), 1, 2))
    val expected = lateBatch.select("event_id").as[Long].collect().toSeq.sorted

    val lateIds = scala.collection.mutable.ArrayBuffer[Long]()
    val split = new LateDataSplit("ts", allowedLatenessMs = 2000L,
      onTime = (_, _) => (),
      late = (df, _) =>
        lateIds.synchronized { lateIds ++= df.collect().map(_.getAs[Long]("event_id")) })
    val input = MemoryStream[(Long, Long)] // (event_id, ts_ms)
    val stream = input.toDF().toDF("event_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
    val q = split.writer(stream).start()
    try {
      subset.foreach { case (id, tsMs, _) =>
        input.addData((id, tsMs))
        q.processAllAvailable()
      }
      assert(expected.nonEmpty, "subset must contain late rows for the proof to bite")
      assert(lateIds.toSeq.sorted === expected)
    } finally q.stop()
  }

  test("A4 streaming session windows converge to the batch answer") {
    final case class SessEv(user: String, ts_us: Long, value: Double)
    val input = MemoryStream[(String, Long, Double)]
    val sessions = StreamOps.sessionSummaryStream(
      input.toDF().toDF("user_id", "ts_us", "value")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
      "user_id", "ts", "4 hours", "value", watermark = "1 second")
    val q = sessions.writeStream.format("memory").queryName("conv_a4")
      .outputMode(OutputMode.Append).start()
    try {
      chunks(replay.toSeq).foreach { batch =>
        input.addData(batch.map { case (_, user, _, tsUs, v) => (user.toString, tsUs, v) })
        q.processAllAvailable()
      }
      // a far-future sentinel for a user id outside the corpus pushes the
      // watermark past every open session so append mode flushes them all
      val flushTs = replay.last._4 + 30L * 24 * 3600 * 1000000
      input.addData(Seq(("-1", flushTs, 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("conv_a4")
        .filter(col("user_id") =!= "-1")
        .select("user_id", "session_start_us", "session_end_us", "n", "sum_value_milli")
        .as[(String, Long, Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.SparkEntry.queries("a4_session_windows")(spark, d)
        .select(col("user_id").cast("string"), col("session_start_us"),
          col("session_end_us"), col("n"), col("sum_value_milli"))
        .as[(String, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  /** Replay the corpus through the transition-pair state machine in
    * `chunkSize`-event micro-batches; returns the streamed pairs.
    */
  private def transitionsReplay(chunkSize: Int): Seq[(Long, String, String)] = {
    val input = MemoryStream[StatefulOps.TransitionEvent]
    val pairs = StatefulOps.transitionPairs(input.toDS())
    val name = s"conv_trans_$chunkSize"
    val q = pairs.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      replay.toSeq.grouped(chunkSize).foreach { batch =>
        input.addData(batch.map { case (id, user, typ, tsUs, _) =>
          StatefulOps.TransitionEvent(user, typ, tsUs, id)
        })
        q.processAllAvailable()
      }
      spark.table(name).select("user", "prevType", "nextType")
        .as[(Long, String, String)].collect().toSeq
    } finally q.stop()
  }

  test("event_transitions streaming replay converges to the batch matrix") {
    val batch = graft.SparkEntry.queries("event_transitions")(spark, d)
      .select(col("prev_type"), col("next_type"), col("n"), col("permille"))
      .as[(String, String, Long, Long)].collect().toSeq.sorted
    assert(batch.nonEmpty)
    // chunkings coprime to user activity lengths split users' event
    // sequences at different micro-batch boundaries; the last-event state
    // must carry the pair across every cut
    Seq(701, batchSize, 3701).foreach { chunk =>
      val counts = transitionsReplay(chunk)
        .groupBy(p => (p._2, p._3)).view.mapValues(_.size.toLong).toMap
      val byPrev = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val matrix = counts.toSeq.map { case ((prev, next), n) =>
        (prev, next, n, n * 1000L / byPrev(prev))
      }.sorted
      assert(matrix === batch, s"chunk size $chunk diverged from batch")
    }
  }
}
