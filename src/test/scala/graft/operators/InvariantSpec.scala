package graft.operators

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property-style invariants (SURVEY §5.2) over seeded random datasets
  * mirroring the reference generator domains
  * (`datasource/FileStreamDataGenerator.java:37-78`). Seeds are fixed so
  * runs are reproducible.
  */
class InvariantSpec extends SparkSpec {
  import spark.implicits._

  private val users = Seq("Tom", "Harry", "Bob")
  private val ops = Seq("Create", "Modify", "Query", "Delete")

  private def randomEvents(seed: Long, n: Int) = {
    val rnd = new Random(seed)
    var ts = 1577215616071L
    (0 until n).map { i =>
      ts += rnd.nextInt(8000)
      (i.toLong, users(rnd.nextInt(users.size)), ops(rnd.nextInt(ops.size)),
        new Timestamp(ts), rnd.nextInt(10) + 1.0)
    }.toDF("id", "user", "op", "ts", "value")
  }

  test("window counts partition the input: sum of per-window n = total rows") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val df = randomEvents(seed, 500)
      val counts = CoreOps.tumblingCountAll(df, "ts", "5 seconds")
      assert(counts.agg(sum("n")).collect().head.getLong(0) === 500L)
      // sliding 10s/5s windows double-count each row exactly twice
      val sliding = CoreOps.slidingSummaryAll(df, "ts", "10 seconds", "5 seconds")
      assert(sliding.agg(sum("n")).collect().head.getLong(0) === 1000L)
    }
  }

  test("session windows never overlap per key and cover all rows") {
    for (seed <- Seq(4L, 5L)) {
      val df = randomEvents(seed, 400)
      val sessions = CoreOps.sessionSummary(df, "user", "ts", "5 seconds", "value")
        .orderBy("user", "session_start_us").collect()
      assert(sessions.map(_.getAs[Long]("n")).sum === 400L)
      sessions.groupBy(_.getAs[String]("user")).foreach { case (_, rows) =>
        rows.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.getAs[Long]("session_end_us") <= b.getAs[Long]("session_start_us"),
              "sessions overlap")
          case _ =>
        }
      }
    }
  }

  test("chunked sessionization equals direct sessionization, incl. a planted hot key") {
    // 70% of rows on one hot user - the skew case the chunked form exists
    // for; tiny gap/bucket so hundreds of sessions straddle bucket edges
    val hot = randomEvents(21L, 1500)
      .withColumn("user", when(pmod(col("id"), lit(10)) < 7, lit("HOT")).otherwise(col("user")))
    for (df <- Seq(randomEvents(20L, 800), hot)) {
      val direct = CoreOps.sessionSummary(df, "user", "ts", "5 seconds", "value")
      val chunked = CoreOps.sessionSummaryChunked(
        df, "user", "ts", gapUs = 5000000L, bucketUs = 60000000L, "value")
      assert(chunked.count() === direct.count())
      assert(direct.exceptAll(chunked).count() === 0L)
      assert(chunked.exceptAll(direct).count() === 0L)
    }
  }

  test("chunked funnel equals direct funnel, incl. a planted hot key") {
    // deterministic click/purchase mix; 70% of events on one hot user,
    // tiny buckets so next-purchase lookups routinely cross bucket edges
    val ev = spark.range(3000).select(
      when(pmod(col("id"), lit(10)) < 7, lit(7L))
        .otherwise(pmod(col("id"), lit(40))).as("user_id"),
      when(pmod(col("id"), lit(3)) === 0, lit("purchase"))
        .otherwise(lit("click")).as("event_type"),
      (lit(1700000000000000L) + pmod(xxhash64(col("id")), lit(600000000L))).as("ts_us"),
      col("id").as("event_id"))
    val direct = CoreOps.funnelNextPurchase(ev)
      .select("user_id", "event_id", "next_purchase_us")
    val chunked = CoreOps.funnelNextPurchaseChunked(ev, bucketUs = 30000000L)
      .select("user_id", "event_id", "next_purchase_us")
    assert(direct.count() === chunked.count())
    assert(direct.exceptAll(chunked).count() === 0L)
    assert(chunked.exceptAll(direct).count() === 0L)
  }

  test("interval join equals the naive range join; bounds inclusive at both edges") {
    // property: the bucketed-explode equi-join must emit exactly the
    // pairs of an unbucketed range join, for bounds that do and don't
    // divide the data's time spread (bucket-boundary straddles included)
    for (seed <- Seq(11L, 12L); (lo, up) <- Seq((4000000L, 10000000L), (0L, 7000000L))) {
      val l = randomEvents(seed, 300).select(col("ts"), col("user"), col("id").as("lid"))
      val r = randomEvents(seed + 100, 300)
        .select(col("ts"), col("user"), col("id").as("rid"))
      val fast = CoreOps.intervalJoin(l, r, "user", "ts", lo, up)
        .select(col("user"), col("lid"), col("rid"))
      val naive = l.withColumn("lts", unix_micros(col("ts"))).drop("ts")
        .join(r.withColumn("rts", unix_micros(col("ts"))).drop("ts"), "user")
        .filter(col("rts") >= col("lts") - lo && col("rts") <= col("lts") + up)
        .select(col("user"), col("lid"), col("rid"))
      assert(fast.count() === naive.count())
      assert(fast.exceptAll(naive).count() === 0L)
      assert(naive.exceptAll(fast).count() === 0L)
    }
    // hand-planted edge rows: matches at EXACTLY ts-lower and ts+upper
    // must pair (inclusive bounds), one microsecond outside must not
    val left = Seq((1L, "k", 10000000L)).toDF("lid", "k", "us")
      .select(col("lid"), col("k"), timestamp_micros(col("us")).as("ts"))
    val right = Seq(
      (20L, "k", 8000000L),  // == ts - lower
      (21L, "k", 13000000L), // == ts + upper
      (22L, "k", 7999999L),  // 1 us below
      (23L, "k", 13000001L)  // 1 us above
    ).toDF("rid", "k", "us")
      .select(col("rid"), col("k"), timestamp_micros(col("us")).as("ts"))
    val got = CoreOps.intervalJoin(left, right, "k", "ts", 2000000L, 3000000L)
      .select(col("rid")).as[Long].collect().sorted
    assert(got.toSeq === Seq(20L, 21L))
  }

  test("as-of join equals the naive argmax join; equal-ts right rows pair inclusively") {
    for (seed <- Seq(13L, 14L)) {
      val l = randomEvents(seed, 300).select(col("ts"), col("user"), col("id").as("lid"))
      // unique right rows per (user, ts): the deterministic contract
      val r = randomEvents(seed + 100, 200)
        .groupBy(col("user"), col("ts")).agg(max(col("id")).as("rid"))
      val fast = CoreOps.asofJoin(l, r, "user", "ts")
        .select(col("user"), col("lid"), col("rid"),
          unix_micros(col("ts_r")).as("rts"))
      val naive = l.withColumn("lts", unix_micros(col("ts")))
        .join(r.select(col("user"), unix_micros(col("ts")).as("rts0"), col("rid").as("rid0")),
          Seq("user"), "left")
        .withColumn("m",
          when(col("rts0") <= col("lts"), struct(col("rts0"), col("rid0"))))
        .groupBy(col("user"), col("lid"), col("lts"))
        .agg(max(col("m")).as("mm"))
        .select(col("user"), col("lid"), col("mm.rid0").as("rid"),
          col("mm.rts0").as("rts"))
      assert(fast.count() === l.count()) // exactly one output row per left row
      assert(fast.exceptAll(naive).count() === 0L)
      assert(naive.exceptAll(fast).count() === 0L)
    }
    // hand-planted edges: equal-ts right row pairs (inclusive); a right
    // row 1us later must not; equal-ts right TIES resolve to the struct
    // max; a left row with no prior right gets nulls
    val left = Seq((1L, "k", 10000000L), (2L, "k", 5000000L))
      .toDF("lid", "k", "us")
      .select(col("lid"), col("k"), timestamp_micros(col("us")).as("ts"))
    val right = Seq(
      (30L, "k", 10000000L), // tie at == ts: loses to 31
      (31L, "k", 10000000L), // tie winner (max rid)
      (40L, "k", 10000001L)  // 1 us after: never visible to lid=1
    ).toDF("rid", "k", "us")
      .select(col("rid"), col("k"), timestamp_micros(col("us")).as("ts"))
    val got = CoreOps.asofJoin(left, right, "k", "ts")
      .select(col("lid"), col("rid")).orderBy("lid")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(got.toSeq === Seq((1L, 31L), (2L, -1L)))
  }

  test("chunked as-of equals direct as-of for dividing and non-dividing buckets") {
    for (seed <- Seq(15L, 16L); bucketUs <- Seq(5000000L, 7777777L)) {
      val l = randomEvents(seed, 300).select(col("ts"), col("user"), col("id").as("lid"))
      val r = randomEvents(seed + 100, 200)
        .groupBy(col("user"), col("ts")).agg(max(col("id")).as("rid"))
      val direct = CoreOps.asofJoin(l, r, "user", "ts")
        .select(col("user"), col("lid"), col("rid"))
      val chunked = CoreOps.asofJoinChunked(l, r, "user", "ts", bucketUs)
        .select(col("user"), col("lid"), col("rid"))
      assert(direct.exceptAll(chunked).count() === 0L)
      assert(chunked.exceptAll(direct).count() === 0L)
    }
  }

  test("skew-routed auto twins: hot corpora route chunked, uniform route direct, rows identical") {
    // ~100 uniform keys (top share ~1%) vs 70% of rows planted on one hot
    // key — the two extremes the dispatcher must separate at the default
    // 5% threshold. The twins are bit-identical, so the routing assertion
    // is about COST only; the row-equality assertion proves a flip can
    // never change results.
    def corpus(hot: Boolean) = spark.range(2000).select(
      col("id"),
      (if (hot) when(pmod(col("id"), lit(10)) < 7, lit(7L))
          .otherwise(pmod(xxhash64(col("id")), lit(100)))
       else pmod(xxhash64(col("id")), lit(100))).cast("string").as("user"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(xxhash64(col("id") + 1), lit(600000000L))).as("ts"),
      (pmod(xxhash64(col("id") + 2), lit(1000)) / lit(100.0)).as("value"))
    val uniform = corpus(hot = false)
    val hotDf = corpus(hot = true)
    assert(!CoreOps.routeChunked(uniform, "user"), "uniform corpus must route direct")
    assert(CoreOps.routeChunked(hotDf, "user"), "hot corpus must route chunked")

    for (df <- Seq(uniform, hotDf)) {
      // sessions: auto vs both named twins
      val auto = CoreOps.sessionSummaryAuto(
        df, "user", "ts", gapUs = 5000000L, bucketUs = 60000000L, "value")
      val direct = CoreOps.sessionSummary(df, "user", "ts", "5 seconds", "value")
      assert(auto.exceptAll(direct).count() === 0L)
      assert(direct.exceptAll(auto).count() === 0L)

      // as-of: right side deduped per (key, ts) as the contract requires
      val l = df.select(col("ts"), col("user"), col("id").as("lid"))
      val r = df.filter(pmod(col("id"), lit(7)) === 0)
        .groupBy(col("user"), col("ts")).agg(max(col("id")).as("rid"))
      val aAuto = CoreOps.asofJoinAuto(l, r, "user", "ts", bucketUs = 60000000L)
        .select(col("user"), col("lid"), col("rid"))
      val aDirect = CoreOps.asofJoin(l, r, "user", "ts")
        .select(col("user"), col("lid"), col("rid"))
      assert(aAuto.exceptAll(aDirect).count() === 0L)
      assert(aDirect.exceptAll(aAuto).count() === 0L)

      // rolling trailing-range features
      val rAuto = CoreOps.rollingRangeStatsAuto(
        df, "user", "ts", "value", rangeUs = 10000000L, bucketUs = 60000000L)
        .select(col("id"), col("n_range"), col("sum_milli_range"))
      val rDirect = CoreOps.rollingRangeStats(df, "user", "ts", "value", 10000000L)
        .select(col("id"), col("n_range"), col("sum_milli_range"))
      assert(rAuto.exceptAll(rDirect).count() === 0L)
      assert(rDirect.exceptAll(rAuto).count() === 0L)
    }
  }

  test("rolling range stats equal the naive trailing-window self-join") {
    for (seed <- Seq(17L, 18L)) {
      val df = randomEvents(seed, 300)
      val rangeUs = 10000000L
      val fast = CoreOps.rollingRangeStats(df, "user", "ts", "value", rangeUs)
        .select(col("id"), col("n_range"), col("sum_milli_range"))
      val base = df.select(col("id"), col("user"), unix_micros(col("ts")).as("us"),
        CoreOps.scaledMilli(col("value")).as("vm"))
      val naive = base.as("x")
        .join(base.as("y"), col("x.user") === col("y.user") &&
          col("y.us") >= col("x.us") - rangeUs && col("y.us") <= col("x.us"))
        .groupBy(col("x.id").as("id"))
        .agg(count(lit(1)).as("n_range"), sum(col("y.vm")).as("sum_milli_range"))
      assert(fast.exceptAll(naive).count() === 0L)
      assert(naive.exceptAll(fast).count() === 0L)
    }
  }

  test("chunked rolling stats equal direct for dividing and non-dividing buckets") {
    for (seed <- Seq(19L, 20L); bucketUs <- Seq(10000000L, 17777777L)) {
      val df = randomEvents(seed, 300)
      val rangeUs = 10000000L
      val direct = CoreOps.rollingRangeStats(df, "user", "ts", "value", rangeUs)
        .select(col("id"), col("n_range"), col("sum_milli_range"))
      val chunked = CoreOps.rollingRangeStatsChunked(
        df, "user", "ts", "value", rangeUs, bucketUs)
        .select(col("id"), col("n_range"), col("sum_milli_range"))
      assert(chunked.count() === direct.count())
      assert(direct.exceptAll(chunked).count() === 0L)
      assert(chunked.exceptAll(direct).count() === 0L)
    }
  }

  test("burst alerts: every alert diff is positive and under threshold") {
    for (seed <- Seq(6L, 7L)) {
      val df = randomEvents(seed, 400).filter(col("op") === "Delete")
      val alerts = CoreOps.burstAlerts(df, "user", "ts", "id", 10000000L).collect()
      assert(alerts.forall { r =>
        val d = r.getAs[Long]("diff_us"); d >= 0 && d < 10000000L
      })
    }
  }

  test("action durations: non-negative, and logout rows never act as previous") {
    for (seed <- Seq(8L, 9L)) {
      val df = randomEvents(seed, 400)
      val durations = CoreOps.actionDurations(
        df, "user", "op", "ts", "id", loginAction = "Create", logoutAction = "Delete")
      val rows = durations.collect()
      assert(rows.forall(_.getAs[Long]("duration_us") >= 0))
      assert(rows.forall(_.getAs[String]("action") != "Delete"))
    }
  }

  test("late-data split is a partition: onTime + late = input, late older than wm") {
    val df = randomEvents(10L, 300)
    val (onTime, late) = CoreOps.lateDataSplit(
      df, "ts", CoreOps.pseudoArrival(col("id")), 2000000L,
      CoreOps.pseudoArrivalChunk(col("id")))
    assert(onTime.count() + late.count() === 300L)
    assert(onTime.select("id").intersect(late.select("id")).count() === 0L)
  }

  test("chunked late-data split equals the sequential prefix-max definition") {
    val df = randomEvents(14L, 300)
    val (_, late) = CoreOps.lateDataSplit(
      df, "ts", CoreOps.pseudoArrival(col("id")), 2000000L,
      CoreOps.pseudoArrivalChunk(col("id")))
    val got = late.select("id").as[Long].collect().toSet
    // brute force: replay rows in arrival order, track the running max ts
    val rows = df
      .select(col("id"), unix_micros(col("ts")).as("ts_us"),
        CoreOps.pseudoArrival(col("id")).as("arr"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._3)
    var wm = Long.MinValue
    val expected = scala.collection.mutable.Set[Long]()
    for ((id, ts, _) <- rows) {
      if (wm != Long.MinValue && ts < wm - 2000000L) expected += id
      wm = math.max(wm, ts)
    }
    assert(got === expected.toSet)
  }

  test("asof backward join matches the brute-force range-join definition") {
    import java.sql.Timestamp
    val left = Seq(
      (1L, 10L, new Timestamp(5000)),
      (2L, 10L, new Timestamp(12000)),
      (3L, 10L, new Timestamp(12000)), // tie with right row at 12000 -> inclusive
      (4L, 20L, new Timestamp(8000)),  // key with no earlier right row -> null
      (5L, 30L, new Timestamp(9000)))  // key absent on the right -> null
      .toDF("event_id", "k", "ts")
    val right = Seq(
      (10L, new Timestamp(1000), 100L),
      (10L, new Timestamp(12000), 101L),
      (10L, new Timestamp(20000), 102L),
      (20L, new Timestamp(9000), 200L))
      .toDF("rk", "rts", "payload")
    val got = CoreOps.asofJoinBackward(left, right, "k", "rk", "ts", "rts", Seq("payload"))
      .select(col("event_id"), col("asof_payload")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // brute force: greatest rts <= ts per key
    assert(got === Map(1L -> 100L, 2L -> 101L, 3L -> 101L, 4L -> -1L, 5L -> -1L))
  }

  test("minhash LSH pairs are a subset of exact jaccard pairs at the threshold") {
    val rnd = new Random(13L)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa")
    def doc() = (0 until 40).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 30).map(i => (i.toLong, doc(), "s"))
    // plant near-dups
    val planted = base ++ Seq((100L, base(0)._2 + " extra", "s"), (101L, base(1)._2, "s"))
    val docs = planted.toDF("doc_id", "text", "source")
    val exact = graft.functions.Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", "source", 3, 500, Int.MaxValue)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = graft.functions.Dedup
      .minhashLshPairs(docs, "text", "doc_id", 3, 4, 4, 500)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"LSH produced pairs not in exact set: ${lsh -- exact}")
    assert(lsh.contains((1L, 101L)), "exact duplicate must always collide in LSH")
  }

  test("scd2History: intervals tile each key's timeline, reconstruct the log") {
    for (seed <- Seq(21L, 22L)) {
      val rnd = new Random(seed)
      val rows = (0 until 400).map { i =>
        (i.toLong, (rnd.nextInt(3) + 1).toLong,
          ops(rnd.nextInt(ops.size)),
          new Timestamp(1577215616071L + rnd.nextInt(1000000)))
      }
      val hist = CoreOps.scd2History(
        rows.toDF("event_id", "key", "attr0", "ts"), "key", "ts",
        "event_id", "attr0")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4)))
      for ((k, vs) <- hist.groupBy(_._1)) {
        // equal-ts updates produce empty [t, t) versions: order those
        // before the surviving version at the same instant
        val sorted = vs.sortBy(v => (v._3, v._4.getOrElse(Long.MaxValue)))
        // exactly one open (current) version per key, and it is the last
        assert(sorted.count(_._5 == 1L) === 1)
        assert(sorted.last._4.isEmpty && sorted.last._5 === 1L)
        // intervals tile: each version ends where the next begins
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(a._4.contains(b._3), s"key $k: gap between versions")
            assert(a._2 != b._2, s"key $k: consecutive versions share attr")
          case _ => ()
        }
        // point-in-time reconstruction equals the raw log at every event
        val log = rows.filter(_._2 == k)
          .map(r => (r._4.getTime * 1000L, r._1, r._3)).sortBy(x => (x._1, x._2))
        for ((tsu, _, _) <- log) {
          val v = sorted.filter(s => s._3 <= tsu &&
            s._4.forall(_ > tsu)).lastOption
          // ties at a version boundary resolve to the later version,
          // which carries the last-written attr at that instant
          val expect = log.filter(_._1 <= tsu).last._3
          assert(v.exists(_._2 == expect),
            s"key $k at $tsu: version ${v.map(_._2)} != log $expect")
        }
      }
    }
  }

  test("resampleFfill equals the naive per-key grid walk on random events") {
    for (seed <- Seq(5L, 6L)) {
      val rnd = new Random(seed)
      val step = 10000000L // 10 s cells
      val rows = (0 until 300).map { i =>
        (i.toLong, (rnd.nextInt(4) + 1).toLong,
          new Timestamp(1577215616071L + rnd.nextInt(600000)), // 10 min span
          rnd.nextInt(1000) / 100.0)
      }
      val df = rows.toDF("id", "key", "ts", "value")
      val got = CoreOps.resampleFfill(df, "key", "ts", "value", step)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      // naive reference
      val byKey = rows.groupBy(_._2)
      val want = byKey.flatMap { case (k, rs) =>
        val obs = rs.map(r => (r._3.getTime * 1000L, math.floor(r._4 * 100).toLong))
        val cells = obs.map(_._1 / step)
        (cells.min to cells.max).map { c =>
          val upTo = obs.filter(_._1 < (c + 1) * step)
          val inCell = obs.filter(o => o._1 / step == c)
          val v = upTo.max // (ts, vc) lexicographic: last ts, ties by value
          (k, c * step) -> (v._2, if (inCell.nonEmpty) 1L else 0L)
        }
      }
      assert(got === want, s"seed $seed: resample != naive grid walk")
      // grid completeness: contiguous cells per key, first cell has an obs
      for ((k, rs) <- byKey) {
        val cells = got.keys.filter(_._1 == k).map(_._2).toSeq.sorted
        assert(cells.head === (rs.map(_._3.getTime * 1000L / step).min * step))
        assert(cells.size === (cells.last - cells.head) / step + 1, "grid has holes")
        assert(got((k, cells.head))._2 === 1L, "first cell must hold an observation")
      }
    }
  }
}
