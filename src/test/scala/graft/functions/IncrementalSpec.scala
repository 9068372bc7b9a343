package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Checkpoints.Owned

/** The IVM contract: a stored summary merged with a delta summary must be
  * bit-identical to recomputing over the whole input — per batch split,
  * per fold order, including keys that exist on only one side.
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  private def collectSummary(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("l_returnflag", "l_linestatus")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq

  test("merge(base, delta) is bit-identical to the full recompute") {
    val full = collectSummary(
      graft.SparkEntry.queries("tpch_q1_pricing")(spark, d))
    val merged = collectSummary(
      graft.SparkEntry.queries("tpch_q1_incremental")(spark, d))
    assert(merged === full)
  }

  test("per-batch summaries fold to the full summary in any batch split") {
    val li = graft.sources.Tables.lineitem(spark, d)
    val full = collectSummary(Incremental.pricingSummary(li))
    // three uneven batches by orderkey residue, folded left-to-right
    val batches = Seq(
      li.filter(pmod(col("l_orderkey"), lit(5)) < 2),
      li.filter(pmod(col("l_orderkey"), lit(5)) === 2),
      li.filter(pmod(col("l_orderkey"), lit(5)) > 2))
      .map(Incremental.pricingSummary)
    val folded = batches.reduce(Incremental.mergePricingSummaries)
    assert(collectSummary(folded) === full)
  }

  test("streaming maintenance: folded micro-batch summaries equal the " +
      "full recompute, and a replayed batch is a no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val li = graft.sources.Tables.lineitem(spark, d)
      .select("l_shipdate", "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      .as[(java.sql.Timestamp, String, String, Double, Double, Double, Double)]
      .collect().toSeq
    val full = collectSummary(
      Incremental.pricingSummary(graft.sources.Tables.lineitem(spark, d)))
    val base = tempDir("graft-ivm").toString
    val input = MemoryStream[(java.sql.Timestamp, String, String, Double, Double, Double, Double)]
    val delta = input.toDF().toDF("l_shipdate", "l_returnflag", "l_linestatus",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val q = Incremental.maintainPricingSummary(delta, s"$base/summary", s"$base/ck").start()
    try {
      // three uneven micro-batches
      val (b1, rest) = li.splitAt(li.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      for (b <- Seq(b1, b2, b3)) { input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val streamed = Incremental.latestSummary(spark, s"$base/summary")
    assert(streamed.isDefined)
    assert(collectSummary(streamed.get) === full)
    // replay batch 1: re-running its write against the same version dir
    // must regenerate IDENTICAL contents (pre-batch state excluded by
    // v < batchId), leaving the final summary unchanged
    val b1df = li.take(li.size / 3).toDF("l_shipdate", "l_returnflag",
      "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val replayDelta = Incremental.pricingSummary(b1df)
    val prev0 = Incremental.latestSummary(spark, s"$base/summary", beforeBatch = Some(0L))
    assert(prev0.isEmpty, "batch 0's replay must see no earlier state")
    replayDelta.coalesce(1).write.mode("overwrite").parquet(s"$base/summary/v=0")
    val after = Incremental.latestSummary(spark, s"$base/summary")
    assert(collectSummary(after.get) === full, "replay of batch 0 changed the summary")
  }

  private def collectDatasheet(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("source")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq

  test("datasheet state merge is bit-identical to the full datasheet " +
      "(monoid scalars + support-count distincts), in any fold order") {
    val docs = graft.sources.Tables.documents(spark, d)
    val full = collectDatasheet(Curation.datasheet(docs, "text", "source", "lang"))
    val parts = Seq(
      docs.filter(pmod(col("doc_id"), lit(5)) < 2),
      docs.filter(pmod(col("doc_id"), lit(5)) === 2),
      docs.filter(pmod(col("doc_id"), lit(5)) > 2))
      .map(Incremental.datasheetState(_, "text", "source", "lang"))
    val folded = parts.reduce(Incremental.mergeDatasheetStates)
    assert(collectDatasheet(Incremental.datasheetFromState(folded)) === full)
    // right-fold too: the merge must be order-free
    val foldedR = parts.reverse.reduce(Incremental.mergeDatasheetStates)
    assert(collectDatasheet(Incremental.datasheetFromState(foldedR)) === full)
  }

  /** A datasheet state with every count negated: merging it retracts
    * the rows it was built from.
    */
  private def negated(s: Incremental.DatasheetState) = Incremental.DatasheetState(
    scalars = s.scalars.select(col("source"), (-col("n_docs")).as("n_docs"),
      (-col("n_tokens")).as("n_tokens"), (-col("sum_quality_milli")).as("sum_quality_milli")),
    digests = s.digests.select(col("source"), col("digest"), (-col("cnt")).as("cnt")),
    langs = s.langs.select(col("source"), col("lang"), (-col("cnt")).as("cnt")))

  test("retraction: a COW delete composes with a negated-state downdate") {
    // the GDPR path end-to-end: a corpus lake partitioned by source, a
    // maintained datasheet state, then Lake.deleteByIds removes docs and
    // the state is DOWNDATED by merging the deleted slice's negated
    // state — no rescan of the survivors. Support counts make the two
    // exact distinct counts retraction-correct: a digest's row dies only
    // with its last copy.
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text", "source", "lang")
    val lakeDir = tempDir("graft-ds-lake").toString
    docs.write.mode("overwrite").partitionBy("source").parquet(lakeDir)
    val state0 = Incremental.datasheetState(docs, "text", "source", "lang")
    // delete every 7th doc (hits several sources and some duplicate texts)
    val delIds = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select("doc_id").as[Long].collect().toSeq
    val deletedSlice = docs.filter(col("doc_id").isin(delIds: _*))
      .checkpointed() // must be captured BEFORE the lake rewrite
    val stats = graft.sinks.Lake.deleteByIds(spark, lakeDir, "source", "doc_id", delIds)
    assert(stats.rowsDeleted === delIds.size)
    val downdated = Incremental.mergeDatasheetStates(state0,
      negated(Incremental.datasheetState(deletedSlice, "text", "source", "lang")))
    val survivors = spark.read.parquet(lakeDir)
    assert(collectDatasheet(Incremental.datasheetFromState(downdated)) ===
      collectDatasheet(Curation.datasheet(survivors, "text", "source", "lang")),
      "downdated state diverges from the recompute over the surviving lake")
    // full retraction of one source: its row must VANISH from the view,
    // exactly as a recompute would drop it
    val (srcGone :: _) = docs.select("source").distinct()
      .as[String].collect().toList.sorted: @unchecked
    val goneSlice = survivors.filter(col("source") === srcGone)
    val downdated2 = Incremental.mergeDatasheetStates(downdated,
      negated(Incremental.datasheetState(goneSlice, "text", "source", "lang")))
    val view2 = collectDatasheet(Incremental.datasheetFromState(downdated2))
    assert(!view2.exists(_._1 == srcGone), "fully-retracted source survived")
    assert(view2 === collectDatasheet(Curation.datasheet(
      survivors.filter(col("source") =!= srcGone), "text", "source", "lang")))
  }

  test("streaming datasheet maintenance: micro-batched state equals the " +
      "full datasheet, and a replayed batch is a no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text", "source", "lang")
    val rows = docs.as[(Long, String, String, String)].collect().toSeq
    val full = collectDatasheet(Curation.datasheet(docs, "text", "source", "lang"))
    val base = tempDir("graft-ds-ivm").toString
    val input = MemoryStream[(Long, String, String, String)]
    val delta = input.toDF().toDF("doc_id", "text", "source", "lang")
    val q = Incremental.maintainDatasheet(delta, "text", "source", "lang",
      s"$base/state", s"$base/ck").start()
    try {
      val (b1, rest) = rows.splitAt(rows.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      for (b <- Seq(b1, b2, b3)) { input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val streamed = Incremental.latestDatasheetState(spark, s"$base/state")
    assert(streamed.isDefined)
    assert(collectDatasheet(Incremental.datasheetFromState(streamed.get)) === full)
    // replay batch 0 against its own version dir: the pre-batch read
    // excludes v=0 (v < batchId), so the rewrite regenerates identical
    // contents and the final maintained view is unchanged
    val b1df = rows.take(rows.size / 3)
      .toDF("doc_id", "text", "source", "lang")
    val replayDelta = Incremental.datasheetState(b1df, "text", "source", "lang")
    assert(Incremental.latestDatasheetState(spark, s"$base/state",
      beforeBatch = Some(0L)).isEmpty, "batch 0's replay must see no earlier state")
    for ((name, df) <- Seq("scalars" -> replayDelta.scalars,
        "digests" -> replayDelta.digests, "langs" -> replayDelta.langs))
      df.write.mode("overwrite").parquet(s"$base/state/v=0/$name")
    val after = Incremental.latestDatasheetState(spark, s"$base/state")
    assert(collectDatasheet(Incremental.datasheetFromState(after.get)) === full,
      "replay of batch 0 changed the maintained datasheet")
  }

  test("join view: composed delta terms equal the full join; an A-side " +
      "retraction is one ANTI join on the view") {
    import graft.operators.CoreOps.scaledCenti
    val a = graft.sources.Tables.orders(spark, d).select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      scaledCenti(col("o_totalprice")).as("p_c"))
    val b = graft.sources.Tables.customer(spark, d).select(
      col("c_custkey").as("custkey"), col("c_name"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey", "custkey", "p_c", "c_name")
        .as[(Long, Long, Long, String)].collect().toSet
    val full = rows(a.join(b, "custkey"))
    val (aOld, aDelta) = (a.filter(pmod(col("o_orderkey"), lit(4)) =!= 0),
      a.filter(pmod(col("o_orderkey"), lit(4)) === 0))
    val (bOld, bDelta) = (b.filter(pmod(col("custkey"), lit(3)) =!= 0),
      b.filter(pmod(col("custkey"), lit(3)) === 0))
    val composed = aOld.join(bOld, "custkey").unionByName(
      Incremental.deltaJoinView(aOld, aDelta, bOld, bDelta, "custkey"))
    assert(rows(composed) === full, "delta-composed view diverges from the full join")
    // retraction: deleting A-rows removes exactly their view rows — one
    // keyed ANTI join, no re-join of the surviving sides
    val dead = a.filter(pmod(col("o_orderkey"), lit(5)) === 0)
    val retracted = composed.join(dead.select(col("o_orderkey")),
      Seq("o_orderkey"), "left_anti")
    val recomputed = a.filter(pmod(col("o_orderkey"), lit(5)) =!= 0).join(b, "custkey")
    assert(rows(retracted) === rows(recomputed),
      "ANTI-join retraction diverges from the survivor re-join")
  }

  test("DAU state: fold equals the full dashboard; retraction is exact") {
    val ev = graft.sources.Tables.events(spark, d)
    def dash(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("day_start").as[(Long, Long, Long)].collect().toSeq
    val full = dash(graft.SparkEntry.queries("daily_active_users")(spark, d))
    val parts = Seq(
      ev.filter(pmod(col("event_id"), lit(3)) === 0),
      ev.filter(pmod(col("event_id"), lit(3)) === 1),
      ev.filter(pmod(col("event_id"), lit(3)) === 2))
      .map(Incremental.dauState)
    val folded = parts.reduce(Incremental.mergeDauStates)
    assert(dash(Incremental.dauFromState(folded)) === full)
    // retract one slice: the downdated state must equal the recompute
    // over the remainder — including users whose LAST event of a day
    // died (dau drops) vs users with other same-day events (dau holds)
    val gone = ev.filter(pmod(col("event_id"), lit(3)) === 2)
    val g = Incremental.dauState(gone)
    val down = Incremental.mergeDauStates(folded, Incremental.DauState(
      days = g.days.select(col("day_start"), (-col("n")).as("n")),
      users = g.users.select(col("day_start"), col("user_id"), (-col("cnt")).as("cnt"))))
    val remainder = ev.filter(pmod(col("event_id"), lit(3)) =!= 2)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(countDistinct(col("user_id")).as("dau"), count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("day_start"), col("dau"), col("n"))
    assert(dash(Incremental.dauFromState(down)) === dash(remainder))
  }

  test("join+aggregate view: delta-folded monoid state equals the full " +
      "recompute; retraction via negated partial sums is exact") {
    import graft.operators.CoreOps.scaledCenti
    val a = graft.sources.Tables.orders(spark, d).select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      scaledCenti(col("o_totalprice")).as("p_c"))
    val b = graft.sources.Tables.customer(spark, d).select(
      col("c_custkey").as("custkey"), col("c_name"))
    val keys = Seq("custkey", "c_name")
    val sums = Seq("p_c")
    def view(df: org.apache.spark.sql.DataFrame) =
      df.select("custkey", "c_name", "p_c", "n")
        .orderBy("custkey").as[(Long, String, Long, Long)].collect().toSeq
    def full(orders: org.apache.spark.sql.DataFrame) =
      view(orders.join(b, "custkey").groupBy(col("custkey"), col("c_name"))
        .agg(sum(col("p_c")).as("p_c"), count(lit(1)).as("n")))
    val (aOld, aDelta) = (a.filter(pmod(col("o_orderkey"), lit(4)) =!= 0),
      a.filter(pmod(col("o_orderkey"), lit(4)) === 0))
    val (bOld, bDelta) = (b.filter(pmod(col("custkey"), lit(3)) =!= 0),
      b.filter(pmod(col("custkey"), lit(3)) === 0))
    val state = Incremental.mergeJoinAggStates(
      Incremental.joinAggState(aOld.join(bOld, "custkey"), keys, sums),
      Incremental.joinAggState(
        Incremental.deltaJoinView(aOld, aDelta, bOld, bDelta, "custkey"),
        keys, sums),
      keys, sums)
    assert(view(state) === full(a),
      "delta-folded join-agg state diverges from the full recompute")
    // retraction: delete some orders — the deleted view slice is ONE
    // delta-sized join; its negated state downdates the aggregate exactly,
    // including customers whose LAST order dies (key drops from the view)
    val dead = a.filter(pmod(col("o_orderkey"), lit(5)) === 0)
    val deadState = Incremental.joinAggState(dead.join(b, "custkey"), keys, sums)
    val down = Incremental.mergeJoinAggStates(state,
      deadState.select(keys.map(col) ++ sums.map(c => (-col(c)).as(c)) :+
        (-col("n")).as("n"): _*),
      keys, sums)
    assert(view(down) === full(a.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)),
      "negated-sum retraction diverges from the survivor recompute")
  }

  test("partitioned count table: a delta rewrites only its own partitions " +
      "(untouched partitions byte-identical), replay is a no-op, and the " +
      "maintained state equals the full recompute") {
    val docs = graft.sources.Tables.documents(spark, d)
    def digests(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("source"), md5(col("text")).as("digest"))
        .agg(count(lit(1)).as("cnt"))
    val stateDir = tempDir("graft-cntpart").toString
    val keys = Seq("source", "digest")
    val parts = 8
    val b0 = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val b1 = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    assert(Incremental.mergeCountsPartitioned(spark, stateDir,
      digests(b0), keys, "cnt", parts, batchId = 0L))
    // snapshot every data file's raw-byte CRC before the second delta
    def fileCrcs(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(s"$stateDir/data")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).map { p =>
          val crc = new java.util.zip.CRC32()
          crc.update(java.nio.file.Files.readAllBytes(p))
          p.toString -> crc.getValue
        }.toMap
    }
    val before = fileCrcs()
    // second delta: a handful of docs — few digest keys, so they hash
    // into a strict subset of the partitions
    val delta1 = digests(b1.orderBy("doc_id").limit(5)).checkpointed()
    val affected = delta1
      .select(pmod(xxhash64(col("source"), col("digest")), lit(parts)).as("p"))
      .distinct().as[Long].collect().toSet
    assert(affected.size < parts,
      s"test premise: the delta must miss some partitions (hit $affected)")
    assert(Incremental.mergeCountsPartitioned(spark, stateDir,
      delta1, keys, "cnt", parts, batchId = 1L))
    val after = fileCrcs()
    // untouched partitions: every pre-existing file OUTSIDE the affected
    // partitions is still present with identical bytes
    val untouchedBefore = before.filter { case (p, _) =>
      !affected.exists(a => p.contains(s"__p=$a/")) }
    untouchedBefore.foreach { case (p, crc) =>
      assert(after.get(p).contains(crc),
        s"untouched partition file rewritten or removed: $p")
    }
    // replay of batch 1: marker-guarded no-op, bytes unchanged everywhere
    assert(!Incremental.mergeCountsPartitioned(spark, stateDir,
      delta1, keys, "cnt", parts, batchId = 1L))
    assert(fileCrcs() === after, "replayed batch mutated the state table")
    // the maintained table equals the full recompute over both batches
    val got = Incremental.readCountsPartitioned(spark, stateDir, keys, "cnt")
    assert(got.isDefined)
    val want = Incremental.mergeCounts(digests(b0), delta1, keys, "cnt")
    assert(got.get.exceptAll(want).isEmpty && want.exceptAll(got.get).isEmpty,
      "maintained count table diverges from the recompute")
    // retraction: negative counts remove their keys; a fully-cancelled
    // batch leaves exactly the b0 state
    assert(Incremental.mergeCountsPartitioned(spark, stateDir,
      delta1.select(col("source"), col("digest"), (-col("cnt")).as("cnt")),
      keys, "cnt", parts, batchId = 2L))
    val got2 = Incremental.readCountsPartitioned(spark, stateDir, keys, "cnt").get
    val want2 = digests(b0)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty,
      "negative-count retraction diverges from the pre-delta state")
  }

  test("streaming partitioned count maintenance: micro-batched keyed " +
      "merges equal the full recompute, and a replayed batch is a no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text", "source")
    val rows = docs.as[(Long, String, String)].collect().toSeq
    def digests(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("source"), md5(col("text")).as("digest"))
        .agg(count(lit(1)).as("cnt"))
    val keys = Seq("source", "digest")
    val base = tempDir("graft-cntstream").toString
    val input = MemoryStream[(Long, String, String)]
    val delta = input.toDF().toDF("doc_id", "text", "source")
      .select(col("source"), md5(col("text")).as("digest"), lit(1L).as("cnt"))
    val q = Incremental.maintainCountsPartitioned(delta, s"$base/state",
      keys, "cnt", partitions = 8, s"$base/ck").start()
    try {
      val (b1, rest) = rows.splitAt(rows.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      for (b <- Seq(b1, b2, b3)) { input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = Incremental.readCountsPartitioned(spark, s"$base/state", keys, "cnt")
    assert(got.isDefined)
    val want = digests(docs)
    assert(got.get.exceptAll(want).isEmpty && want.exceptAll(got.get).isEmpty,
      "streamed partitioned count table diverges from the full recompute")
    // replay batch 0 directly (the foreachBatch at-least-once case): the
    // commit marker makes it a no-op — counts unchanged
    val b1df = rows.take(rows.size / 3).toDF("doc_id", "text", "source")
    assert(!Incremental.mergeCountsPartitioned(spark, s"$base/state",
      digests(b1df), keys, "cnt", partitions = 8, batchId = 0L))
    val after = Incremental.readCountsPartitioned(spark, s"$base/state", keys, "cnt").get
    assert(after.exceptAll(want).isEmpty && want.exceptAll(after).isEmpty,
      "replayed batch 0 changed the maintained count table")
  }

  test("partitioned count table: empty first batch cannot poison the state, " +
      "an all-cancelling table read is None, and a partition-count mismatch " +
      "fails fast") {
    val stateDir = tempDir("graft-cntedge").toString
    val keys = Seq("k")
    val empty = Seq.empty[(String, Long)].toDF("k", "cnt")
    // batch 0 is EMPTY (streaming routinely delivers empty micro-batches):
    // it must commit its marker without creating a schemaless data/ dir
    assert(Incremental.mergeCountsPartitioned(spark, stateDir,
      empty, keys, "cnt", partitions = 4, batchId = 0L))
    assert(Incremental.readCountsPartitioned(spark, stateDir, keys, "cnt").isEmpty)
    // a fully-cancelling batch (sums to zero per key) is the same case
    val cancel = Seq(("a", 3L), ("a", -3L)).toDF("k", "cnt")
    assert(Incremental.mergeCountsPartitioned(spark, stateDir,
      cancel, keys, "cnt", partitions = 4, batchId = 1L))
    // real data still lands cleanly after the empty batches
    val d2 = Seq(("a", 2L), ("b", 1L)).toDF("k", "cnt")
    assert(Incremental.mergeCountsPartitioned(spark, stateDir,
      d2, keys, "cnt", partitions = 4, batchId = 2L))
    val got = Incremental.readCountsPartitioned(spark, stateDir, keys, "cnt").get
    assert(got.orderBy("k").as[(String, Long)].collect().toSeq ===
      Seq(("a", 2L), ("b", 1L)))
    // retract EVERYTHING: the table empties to no live partitions — the
    // read must report None (not fail on a bare _SUCCESS), and a later
    // batch must treat the table as fresh state
    val kill = Seq(("a", -2L), ("b", -1L)).toDF("k", "cnt")
    assert(Incremental.mergeCountsPartitioned(spark, stateDir,
      kill, keys, "cnt", partitions = 4, batchId = 3L))
    assert(Incremental.readCountsPartitioned(spark, stateDir, keys, "cnt").isEmpty)
    assert(Incremental.mergeCountsPartitioned(spark, stateDir,
      Seq(("c", 7L)).toDF("k", "cnt"), keys, "cnt", partitions = 4, batchId = 4L))
    assert(Incremental.readCountsPartitioned(spark, stateDir, keys, "cnt")
      .get.as[(String, Long)].collect().toSeq === Seq(("c", 7L)))
    // the table was built with P=4: merging with a different modulus would
    // prune the wrong slices and strand stale rows — it must fail fast
    val ex = intercept[IllegalArgumentException] {
      Incremental.mergeCountsPartitioned(spark, stateDir,
        Seq(("d", 1L)).toDF("k", "cnt"), keys, "cnt", partitions = 8, batchId = 5L)
    }
    assert(ex.getMessage.contains("partitions=4"))
  }

  test("upsertPartitioned dropKeys: dropped keys leave the table, emptied " +
      "slices lose their directory, a contradictory batch fails loudly, " +
      "replay is marker-detected") {
    val stateDir = tempDir("graft-upd").toString
    val keys = Seq("k")
    def read() = Incremental.readCountsPartitioned(spark, stateDir, keys, "v")
      .map(_.as[(Long, Long)].collect().toMap).getOrElse(Map.empty[Long, Long])
    // seed 8 keys across 4 slices
    assert(Incremental.upsertPartitioned(spark, stateDir,
      (0L until 8L).map(k => (k, k * 10L)).toDF("k", "v"),
      keys, "v", partitions = 4, batchId = 0L))
    // batch 1: rewrite one key, drop two (incl. one sharing a slice with
    // a survivor), ignore a never-stored drop key (harmless)
    assert(Incremental.upsertPartitioned(spark, stateDir,
      Seq((0L, 99L)).toDF("k", "v"), keys, "v", partitions = 4, batchId = 1L,
      dropKeys = Some(Seq(3L, 5L, 999L).toDF("k"))))
    assert(read() === (0L until 8L).filterNot(k => k == 3L || k == 5L)
      .map(k => k -> (if (k == 0L) 99L else k * 10L)).toMap)
    // batch 2: drop EVERYTHING — every slice empties, directories go,
    // and the reader reports no live state rather than a schema error
    assert(Incremental.upsertPartitioned(spark, stateDir,
      Seq.empty[(Long, Long)].toDF("k", "v"), keys, "v", partitions = 4,
      batchId = 2L, dropKeys = Some((0L until 8L).toDF("k"))))
    assert(read() === Map.empty[Long, Long])
    assert(!new java.io.File(s"$stateDir/data").exists() ||
      new java.io.File(s"$stateDir/data").listFiles()
        .count(_.getName.startsWith("__p=")) === 0,
      "emptied slices kept their directories")
    // replay of batch 2 is a no-op via the marker
    assert(!Incremental.upsertPartitioned(spark, stateDir,
      Seq.empty[(Long, Long)].toDF("k", "v"), keys, "v", partitions = 4,
      batchId = 2L, dropKeys = Some((0L until 8L).toDF("k"))))
    // a batch that both writes and drops a key is a contradiction
    val ex = intercept[IllegalArgumentException] {
      Incremental.upsertPartitioned(spark, stateDir,
        Seq((7L, 1L)).toDF("k", "v"), keys, "v", partitions = 4, batchId = 3L,
        dropKeys = Some(Seq(7L).toDF("k")))
    }
    assert(ex.getMessage.contains("writes and drops"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
  }

  test("keys present in only one side pass through the merge") {
    // synthetic summaries with disjoint + overlapping keys
    val a = Seq(("A", "F", 10L, 100L, 90L, 95L, 2L),
                ("N", "O", 5L, 50L, 45L, 47L, 1L))
      .toDF("l_returnflag", "l_linestatus", "sum_qty_c", "sum_base_c",
        "sum_disc_c", "sum_charge_c", "n")
    val b = Seq(("A", "F", 1L, 10L, 9L, 10L, 1L),
                ("R", "F", 7L, 70L, 63L, 66L, 3L))
      .toDF("l_returnflag", "l_linestatus", "sum_qty_c", "sum_base_c",
        "sum_disc_c", "sum_charge_c", "n")
    val got = collectSummary(Incremental.mergePricingSummaries(a, b))
    assert(got === Seq(
      ("A", "F", 11L, 110L, 99L, 105L, 3L),
      ("N", "O", 5L, 50L, 45L, 47L, 1L),
      ("R", "F", 7L, 70L, 63L, 66L, 3L)))
  }
}
