package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's operator surface (SURVEY.md §2), re-expressed as pure
  * `DataFrame => DataFrame` transforms over Spark built-ins. Every function
  * here is usable both on batch DataFrames (the DuckDB-oracle correctness
  * gate runs them in batch) and — where Spark supports the operator in a
  * streaming plan — on streaming DataFrames (see `graft.streaming` for the
  * stateful/streaming-only pieces).
  *
  * Scale notes are attached per operator: these run map-side partial
  * aggregation, shuffle only on their grouping keys, and never collect to
  * the driver, so the same plans hold on a 1000-executor cluster.
  */
object CoreOps {

  /** Exact integer-scaled values: `floor(x * 1000)` and `floor(x * 100)`
    * as BIGINT.
    *
    * Double summation is order-sensitive, so cross-engine result comparison
    * (and even Spark-vs-itself across partitionings) of `sum(double)` is
    * non-deterministic in the last bits. Quantizing each input to an
    * integer first makes every aggregate bit-exact and order-independent —
    * the IEEE multiply+floor is identical in any engine.
    */
  def scaledMilli(c: Column): Column = floor(c * 1000).cast("long")
  def scaledCenti(c: Column): Column = floor(c * 100).cast("long")

  /** Window start as epoch seconds (BIGINT) for stable, engine-neutral
    * output (raw TIMESTAMP values round-trip differently across engines).
    */
  private def windowStartSec(w: Column): Column = w.getField("start").cast("long")

  // ---------------------------------------------------------------------
  // A1 (`chapter2/BasicStreamingOperations.java:83-91`): unkeyed count per
  // tumbling window. Flink needed a map-to-(ts,1) + reduce; in Spark it is
  // a windowed count with map-side partial aggregation — the all-window
  // no longer forces parallelism 1 except for the final tiny merge.
  def tumblingCountAll(df: DataFrame, tsCol: String, width: String): DataFrame =
    df.groupBy(window(col(tsCol), width).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(windowStartSec(col("w")).as("window_start"), col("n"))

  // A2 (`chapter2/KeyedStreamOperations.java:56-69`): keyed running reduce
  // (no window). Converged batch value = per-key totals; streaming twin
  // runs the same plan in update mode.
  def keyedRunningTotal(df: DataFrame, key: String, valueCol: String): DataFrame =
    df.groupBy(col(key))
      .agg(
        count(lit(1)).as("n_events"),
        sum(scaledMilli(col(valueCol))).cast("long").as("total_value_milli"))

  // A3 (`chapter3/WindowingOperations.java:79-100`): sliding all-window
  // (count, min ts, max ts).
  def slidingSummaryAll(df: DataFrame, tsCol: String, width: String, slide: String): DataFrame =
    df.groupBy(window(col(tsCol), width, slide).as("w"))
      .agg(
        count(lit(1)).as("n"),
        min(unix_micros(col(tsCol))).as("min_ts_us"),
        max(unix_micros(col(tsCol))).as("max_ts_us"))
      .select(windowStartSec(col("w")).as("window_start"), col("n"), col("min_ts_us"), col("max_ts_us"))

  // A4 (`chapter3/WindowingOperations.java:133-157`): keyed session window
  // with gap. Native `session_window` (Spark >= 3.2) — works in batch and
  // streaming; state is per (key, session), merged by the session operator.
  def sessionSummary(df: DataFrame, key: String, tsCol: String, gap: String, valueCol: String): DataFrame =
    df.groupBy(col(key), session_window(col(tsCol), gap).as("w"))
      .agg(
        count(lit(1)).as("n"),
        sum(scaledMilli(col(valueCol))).cast("long").as("sum_value_milli"))
      .select(
        col(key),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n"),
        col("sum_value_milli"))

  /** A4 for skewed keys: time-chunked ("salted by time") sessionization.
    *
    * [[sessionSummary]]'s plan shuffles every row of a key to ONE reducer
    * — correct, but a hot key (one user with 10^8 events at 100 TB)
    * serializes through a single task. This is the two-pass form:
    *   1. sessionize within (key, time-bucket): adding the bucket to the
    *      grouping key spreads a hot key across its time range, so no
    *      reducer ever sees more than one bucket of one key;
    *   2. merge bucket-boundary splits: per key, order the (few) local
    *      sessions by start and merge adjacent ones whose start precedes
    *      the running max end — since a session's end is last-event + gap,
    *      `start < prev_end` is EXACTLY the "gap not yet expired"
    *      condition, so the merge reconstructs the unchunked sessions
    *      bit-for-bit. The merge window is partitioned by key but runs
    *      over per-SESSION rows (bounded by buckets + true sessions), not
    *      per-event rows — the skew is gone before any per-key ordering.
    * Identical output to [[sessionSummary]]; oracle-checked against the
    * same DuckDB SQL (`a4_sessions_chunked`) and equality-tested on
    * planted hot-key corpora (`InvariantSpec`).
    *
    * @param bucketUs chunk width; any value >= gapUs is correct (smaller
    *                 buckets spread hotter keys wider but split more
    *                 sessions; ~day buckets suit ~hour gaps)
    */
  def sessionSummaryChunked(
      df: DataFrame,
      key: String,
      tsCol: String,
      gapUs: Long,
      bucketUs: Long,
      valueCol: String): DataFrame = {
    require(bucketUs >= gapUs, "bucket must be at least the session gap")
    val local = df
      .withColumn("__bucket", floor(unix_micros(col(tsCol)) / lit(bucketUs)))
      .groupBy(col(key), col("__bucket"),
        session_window(col(tsCol), s"$gapUs microseconds").as("w"))
      .agg(
        count(lit(1)).as("__n"),
        sum(scaledMilli(col(valueCol))).cast("long").as("__sv"))
      .select(
        col(key),
        unix_micros(col("w.start")).as("__s"),
        unix_micros(col("w.end")).as("__e"),
        col("__n"), col("__sv"))
    val byStart = Window.partitionBy(col(key)).orderBy(col("__s"))
    val prevMaxEnd = max(col("__e")).over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    local
      .withColumn("__new", when(prevMaxEnd.isNull || col("__s") >= prevMaxEnd, 1).otherwise(0))
      .withColumn("__island", sum(col("__new")).over(byStart))
      .groupBy(col(key), col("__island"))
      .agg(
        min(col("__s")).as("session_start_us"),
        max(col("__e")).as("session_end_us"),
        sum(col("__n")).as("n"),
        sum(col("__sv")).as("sum_value_milli"))
      .drop("__island")
  }

  // A5 (`chapter6/CourseUseCase.java:82-95`): count per composite key per
  // tumbling window.
  def keyedTumblingCount(df: DataFrame, tsCol: String, width: String, keys: String*): DataFrame =
    df.groupBy(window(col(tsCol), width).as("w") +: keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(windowStartSec(col("w")).as("window_start") +: keys.map(col) :+ col("n"): _*)

  // A6 (`chapter4/EventTimeOperations.java:132-166`): event-time tumbling
  // count — same shape as A1 but keyed by the *event* time column; late
  // data handling is the W2 split below.
  def eventTimeCount(df: DataFrame, eventTsCol: String, width: String): DataFrame =
    tumblingCountAll(df, eventTsCol, width)

  // ---------------------------------------------------------------------
  // X1 (`chapter2/StreamSplitAndCombine.java:66-103`): side-output split.
  // Spark-native shape: N filters over one source; Catalyst prunes each
  // branch's columns independently and the source scan is shared when the
  // plan is materialized per-branch from cache (or re-scanned, which for
  // columnar parquet is usually cheaper than caching).
  def splitByPredicate(df: DataFrame, pred: Column): (DataFrame, DataFrame) =
    (df.filter(pred), df.filter(!pred))

  // X2 (`chapter2/StreamSplitAndCombine.java:119-144`): connect/CoMap merge
  // -> map both sides to a common schema, tag provenance, unionByName.
  def taggedUnion(streams: Seq[(String, DataFrame)]): DataFrame =
    streams
      .map { case (tag, d) => d.withColumn("src", lit(tag)) }
      .reduce(_ unionByName _)

  // ---------------------------------------------------------------------
  // J1 (`chapter3/WindowJoins.java:110-144`): tumbling-window equi-join.
  // Both sides are bucketed into the same tumbling window, then inner-joined
  // on (bucket, key) — identical pairing semantics to Flink's window join.
  // At scale: the join shuffles on (window, key); if one side is small,
  // Catalyst/AQE picks a broadcast join automatically.
  def windowedEquiJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      width: String): DataFrame = {
    val l = left.withColumn("w", windowStartSec(window(col(tsCol), width)))
    val r = right.withColumn("w", windowStartSec(window(col(tsCol), width)))
    l.join(r.withColumnRenamed(tsCol, tsCol + "_r"), Seq("w", key))
  }

  // ---------------------------------------------------------------------
  // J2: keyed interval join — pair (l, r) on `key` where
  // r.ts ∈ [l.ts - lowerUs, l.ts + upperUs], bounds inclusive. The
  // time-RANGE companion to J1's same-bucket pairing (Flink's
  // KeyedStream.intervalJoin / between(lower, upper); the reference stops
  // at the bucketed form, `chapter3/WindowJoins.java:110-144`).
  //
  // Scale shape: a raw range predicate joins as a per-key sort-merge scan
  // (or worse, a nested loop) — O(per-key l x r) with no partition bound.
  // This form stays an EQUI-join: bucket both sides by
  // W = lowerUs + upperUs; a left row's match span [ts-lower, ts+upper]
  // has length exactly W, so it touches exactly TWO buckets
  // (floor((ts+upper)/W) = floor((ts-lower)/W) + 1) — the left side
  // explodes x2 to its candidate buckets, the right side keeps its single
  // bucket, the join shuffles on (bucket, key), and the exact range
  // predicate filters the paired rows. Each (l, r) pair meets in at most
  // one bucket (r's bucket is unique), so no dedup pass is needed.
  // Bucketing is pure long arithmetic (x - pmod(x, W): floor semantics
  // for any sign), fully codegen'd.
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      lowerUs: Long,
      upperUs: Long): DataFrame = {
    require(lowerUs >= 0 && upperUs >= 0 && lowerUs + upperUs > 0,
      s"non-negative bounds with a positive span required, got [-$lowerUs, +$upperUs]")
    val wUs = lowerUs + upperUs
    def bucketOf(x: Column): Column = x - pmod(x, lit(wUs))
    val l = left
      .withColumn("__lts", unix_micros(col(tsCol)))
      .withColumn("__b", explode(array(
        bucketOf(col("__lts") - lowerUs), bucketOf(col("__lts") + upperUs))))
    val r = right
      .withColumnRenamed(tsCol, tsCol + "_r")
      .withColumn("__rts", unix_micros(col(tsCol + "_r")))
      .withColumn("__b", bucketOf(col("__rts")))
    l.join(r, Seq("__b", key))
      .filter(col("__rts") >= col("__lts") - lowerUs &&
        col("__rts") <= col("__lts") + upperUs)
      .drop("__b", "__lts", "__rts")
  }

  // ---------------------------------------------------------------------
  // J3: keyed AS-OF join — for every left row, the single most recent
  // right row with r.ts <= l.ts on the same key (the point-in-time lookup
  // of feature stores, market data, and slowly-changing dimensions).
  // Spark has no native as-of; the classic rewrite as
  // `JOIN ... ON r.ts <= l.ts` + argmax degenerates to a per-key
  // nested-loop or an unbounded sort-merge scan. This form never joins at
  // all: tag both sides, UNION them, and run ONE running
  // `last(right_value IGNORE NULLS)` window per key ordered by
  // (ts, side) — right rows sort before left rows at equal ts, so the
  // carry is inclusive. One shuffle on `key`, no pair blow-up, whole
  // plan codegen'd.
  //
  // Determinism: right rows that tie on (key, ts) are ordered by their
  // packed value struct, so `last` always returns the struct-max of the
  // tied rows (callers wanting a specific winner should pre-aggregate the
  // right side to one row per (key, ts)). Right payload columns must be
  // orderable (no arrays/maps) and must not collide with left names.
  //
  // Skew: the window partitions by `key` alone — a hot key serializes
  // through one reducer, exactly like direct sessionization. The chunked
  // twin below is the skew-immune form.
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String): DataFrame =
    asofUnionWindow(left, right, key, tsCol, bucketUs = None)

  /** [[asofJoin]] with the hot-key-immune two-pass shape (the pattern of
    * `sessionSummaryChunked`/`lateDataSplit`): rows bucket by
    * `ts div bucketUs`; pass 1 reduces each (key, bucket) to its LAST
    * right value — a bounded summary frame; pass 2 prefix-carries that
    * summary across buckets per key (window over the summary, at most
    * span/bucketUs rows per key); pass 3 resolves within-bucket with a
    * window PARTITIONED by (key, bucket), seeded by the carried-in value.
    * A hot key's rows spread over its time buckets instead of one
    * reducer. Output is bit-identical to [[asofJoin]]
    * (InvariantSpec-gated).
    */
  def asofJoinChunked(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    asofUnionWindow(left, right, key, tsCol, bucketUs = Some(bucketUs))
  }

  private def asofUnionWindow(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      bucketUs: Option[Long]): DataFrame = {
    val rPayload = right.columns.filter(c => c != key && c != tsCol)
    val collide = rPayload.intersect(left.columns)
    require(collide.isEmpty,
      s"right payload columns collide with left: ${collide.mkString(", ")}")
    // cast handles TIMESTAMP_NTZ / DATE ts columns (unix_micros needs
    // TIMESTAMP; with a UTC session the instant is unchanged)
    def tsMicros(c: Column) =
      unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))
    // pack the right row into ONE struct ordered by (ts, payload...): a
    // single ignore-nulls carry column — a right row whose payload happens
    // to be null still occludes older rows, which per-column carries
    // would get wrong
    val r = right.select(
      col(key) +:
        tsMicros(col(tsCol)).as("__ts") +:
        lit(0).as("__side") +:
        struct(tsMicros(col(tsCol)).as("__rts") +: rPayload.map(col): _*)
          .as("__rv") +:
        Nil: _*)
    val l = left
      .withColumn("__ts", tsMicros(col(tsCol)))
      .withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)

    val carried = bucketUs match {
      case None =>
        val w = Window.partitionBy(col(key))
          .orderBy(col("__ts"), col("__side"), col("__rv"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.withColumn("__m", last(col("__rv"), ignoreNulls = true).over(w))
      case Some(b) =>
        val bu = u.withColumn("__b", col("__ts") - pmod(col("__ts"), lit(b)))
        // pass 1: last right value per (key, bucket) — max over the
        // (ts, payload) struct IS the latest-in-bucket (null for
        // left-only buckets, which still must appear for the carry)
        val summary = bu.groupBy(col(key), col("__b"))
          .agg(max(col("__rv")).as("__bl"))
        // pass 2: carried-in value = last non-null bucket value STRICTLY
        // before this bucket; window over the summary frame only
        val wS = Window.partitionBy(col(key)).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val carryIn = summary
          .withColumn("__cin", last(col("__bl"), ignoreNulls = true).over(wS))
          .select(col(key), col("__b"), col("__cin"))
        // pass 3: within-bucket resolve, seeded by the carry-in
        val wB = Window.partitionBy(col(key), col("__b"))
          .orderBy(col("__ts"), col("__side"), col("__rv"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bu.join(carryIn, Seq(key, "__b"))
          .withColumn("__m",
            coalesce(last(col("__rv"), ignoreNulls = true).over(wB), col("__cin")))
          .drop("__b", "__cin")
    }
    val withMatch = carried
      .filter(col("__side") === 1)
      .withColumn(tsCol + "_r", timestamp_micros(col("__m.__rts")))
    rPayload.foldLeft(withMatch) { (df, c) => df.withColumn(c, col("__m." + c)) }
      .drop("__ts", "__side", "__rv", "__m")
  }

  // ---------------------------------------------------------------------
  // W2 (`chapter4/EventTimeOperations.java:128-171`): late-data side output.
  // Batch analog: given an explicit arrival order, a row is late iff its
  // event time is older than (high watermark so far) - allowedLateness.
  // The streaming twin (true watermark tee) lives in
  // `graft.streaming.LateDataSplit`.
  //
  // A running prefix-max over a total order is the textbook case where a
  // naive `Window.orderBy(ord)` serializes the whole corpus through one
  // task. This is the chunked two-pass form instead:
  //   1. bucket rows by `chunkCol` — any coarse MONOTONE function of the
  //      arrival order (chunk(x) < chunk(y) must imply x < y);
  //   2. aggregate per-chunk max(ts) — a tiny O(chunks) summary;
  //   3. prefix-max that summary across chunks with a broadcast range
  //      self-join (O(chunks^2) on ~hundreds of rows, no window at all);
  //   4. resolve within-chunk with a window PARTITIONED by chunk.
  // Every stage is shuffle-parallel; nothing in the plan is single-task.
  def lateDataSplit(
      df: DataFrame,
      tsCol: String,
      arrivalOrder: Column,
      allowedLatenessUs: Long,
      chunkCol: Column): (DataFrame, DataFrame) = {
    val base = df
      .withColumn("__ord", arrivalOrder)
      .withColumn("__chunk", chunkCol)
      .withColumn("__ts_us", unix_micros(col(tsCol)))
    // tiny per-chunk summary; prefix-max via broadcast range self-join
    // (left join keeps the first chunk, whose prefix-max is null)
    val chunkMax = base.groupBy(col("__chunk")).agg(max(col("__ts_us")).as("__cmax"))
    val prevChunkMax = chunkMax.select(col("__chunk"), col("__cmax"))
      .join(
        broadcast(chunkMax.select(col("__chunk").as("__pc"), col("__cmax").as("__pmax"))),
        col("__pc") < col("__chunk"), "left")
      .groupBy(col("__chunk"))
      .agg(max(col("__pmax")).as("__prev_chunk_max"))
    val w = Window.partitionBy(col("__chunk")).orderBy(col("__ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withWm = base
      .join(broadcast(prevChunkMax), Seq("__chunk"))
      .withColumn("__within_max", max(col("__ts_us")).over(w))
      // greatest() skips nulls: null only when BOTH are null (first row of
      // the first chunk) — exactly "no watermark yet"
      .withColumn("wm_us", greatest(col("__prev_chunk_max"), col("__within_max")))
    val isLate = col("wm_us").isNotNull &&
      col("__ts_us") < col("wm_us") - lit(allowedLatenessUs)
    val helpers = Seq("__ord", "__chunk", "__ts_us", "__prev_chunk_max", "__within_max", "wm_us")
    (withWm.filter(!isLate).drop(helpers: _*), withWm.filter(isLate).drop(helpers: _*))
  }

  // ---------------------------------------------------------------------
  // T1: per-key trailing-range features — at every event, the count and
  // exact integer-scaled sum of the key's events inside the trailing
  // `rangeUs` window (the rolling feature columns a training pipeline
  // derives before a point-in-time join, see [[asofJoin]]). A RANGE frame
  // over epoch micros, not a ROWS frame: rows tying on (key, ts) are
  // frame PEERS in both engines, so the output is deterministic under
  // ties by construction. Sum is over [[scaledMilli]]-quantized longs —
  // bit-exact and order-independent cross-engine.
  //
  // Scale: one shuffle on `key`; the frame is evaluated in a single sort
  // pass per partition with a sliding accumulator (Spark's bounded-frame
  // WindowExec), memory O(max rows in any `rangeUs` span). Hot-key skew:
  // same posture as sessionization — pre-chunk by a coarse time bucket
  // (carrying a bucket-boundary summary) exactly like
  // `sessionSummaryChunked` if one key dominates.
  def rollingRangeStats(
      df: DataFrame,
      key: String,
      tsCol: String,
      valueCol: String,
      rangeUs: Long): DataFrame = {
    require(rangeUs > 0, s"rangeUs must be positive, got $rangeUs")
    val w = Window.partitionBy(col(key)).orderBy(col("__ts_us"))
      .rangeBetween(-rangeUs, Window.currentRow)
    df.withColumn("__ts_us", unix_micros(col(tsCol)))
      .withColumn("__v_milli", scaledMilli(col(valueCol)))
      .withColumn("n_range", count(lit(1)).over(w))
      .withColumn("sum_milli_range", sum(col("__v_milli")).over(w))
      .drop("__v_milli")
      .withColumnRenamed("__ts_us", "ts_us")
  }

  /** [[rollingRangeStats]] for a hot key: rows bucket by
    * `ts div bucketUs` (bucketUs >= rangeUs required), and each row
    * ADDITIONALLY copies into the NEXT bucket when its trailing reach
    * crosses the boundary (`ts + rangeUs` past bucket end) — so every
    * bucket partition physically holds all rows any of its own rows'
    * frames can see, the RANGE window runs PARTITIONED by (key, bucket),
    * and only own-bucket copies emit. Bit-identical to the direct form
    * (InvariantSpec; same oracle), <= 2x row duplication, per-task work
    * bounded by bucket span instead of key history.
    */
  def rollingRangeStatsChunked(
      df: DataFrame,
      key: String,
      tsCol: String,
      valueCol: String,
      rangeUs: Long,
      bucketUs: Long): DataFrame = {
    require(rangeUs > 0, s"rangeUs must be positive, got $rangeUs")
    require(bucketUs >= rangeUs,
      s"bucketUs ($bucketUs) must be >= rangeUs ($rangeUs): a frame may " +
        "only reach back into the immediately previous bucket")
    val base = df
      .withColumn("__ts_us", unix_micros(col(tsCol)))
      .withColumn("__v_milli", scaledMilli(col(valueCol)))
      .withColumn("__b0", col("__ts_us") - pmod(col("__ts_us"), lit(bucketUs)))
    val exploded = base.withColumn("__b",
      explode(when(col("__ts_us") + rangeUs >= col("__b0") + bucketUs,
        array(col("__b0"), col("__b0") + bucketUs))
        .otherwise(array(col("__b0")))))
    val w = Window.partitionBy(col(key), col("__b")).orderBy(col("__ts_us"))
      .rangeBetween(-rangeUs, Window.currentRow)
    exploded
      .withColumn("n_range", count(lit(1)).over(w))
      .withColumn("sum_milli_range", sum(col("__v_milli")).over(w))
      .filter(col("__b") === col("__b0"))
      .drop("__b", "__b0", "__v_milli")
      .withColumnRenamed("__ts_us", "ts_us")
  }

  /** T2: time-grid resample + forward fill — the gap-fill step between
    * raw events and a fixed-cadence feature table (pandas `asfreq`+
    * `ffill`, distributed). Per key: a `stepUs` grid spans the key's own
    * observed range; each grid cell carries the LAST observation at or
    * before the cell's end (ties on ts broken by larger value, so the
    * reduce is a deterministic `max(struct(ts, value))`), forward-filled
    * across empty cells. `has_obs` marks cells with a real observation.
    *
    * Scale shape: one partial-aggregating groupBy(key, cell) collapses
    * raw rows to at most one row per cell BEFORE any window; the grid
    * explode emits span/stepUs rows per key (bounded by calendar time,
    * not event volume); the ffill is one running `last(ignoreNulls)`
    * window per key over CELL rows — a hot key with millions of events
    * still windows over only its grid cells. No leading nulls by
    * construction (the first cell of a span contains that key's first
    * observation).
    * Output: (key, cell_us, value_centi, has_obs), integer-exact.
    */
  def resampleFfill(
      df: DataFrame,
      key: String,
      tsCol: String,
      valueCol: String,
      stepUs: Long): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    val b = df
      .withColumn("__ts_us", unix_micros(col(tsCol)))
      .withColumn("__vc", scaledCenti(col(valueCol)))
      .withColumn("__cell", expr(s"__ts_us div $stepUs"))
    val cells = b.groupBy(col(key), col("__cell"))
      .agg(max(struct(col("__ts_us"), col("__vc"))).as("__o"))
      .select(col(key), col("__cell"), col("__o.__vc").as("__obs_vc"))
    val grid = b.groupBy(col(key))
      .agg(min(col("__cell")).as("__c0"), max(col("__cell")).as("__c1"))
      .select(col(key), explode(sequence(col("__c0"), col("__c1"))).as("__cell"))
    val w = Window.partitionBy(col(key)).orderBy(col("__cell"))
    grid.join(cells, Seq(key, "__cell"), "left")
      .withColumn("value_centi", last(col("__obs_vc"), ignoreNulls = true).over(w))
      .withColumn("has_obs", col("__obs_vc").isNotNull.cast("long"))
      .select(col(key), (col("__cell") * stepUs).as("cell_us"),
        col("value_centi"), col("has_obs"))
  }

  /** SCD Type 2 history: collapse a per-key change log into
    * validity-interval rows (the warehouse "slowly changing dimension"
    * shape a CDC feed compacts into). Consecutive equal attribute values
    * merge into one version (gaps-and-islands); each version carries
    * `[valid_from_us, valid_to_us)` with a NULL `valid_to_us` (and
    * `is_current = 1`) on the open head version.
    *
    * Plan shape: two key-partitioned windows — a lag() to mark island
    * starts, then a lead() over only the (much smaller) island rows to
    * close intervals. Both shuffles share the (key) partitioning; per-
    * task work is key-history-bounded. Total order inside a key is
    * (ts, tieBreak), so equal-timestamp updates resolve
    * deterministically.
    */
  def scd2History(
      df: DataFrame,
      key: String,
      tsCol: String,
      tieBreak: String,
      attrCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("__ts_us"), col(tieBreak))
    df.withColumn("__ts_us", unix_micros(col(tsCol)))
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col(attrCol))
      .withColumn("valid_from_us", col("__ts_us"))
      .withColumn("valid_to_us", lead(col("__ts_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull.cast("long"))
      .select(col(key), col(attrCol).as("attr"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
  }

  // ---------------------------------------------------------------------
  // ST1 (`chapter5/StatefulOperations.java:84-129`): per-key "two trigger
  // events within N" alert. Batch analog via lag(); streaming twin uses
  // flatMapGroupsWithState (graft.streaming.StatefulOps) and, unlike the
  // reference, emits nothing instead of a "No-Alerts" sentinel (P4's
  // downstream filter becomes unnecessary — kept as `filter` anyway for
  // API parity).
  def burstAlerts(
      df: DataFrame,
      key: String,
      tsCol: String,
      tieBreak: String,
      thresholdUs: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), col(tieBreak))
    df.withColumn("prev_ts_us", lag(unix_micros(col(tsCol)), 1).over(w))
      .withColumn("diff_us", unix_micros(col(tsCol)) - col("prev_ts_us"))
      .filter(col("prev_ts_us").isNotNull && col("diff_us") < lit(thresholdUs))
      .select(col(key), col(tieBreak), col("diff_us"))
  }

  // ST2 (`chapter6/CourseUseCase.java:114-180`): per-key previous-action
  // duration state machine. Semantics: for each event (ordered by time per
  // key), emit (key, previous action, now - previous ts) unless
  //   - there is no previous event (first for key),
  //   - the previous event was `logoutAction` (state was cleared),
  //   - the current event is `loginAction` (reference skips emission).
  def actionDurations(
      df: DataFrame,
      key: String,
      actionCol: String,
      tsCol: String,
      tieBreak: String,
      loginAction: String,
      logoutAction: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), col(tieBreak))
    df.withColumn("prev_action", lag(col(actionCol), 1).over(w))
      .withColumn("prev_ts_us", lag(unix_micros(col(tsCol)), 1).over(w))
      .filter(
        col("prev_action").isNotNull &&
          col("prev_action") =!= lit(logoutAction) &&
          col(actionCol) =!= lit(loginAction))
      .select(
        col(key),
        col(tieBreak),
        col("prev_action").as("action"),
        (unix_micros(col(tsCol)) - col("prev_ts_us")).as("duration_us"))
  }

  /** Backward as-of join: for every left row, attach the single right row
    * with the greatest `tsR <= tsL` for the same key (the standard
    * "latest state as of event time" join — an operator Spark lacks as a
    * primitive).
    *
    * Implementation is the scale-correct union-sort-window form, not the
    * O(matches) range-join-then-rank form: both sides are tagged and
    * unioned, one shuffle+sort per key orders right rows before left rows
    * at equal timestamps, and `last(_, ignoreNulls)` carries the most
    * recent right payload forward onto each left row. Cost: one exchange
    * of |L|+|R| thin rows, no join blowup, skew governed by the hottest
    * key. Right-side (key, tsR) pairs must be unique for a deterministic
    * result — pre-aggregate the right side if needed.
    *
    * @param right     (rightKey, tsR, payload) — payload = the remaining cols
    * @param valueCols right columns to carry onto left rows
    */
  def asofJoinBackward(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      tsL: String,
      tsR: String,
      valueCols: Seq[String]): DataFrame = {
    // thin adapter over the J3 core ([[asofJoin]]): align the right
    // side's key/ts names with the left's, prefix payloads to dodge
    // collisions, and rename outputs to the historical `asof_` contract.
    // Routing through the shared core upgraded two subtleties for free:
    // the carry is a PACKED STRUCT (a right row with a null payload cell
    // still occludes older rows — per-column carries mixed cells from
    // different rows), and right-side (key, ts) ties resolve
    // deterministically to the struct max instead of being undefined.
    val r = right.select(
      col(rightKey).as(leftKey) +:
        col(tsR).as(tsL) +:
        valueCols.map(c => col(c).as("__v_" + c)): _*)
    asofUnionWindow(left, r, leftKey, tsL, bucketUs = None)
      .select(left.columns.map(col) ++
        valueCols.map(c => col("__v_" + c).as("asof_" + c)): _*)
  }

  /** Forward as-of ("next matching event"): for every click row of `ev`
    * — (user_id, event_type, ts_us, event_id) — attach
    * `next_purchase_us` = the minimum purchase ts among the same user's
    * rows strictly later in (ts_us, event_id) order. One partitioned
    * window over the unioned substreams (descending order, running min),
    * no range join, no per-user quadratic.
    */
  def funnelNextPurchase(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", col("ts_us"))).over(w))
      .filter(col("event_type") === "click")
  }

  /** N-step ordered funnel: for every user, the earliest completion of
    * the ordered step sequence (each step strictly after the previous
    * pick in `(ts_us, event_id)` order). Greedy-earliest is MAXIMAL: any
    * valid step assignment can only be shifted earlier, so the earliest
    * pick at each stage never costs a later stage (spec-pinned against a
    * brute-force search). Output per user reaching step 1: `user_id`,
    * `t1_us..tN_us` (null once unreached), `steps_reached`.
    *
    * Scale shape: one narrow filtered pass + keyed partial-aggregate
    * `min(struct)` PER STEP, each joined against the thin user-sized
    * frame of previous picks — no windows, no per-user sorts, no
    * quadratic anything; a hot user costs one extra aggregate row per
    * step. Steps count is the (small) plan depth, not a data dimension.
    */
  def funnelSteps(ev: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelSteps needs at least one step")
    val base = ev.select(col("user_id"), col("event_type"),
      col("ts_us"), col("event_id"))
    var cur = base.filter(col("event_type") === steps.head)
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts_us"), col("event_id"))).as("__m1"))
    for (i <- 2 to steps.length) {
      val nxt = base.filter(col("event_type") === steps(i - 1))
        .join(cur.select(col("user_id"), col(s"__m${i - 1}")), "user_id")
        .filter(struct(col("ts_us"), col("event_id")) > col(s"__m${i - 1}"))
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts_us"), col("event_id"))).as(s"__m$i"))
      cur = cur.join(nxt, Seq("user_id"), "left")
    }
    cur.select(
      col("user_id") +:
        steps.indices.map(i => col(s"__m${i + 1}.ts_us").as(s"t${i + 1}_us")) :+
        steps.indices
          .map(i => when(col(s"__m${i + 1}").isNotNull, 1).otherwise(0))
          .reduce(_ + _).cast("long").as("steps_reached"): _*)
  }

  /** [[funnelNextPurchase]] for a pathologically hot user: the same
    * output, but the running future-min is the chunked two-pass form (the
    * family pattern of `sessionSummaryChunked` / `lateDataSplit` /
    * `packSequencesChunked`, here as a SUFFIX-min): per-(user, time
    * bucket) purchase minima — a tiny summary — are suffix-min'd with a
    * broadcast range self-join, and only the within-bucket remainder uses
    * a window PARTITIONED by (user, bucket). Buckets are a function of
    * ts, so cross-bucket rows are strictly later and the (ts, event_id)
    * tie-break only matters within a bucket — the merge is exact.
    */
  def funnelNextPurchaseChunked(ev: DataFrame, bucketUs: Long): DataFrame = {
    val base = ev.withColumn("__chunk", floor(col("ts_us") / lit(bucketUs)))
    val chunkMin = base.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("__chunk")).agg(min(col("ts_us")).as("__cmin"))
    val laterMin = base.select(col("user_id"), col("__chunk")).distinct()
      .join(
        broadcast(chunkMin.select(col("user_id").as("__u"),
          col("__chunk").as("__pc"), col("__cmin"))),
        col("__u") === col("user_id") && col("__pc") > col("__chunk"), "left")
      .groupBy(col("user_id"), col("__chunk"))
      .agg(min(col("__cmin")).as("__later_min"))
    val w = Window.partitionBy(col("user_id"), col("__chunk"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .join(broadcast(laterMin), Seq("user_id", "__chunk"), "left")
      .withColumn("__within_min",
        min(when(col("event_type") === "purchase", col("ts_us"))).over(w))
      // least() skips nulls: null only when no later purchase exists at all
      .withColumn("next_purchase_us", least(col("__within_min"), col("__later_min")))
      .filter(col("event_type") === "click")
      .drop("__chunk", "__within_min", "__later_min")
  }

  /** Deterministic pseudo-arrival order for batch replays of streaming
    * semantics: a keyed md5 permutation of a unique id column. Used to give
    * the W2 batch analog genuinely out-of-order "arrivals" on corpora that
    * are stored time-sorted.
    */
  def pseudoArrival(idCol: Column): Column = md5(idCol.cast("string"))

  /** The matching chunk key for [[lateDataSplit]]: the first two hex chars
    * of the md5 arrival order — 256 uniform chunks, and a string prefix is
    * monotone in the lexicographic order of the full digest.
    */
  def pseudoArrivalChunk(idCol: Column): Column =
    substring(pseudoArrival(idCol), 1, 2)

  // =====================================================================
  // Skew-adaptive twin dispatch. The engine ships direct + chunked twins
  // for every per-key-ordered operator (sessions A4, as-of J3, rolling
  // T1): the direct form is one shuffle + one window — the cheapest plan
  // on well-distributed keys — but serializes a hot key through a single
  // reducer (measured super-linear past ~99%-hot corpora); the chunked
  // form adds a bounded summary pass and is immune. Until now the CALLER
  // had to know which to pick. These `*Auto` forms measure the top-key
  // share (the `key_skew_report` diagnostic as a driver-side scalar) and
  // route — safe precisely because the twins are bit-identical
  // (InvariantSpec-gated), so a routing flip can never change results,
  // only cost. This is the same stats-then-plan posture as AQE's skew
  // join, applied to window operators AQE cannot rewrite.

  /** Share of rows held by the single heaviest key — the routing scalar.
    *
    * One column-pruned scan, a partial-agg `groupBy(key).count`, a 1-row
    * global agg, a 1-row collect: nothing driver-side scales with the
    * data. Cost accounting (16M rows, SCALING "Skewed keys"): the probe
    * IS the key-column scan — row-sampling does not avoid it (measured
    * sampled 1.1 s vs exact 1.1 s; the per-row RNG cancels the smaller
    * agg), so the default is the exact, deterministic probe. On parquet
    * input the scan is column-pruned to the key alone; at cluster scale
    * amortize further by probing once per table epoch (the share is a
    * property of the DATA, not of the query) and passing the decision
    * through explicitly. `sampleFraction < 1` remains for callers whose
    * agg (very wide key domains) dominates the scan; a sample under 50k
    * rows falls back to exact — small corpora make the exact scan cheap
    * precisely when the sample is unstable. Returns 0.0 on an empty
    * frame.
    */
  def topKeyShare(
      df: DataFrame,
      key: String,
      sampleFraction: Double = 1.0,
      seed: Long = 42L): Double = {
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction in (0, 1], got $sampleFraction")
    def probe(frame: DataFrame): (Long, Long) = {
      val row = frame.groupBy(col(key)).agg(count(lit(1)).as("__n"))
        .agg(max(col("__n")).as("__mx"), sum(col("__n")).as("__tot"))
        .collect()(0) // exactly one row by construction
      if (row.isNullAt(0) || row.isNullAt(1)) (0L, 0L)
      else (row.getLong(0), row.getLong(1))
    }
    val keys = df.select(col(key))
    val (mx, tot) =
      if (sampleFraction >= 1.0) probe(keys)
      else {
        val est = probe(keys.sample(sampleFraction, seed))
        if (est._2 >= 50000L) est else probe(keys)
      }
    if (tot == 0L) 0.0 else mx.toDouble / tot.toDouble
  }

  /** True iff the corpus should take the chunked (skew-immune) twin.
    *
    * Exposed separately so tests and telemetry can observe the decision
    * itself, not just the plan it produced. Threshold semantics: a key
    * holding more than `skewThreshold` of all rows makes the direct
    * form's slowest task do that share of ALL per-key window work — at
    * 0.05 and 1000 executors that is a 50x straggler, well past the
    * chunked twin's bounded summary-pass overhead.
    */
  def routeChunked(
      df: DataFrame,
      key: String,
      skewThreshold: Double = 0.05,
      sampleFraction: Double = 1.0,
      seed: Long = 42L): Boolean =
    topKeyShare(df, key, sampleFraction, seed) > skewThreshold

  /** [[asofJoin]] / [[asofJoinChunked]] with skew-routed dispatch. The
    * probe runs over BOTH sides' keys unioned: a hot key on either side
    * serializes the union window either way.
    */
  def asofJoinAuto(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      bucketUs: Long,
      skewThreshold: Double = 0.05,
      sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame = {
    val keys = left.select(col(key)).unionAll(right.select(col(key)))
    if (routeChunked(keys, key, skewThreshold, sampleFraction, seed))
      asofJoinChunked(left, right, key, tsCol, bucketUs)
    else asofJoin(left, right, key, tsCol)
  }

  /** [[sessionSummary]] / [[sessionSummaryChunked]] with skew-routed
    * dispatch.
    */
  def sessionSummaryAuto(
      df: DataFrame,
      key: String,
      tsCol: String,
      gapUs: Long,
      bucketUs: Long,
      valueCol: String,
      skewThreshold: Double = 0.05,
      sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame =
    if (routeChunked(df, key, skewThreshold, sampleFraction, seed))
      sessionSummaryChunked(df, key, tsCol, gapUs, bucketUs, valueCol)
    else sessionSummary(df, key, tsCol, s"$gapUs microseconds", valueCol)

  /** [[rollingRangeStats]] / [[rollingRangeStatsChunked]] with
    * skew-routed dispatch.
    */
  def rollingRangeStatsAuto(
      df: DataFrame,
      key: String,
      tsCol: String,
      valueCol: String,
      rangeUs: Long,
      bucketUs: Long,
      skewThreshold: Double = 0.05,
      sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame =
    if (routeChunked(df, key, skewThreshold, sampleFraction, seed))
      rollingRangeStatsChunked(df, key, tsCol, valueCol, rangeUs, bucketUs)
    else rollingRangeStats(df, key, tsCol, valueCol, rangeUs)
}
