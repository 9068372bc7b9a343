package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CoreOps
import graft.functions.Checkpoints.Owned

/** Incremental view maintenance (IVM) for the distributive aggregates —
  * the 100 TB answer to "a 1 GB delta arrived; do not rescan the lake".
  *
  * The TPC-H Q1 pricing summary is all integer SUMs and COUNTs (the
  * engine's centi-scaled fixed-point convention), so it is a
  * commutative monoid per (returnflag, linestatus) key: the summary of
  * `base ∪ delta` is the key-wise ADDITION of the two summaries — the
  * same algebra Spark's own partial aggregates exploit map-side, lifted
  * to a STORED summary table. Maintenance cost is sized by the delta
  * (one scan of the new rows + a merge on |keys| rows), never the lake.
  * Deletions/retractions follow the same algebra with NEGATED counts —
  * [[negateDatasheetState]] composes with [[graft.sinks.Lake.deleteByIds]]
  * so a COW delete downdates the maintained view without a rescan
  * (IncrementalSpec's retraction case).
  *
  * Non-monoid aggregates (the datasheet's exact distinct counts) are
  * maintained via SUPPORT COUNTS — the classic IVM device: keep one
  * counted row per distinct key, derive `count(DISTINCT ...)` as "rows
  * with cnt > 0". The support table is distinct-value-sized (the
  * intrinsic floor for EXACT distinct maintenance; swap in a DataSketches
  * HLL union, `hll_sketch_agg` + `hll_union_agg` as in
  * `weekly_active_users_sketch`, when approximate is acceptable), and
  * each delta touches only its own keys.
  *
  * `IncrementalSpec` proves merge(base, delta) is bit-identical to the
  * full recompute, and the `tpch_q1_incremental` / `datasheet_incremental`
  * gate rows prove it against the independent DuckDB oracle (whose SQL
  * is the PLAIN full aggregate — the merged path must land on the same
  * hash).
  */
object Incremental {

  /** The Q1 pricing summary over any lineitem slice, unordered —
    * centi-scaled integer sums + count per (returnflag, linestatus),
    * exactly the `tpch_q1_pricing` aggregate.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= expr("TIMESTAMP '2000-09-02 00:00:00'"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(CoreOps.scaledCenti(col("l_quantity"))).as("sum_qty_c"),
        sum(CoreOps.scaledCenti(col("l_extendedprice"))).as("sum_base_c"),
        sum(CoreOps.scaledCenti(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_c"),
        sum(CoreOps.scaledCenti(
          col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))))
          .as("sum_charge_c"),
        count(lit(1)).as("n"))

  /** Streaming IVM: maintain the pricing summary under a micro-batched
    * lineitem delta stream. Every micro-batch computes its own
    * delta-sized summary, merges it with the LATEST summary version
    * written by an EARLIER batch, and overwrites `summaryDir/v=<batchId>`
    * — deterministic per batch id, so an at-least-once foreachBatch
    * replay re-reads exactly the pre-batch state (its own half-written
    * version is excluded by `v < batchId`) and re-produces identical
    * contents: exactly-once summary state without transactions, the
    * [[graft.streaming.StreamOps.dedupIngestStream]] `excludeBatchId`
    * idea applied to a summary table.
    *
    * Scale shape per micro-batch: one delta-sized aggregate + a merge
    * over two |keys|-row frames + one |keys|-row snapshot write. The
    * version listing is one driver-side directory scan (one entry per
    * micro-batch — compact by deleting versions below the last commit
    * on whatever retention the caller runs). Read the current summary
    * with [[latestSummary]].
    */
  def maintainPricingSummary(
      deltaLineitem: DataFrame,
      summaryDir: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deltaLineitem.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val delta = pricingSummary(batch.toDF())
        val merged = latestSummary(batch.sparkSession, summaryDir,
            beforeBatch = Some(batchId))
          .map(mergePricingSummaries(_, delta)).getOrElse(delta)
        // |keys| rows: one file is the right layout for a summary table
        merged.coalesce(1).write.mode("overwrite")
          .parquet(s"$summaryDir/v=$batchId")
        ()
      }

  /** Newest COMMITTED summary snapshot under `summaryDir` (strictly
    * below `beforeBatch` when given — the replay-exclusion read). None
    * before the first commit. One bounded driver-side listing, never
    * data-sized.
    *
    * Listed through the Hadoop FileSystem bound to the path, so the
    * versioned dir works on any supported filesystem (hdfs://, s3a://,
    * file:) — a `java.io.File` listing would silently return nothing on
    * a remote store and collapse the maintained summary to the last
    * delta. Only versions carrying the `_SUCCESS` commit marker count:
    * a concurrent reader racing an in-flight `mode("overwrite")` (which
    * deletes the marker first) never observes a half-written snapshot.
    */
  def latestSummary(
      spark: org.apache.spark.sql.SparkSession,
      summaryDir: String,
      beforeBatch: Option[Long] = None): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(summaryDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else {
      val dirs = fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
        .filter(st => beforeBatch.forall(
          st.getPath.getName.stripPrefix("v=").toLong < _))
      val versions = dirs
        .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.getName.stripPrefix("v=").toLong)
      // versioned dirs exist but NONE carries a commit marker: either a
      // transient mid-overwrite race (at most the newest version) or a
      // committer-config mismatch (mapreduce.fileoutputcommitter.
      // marksuccessfuljobs=false writes no markers at all) — the latter
      // would silently collapse every maintained summary to the latest
      // delta alone, so surface it instead of returning a quiet None
      if (versions.isEmpty && dirs.nonEmpty)
        System.err.println(s"[graft] WARN latestSummary: ${dirs.length} " +
          s"version dir(s) under $summaryDir but none carries _SUCCESS — " +
          "mid-overwrite race, or the committer writes no success markers " +
          "(marksuccessfuljobs=false); the maintained summary reads as absent")
      if (versions.isEmpty) None
      else Some(spark.read.parquet(s"$summaryDir/v=${versions.max}"))
    }
  }

  /** Key-wise monoid merge of two pricing summaries: integer sums and
    * counts add; keys present in only one side pass through (the union +
    * re-aggregate form — associative, order-free, and the plan is a
    * partial-agg groupBy over |keys_a| + |keys_b| SUMMARY rows, not data
    * rows). Chain it to fold any number of per-batch summaries.
    */
  def mergePricingSummaries(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = Seq("l_returnflag", "l_linestatus", "sum_qty_c", "sum_base_c",
      "sum_disc_c", "sum_charge_c", "n").map(col)
    a.select(cols: _*).unionAll(b.select(cols: _*))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("sum_qty_c")).as("sum_qty_c"),
        sum(col("sum_base_c")).as("sum_base_c"),
        sum(col("sum_disc_c")).as("sum_disc_c"),
        sum(col("sum_charge_c")).as("sum_charge_c"),
        sum(col("n")).as("n"))
  }

  /** Maintained state for [[Curation.datasheet]] — the IVM generalization
    * beyond Q1's pure monoid, because the datasheet mixes monoid columns
    * with two EXACT distinct counts:
    *
    *  - `scalars` (source, n_docs, n_tokens, sum_quality_milli): a plain
    *    per-key monoid, |sources| rows — merges like the pricing summary.
    *  - `digests` (source, digest, cnt): one row per distinct (source,
    *    content md5), cnt = docs carrying it; `n_uniq_texts` derives as
    *    "rows with cnt > 0". Distinct-content-sized — the intrinsic
    *    state floor for EXACT distinct maintenance (store it as a table;
    *    each delta's merge touches only its own keys). When approximate
    *    is acceptable, a mergeable DataSketches HLL union (`hll_union_agg`) replaces
    *    this table with a fixed-width register set.
    *  - `langs` (source, lang, cnt): same device at |sources × langs|
    *    rows.
    *
    * Insertions merge with positive counts; retractions merge the
    * DELETED rows' state through [[negateDatasheetState]] — support
    * counts make deletion exact (a digest's count drops to 0 only when
    * its last copy dies), which is what a scalar distinct-count summary
    * can never do.
    */
  final case class DatasheetState(
      scalars: DataFrame, digests: DataFrame, langs: DataFrame)

  /** The datasheet state of one document slice (a base corpus or a
    * delta batch) — three partial-aggregating groupBys over the slice.
    */
  def datasheetState(
      docs: DataFrame,
      textCol: String,
      srcCol: String,
      langCol: String): DatasheetState = DatasheetState(
    scalars = docs.groupBy(col(srcCol).as("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
      sum(TextAnalysis.qualityMilli(col(textCol))).as("sum_quality_milli")),
    digests = docs.groupBy(col(srcCol).as("source"), md5(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("cnt")),
    langs = docs.groupBy(col(srcCol).as("source"), col(langCol).as("lang"))
      .agg(count(lit(1)).as("cnt")))

  /** Key-wise monoid merge of two datasheet states. Support rows whose
    * count reaches 0 are dropped (a retraction that kills a key removes
    * its row, so derived distinct counts stay exact); scalar rows keep
    * even n_docs = 0 sources — [[datasheetFromState]] filters them, and
    * keeping them makes the merge associative without a special case.
    */
  def mergeDatasheetStates(a: DatasheetState, b: DatasheetState): DatasheetState =
    DatasheetState(
      scalars = a.scalars.unionAll(b.scalars.select(
          col("source"), col("n_docs"), col("n_tokens"), col("sum_quality_milli")))
        .groupBy(col("source")).agg(
          sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("sum_quality_milli")).as("sum_quality_milli")),
      digests = a.digests.unionAll(b.digests.select(
          col("source"), col("digest"), col("cnt")))
        .groupBy(col("source"), col("digest")).agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") =!= 0),
      langs = a.langs.unionAll(b.langs.select(
          col("source"), col("lang"), col("cnt")))
        .groupBy(col("source"), col("lang")).agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") =!= 0))

  /** The retraction form: the state of the DELETED rows with every count
    * and sum negated — merge it to downdate the maintained view after a
    * [[graft.sinks.Lake.deleteByIds]] copy-on-write delete, no rescan of
    * the surviving corpus.
    */
  def negateDatasheetState(s: DatasheetState): DatasheetState = DatasheetState(
    scalars = s.scalars.select(col("source"),
      (-col("n_docs")).as("n_docs"),
      (-col("n_tokens")).as("n_tokens"),
      (-col("sum_quality_milli")).as("sum_quality_milli")),
    digests = s.digests.select(col("source"), col("digest"), (-col("cnt")).as("cnt")),
    langs = s.langs.select(col("source"), col("lang"), (-col("cnt")).as("cnt")))

  /** Derive the exact [[Curation.datasheet]] frame from a maintained
    * state: distinct counts are support-row counts per source (cnt > 0
    * by merge invariant), fully-retracted sources disappear exactly as
    * a recompute would drop them. Cost is state-sized, never corpus-
    * sized.
    */
  def datasheetFromState(s: DatasheetState): DataFrame = {
    val uniq = s.digests.groupBy(col("source"))
      .agg(count(lit(1)).as("n_uniq_texts"))
    val nl = s.langs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"))
    s.scalars.filter(col("n_docs") > 0)
      .join(uniq, "source").join(nl, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_uniq_texts"), col("sum_quality_milli"), col("n_langs"))
  }

  /** Maintained state for the daily-active-users dashboard — the same
    * support-count device at (day, user) granularity: `days` is the
    * per-day event-count monoid, `users` one counted row per (day,
    * user). DAU derives as "user rows with cnt > 0 per day", exact
    * under both inserts and retractions. State is |days × active users|
    * — the intrinsic exact-distinct floor; a DataSketches HLL per-day
    * union (`hll_union_agg`) is the fixed-width approximate escape.
    */
  final case class DauState(days: DataFrame, users: DataFrame)

  /** State of one event slice. Day boundary = the same
    * `window(ts, "1 day").start` second the `daily_active_users` gate
    * query uses.
    */
  def dauState(events: DataFrame): DauState = {
    val day = window(col("ts"), "1 day").getField("start")
      .cast("long").as("day_start")
    DauState(
      days = events.groupBy(day).agg(count(lit(1)).as("n")),
      users = events.groupBy(day, col("user_id"))
        .agg(count(lit(1)).as("cnt")))
  }

  /** Key-wise monoid merge; fully-cancelled user rows drop (retraction
    * exactness), zero-count days are filtered at derive time.
    */
  def mergeDauStates(a: DauState, b: DauState): DauState = DauState(
    days = a.days.unionAll(b.days.select(col("day_start"), col("n")))
      .groupBy(col("day_start")).agg(sum(col("n")).as("n")),
    users = a.users.unionAll(b.users.select(
        col("day_start"), col("user_id"), col("cnt")))
      .groupBy(col("day_start"), col("user_id")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") =!= 0))

  /** Retraction form: negated counts for a deleted event slice. */
  def negateDauState(s: DauState): DauState = DauState(
    days = s.days.select(col("day_start"), (-col("n")).as("n")),
    users = s.users.select(col("day_start"), col("user_id"), (-col("cnt")).as("cnt")))

  /** The exact (day_start, dau, n) dashboard from a maintained state. */
  def dauFromState(s: DauState): DataFrame = {
    val dau = s.users.groupBy(col("day_start")).agg(count(lit(1)).as("dau"))
    s.days.filter(col("n") > 0)
      .join(dau, "day_start")
      .select(col("day_start"), col("dau"), col("n"))
  }

  /** Generic keyed count-table merge — the support-count monoid every
    * maintained distinct/rank view above builds on, exposed for ad-hoc
    * views (e.g. the `top_terms_incremental` gate row maintains a
    * vocabulary-sized term-count state and derives the top-k from it:
    * the expensive corpus explode is paid delta-sized, the rank
    * re-derives from state). Fully-cancelled keys drop, so retractions
    * (negated counts) stay exact.
    */
  def mergeCounts(a: DataFrame, b: DataFrame, keys: Seq[String], cnt: String): DataFrame = {
    val cols = (keys :+ cnt).map(col)
    a.select(cols: _*).unionAll(b.select(cols: _*))
      .groupBy(keys.map(col): _*).agg(sum(col(cnt)).as(cnt))
      .filter(col(cnt) =!= 0)
  }

  /** Delta maintenance for a materialized two-sided equi-join view
    * V = A ⋈ B — the join-view side of IVM, beyond the aggregate
    * monoids: when batches ΔA and ΔB arrive together,
    * {{{  ΔV = (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB)  }}}
    * and `V_new = V_old ∪ ΔV` — joins distribute over union, so the
    * composed parts equal the full `A_new ⋈ B_new` EXACTLY (the
    * `join_view_incremental` gate row lands the composed form on the
    * oracle's plain-join hash). Work is delta-sized on each term: the
    * two cross terms probe a stored side with a delta (broadcast the
    * delta when it fits; bucketed stored sides make the probes
    * exchange-free, the [[graft.sinks.Lake.writeBucketed]] layout), and
    * ΔA ⋈ ΔB is delta × delta.
    *
    * Retractions need no re-join at all: deleting D_A ⊆ A removes
    * exactly the view rows whose A-side key-and-row matches D_A — one
    * keyed ANTI join on the view (IncrementalSpec's case uses the
    * A-side primary key).
    */
  def deltaJoinView(
      aOld: DataFrame,
      aDelta: DataFrame,
      bOld: DataFrame,
      bDelta: DataFrame,
      key: String): DataFrame =
    aDelta.join(bOld, key)
      .unionByName(aOld.join(bDelta, key))
      .unionByName(aDelta.join(bDelta, key))

  /** Grouped-monoid state of a JOIN-view slice — the composite rung
    * above [[deltaJoinView]]: the materialized view is `γ(A ⋈ B)`
    * (the tpch_q3/q10 revenue-dashboard shape, join THEN grouped
    * integer sums), and because the aggregate is a per-key monoid,
    * {{{  γ(V_new) = merge(γ(V_old), γ(ΔV))  }}}
    * with ΔV from [[deltaJoinView]] — the join delta folds into the
    * AGGREGATE state without ever re-materializing the view. Each state
    * row carries its integer `sumCols` partials plus a support count
    * `n` (rows of the view feeding the key), so retractions are exact:
    * merge the deleted view slice's [[negateJoinAggState]] and a key
    * vanishes precisely when its last view row dies. The
    * `join_agg_incremental` gate row lands the merged base+delta state
    * on the PLAIN full join+aggregate oracle hash.
    *
    * Scale shape: state is |keys| rows; a delta prices one delta-join
    * (see [[deltaJoinView]] — broadcast/bucketed probes) plus a
    * delta-keys-sized aggregate and a |keys|-row merge. The full view
    * is never stored and never rescanned.
    */
  def joinAggState(
      viewRows: DataFrame, keys: Seq[String], sumCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n") +: sumCols.map(c => sum(col(c)).as(c))
    viewRows.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Key-wise monoid merge of two join-aggregate states: support counts
    * and integer sums add; keys whose support cancels to 0 drop (their
    * sums are 0 by the same cancellation), keeping derived views exact
    * under retraction.
    */
  def mergeJoinAggStates(
      a: DataFrame, b: DataFrame,
      keys: Seq[String], sumCols: Seq[String]): DataFrame = {
    val cols = (keys ++ sumCols :+ "n").map(col)
    val aggs = sum(col("n")).as("n") +: sumCols.map(c => sum(col(c)).as(c))
    a.select(cols: _*).unionAll(b.select(cols: _*))
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .filter(col("n") =!= 0)
  }

  /** Retraction form: the state of a DELETED view slice with the support
    * count and every sum negated — merge it to downdate the maintained
    * aggregate after deleting rows from a base side (the deleted view
    * slice is `deletedA ⋈ B` — one delta-sized join, never a rescan).
    */
  def negateJoinAggState(
      s: DataFrame, keys: Seq[String], sumCols: Seq[String]): DataFrame =
    s.select(keys.map(col) ++ sumCols.map(c => (-col(c)).as(c)) :+
      (-col("n")).as("n"): _*)

  /** Streaming maintainer for the join+aggregate view γ(A ⋈ B) — the
    * foreachBatch twin of the batch-proven [[joinAggState]] fold, on
    * [[maintainPricingSummary]]'s versioned-snapshot scheme: per
    * micro-batch the A-side delta joins the stored dimension once
    * (ΔV = ΔA ⋈ B, the one live term of [[deltaJoinView]] when only A
    * streams), its [[joinAggState]] merges with the latest COMMITTED
    * state strictly below this batch id, and the result lands at
    * `stateDir/v=<batchId>` — deterministic per batch id, so an
    * at-least-once replay re-reads exactly the pre-batch state and
    * regenerates identical contents (exactly-once without transactions).
    * Only `_SUCCESS`-marked versions count as committed ([[latestSummary]]
    * does the listing), so readers racing a write never see a partial
    * snapshot.
    *
    * Scale shape per micro-batch: one delta-vs-dimension join (broadcast
    * the delta when it fits; a [[graft.sinks.Lake.writeBucketed]] B makes
    * the probe exchange-free), a delta-keys-sized aggregate, and a
    * |keys|-row merge + snapshot — the full view is never stored or
    * rescanned. Retractions stay a batch-tier concern: fold the deleted
    * slice's [[negateJoinAggState]] with [[mergeJoinAggStates]] and write
    * the next version (same algebra, IncrementalSpec's retraction case).
    */
  def maintainJoinAggView(
      deltaA: DataFrame,
      b: DataFrame,
      joinKey: String,
      keys: Seq[String],
      sumCols: Seq[String],
      stateDir: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deltaA.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val deltaState = joinAggState(batch.toDF().join(b, joinKey), keys, sumCols)
        val merged = latestSummary(batch.sparkSession, stateDir,
            beforeBatch = Some(batchId))
          .map(mergeJoinAggStates(_, deltaState, keys, sumCols))
          .getOrElse(deltaState)
        // |keys| rows: one file is the right layout for a summary table
        merged.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
        ()
      }

  private val datasheetParts = Seq("scalars", "digests", "langs")

  /** Streaming IVM for the datasheet — [[maintainPricingSummary]]'s
    * versioned-snapshot scheme carried to the three-frame state: per
    * micro-batch compute the batch's [[datasheetState]], merge with the
    * latest COMMITTED version strictly below this batch id (so an
    * at-least-once replay re-reads exactly the pre-batch state and
    * regenerates identical contents — exactly-once without
    * transactions), write all three frames under `stateDir/v=<batchId>`.
    * A version counts as committed only when every frame carries its
    * `_SUCCESS` marker, so readers racing a write never see a partial
    * state.
    *
    * Scale note: the scalars/langs frames are keys-sized, but `digests`
    * is distinct-content-sized, so the versioned FULL REWRITE per batch
    * — the simplest exactly-once layout, right for dashboard-refresh
    * cadences — prices a digests pass per commit. A 100 TB deployment
    * graduates the digests frame to [[mergeCountsPartitioned]]'s
    * hash-partitioned state table (only the partitions holding the
    * delta's keys rewrite — delta-sized maintenance, IncrementalSpec
    * proves untouched partitions stay byte-identical), or swaps in a
    * DataSketches HLL union (`hll_union_agg`) when approximate uniqueness is acceptable;
    * the merge algebra is identical in all three layouts.
    */
  def maintainDatasheet(
      deltaDocs: DataFrame,
      textCol: String,
      srcCol: String,
      langCol: String,
      stateDir: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deltaDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val delta = datasheetState(batch.toDF(), textCol, srcCol, langCol)
        val merged = latestDatasheetState(batch.sparkSession, stateDir,
            beforeBatch = Some(batchId))
          .map(mergeDatasheetStates(_, delta)).getOrElse(delta)
        for ((name, df) <- datasheetParts.zip(
            Seq(merged.scalars, merged.digests, merged.langs)))
          df.write.mode("overwrite").parquet(s"$stateDir/v=$batchId/$name")
        ()
      }

  /** The large-state graduation of [[mergeCounts]] (the `digests` scale
    * note in [[maintainDatasheet]]): maintain a keyed count table as a
    * parquet table PARTITIONED by a stable hash of the key,
    * `__p = pmod(xxhash64(keys...), partitions)`, so a delta batch
    * rewrites ONLY the partitions its keys hash into — maintenance is
    * priced by the delta (its own aggregate + a merge over the affected
    * partition slices), never by the distinct-key-sized state. This is
    * exactly [[graft.sinks.Lake.deleteByIds]]'s copy-on-write discipline
    * applied to a maintained view: locate affected partitions, re-read
    * only them (partition-pruned scan), dynamic-partition-overwrite only
    * them; untouched partition directories are never opened and stay
    * byte-identical (IncrementalSpec asserts this on the file bytes).
    *
    * Layout under `stateDir`: `data/__p=N/...` (the state rows, columns
    * `keys :+ cnt`) and `applied/batch=<id>` (commit markers).
    *
    * Replay idempotence: each batch merge is guarded by its marker — a
    * foreachBatch replay of an already-applied batch returns `false` and
    * touches nothing, so at-least-once delivery keeps counts exact. The
    * marker commits AFTER the data overwrite; like [[graft.sinks.Lake]]'s
    * COW operations this is NOT crash-atomic — a failure between the
    * partition overwrite and the marker write can leave affected
    * partitions half-merged (untouched partitions are never at risk).
    * Snapshot affected partitions first, or use the versioned
    * full-rewrite layout ([[maintainDatasheet]]), when crash-atomicity
    * is a hard requirement; a transactional table format gives both
    * properties at once.
    *
    * Negative-count deltas retract ([[mergeCounts]] algebra): a key
    * whose count cancels to 0 is dropped from its rewritten partition,
    * and a partition whose every key cancels has its directory removed
    * (dynamic overwrite cannot express "write nothing").
    *
    * Operating rule for `partitions`: a uniformly-hashed delta of k
    * distinct keys touches min(k, P) partitions, so the delta-sized
    * rewrite property holds only while P is comfortably above the
    * typical delta's key count — size P for the DELTA cadence, not the
    * state size (e.g. hourly 10k-key deltas over a billion-key state
    * want P in the hundreds of thousands; trade against small-file
    * pressure on the store). When deltas are corpus-sized fractions
    * (millions of keys), every partition is touched regardless and the
    * versioned full rewrite ([[maintainDatasheet]]) or a DataSketches
    * HLL union (`hll_union_agg`) is the better layout — the merge algebra is identical,
    * so switching layouts is free.
    *
    * Returns true when the batch applied, false when its marker already
    * existed (replay no-op).
    */
  /** The partition modulus a [[mergeCountsPartitioned]] table was built
    * with (None before the first batch) — the single source of truth for
    * the `meta/partitions=<P>` pin, shared by the merge's own fail-fast
    * and by composing maintainers that must reject a mismatched P BEFORE
    * writing their own state (e.g. the triangle maintainer's edge log).
    */
  def pinnedPartitions(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[Int] = {
    import org.apache.hadoop.fs.Path
    val metaRoot = new Path(s"$stateDir/meta")
    val fs = metaRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaRoot)) None
    else fs.listStatus(metaRoot).map(_.getPath.getName)
      .collectFirst { case s if s.startsWith("partitions=") =>
        s.stripPrefix("partitions=").toInt }
  }

  /** True when a partitioned state directory holds live data slices —
    * an all-cancelling batch can empty a table to a bare `_SUCCESS`,
    * which breaks schema inference on a naive read. Shared by the merge,
    * the reader, and composing maintainers' partitioned logs (the
    * prefix distinguishes `__p=` count slices from e.g. `batch=` logs).
    */
  def hasLivePartitions(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      prefix: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith(prefix))
  }

  def mergeCountsPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      delta: DataFrame,
      keys: Seq[String],
      cnt: String,
      partitions: Int,
      batchId: Long): Boolean = {
    import org.apache.hadoop.fs.Path
    require(partitions >= 1)
    val dataDir = s"$stateDir/data"
    val marker = new Path(s"$stateDir/applied/batch=$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return false
    // `partitions` is baked into every stored __p value, so a caller
    // passing a different P than the table was built with would prune
    // the wrong slices and strand stale rows under the old modulus —
    // silently wrong counts. Pin P in a meta marker on the first batch
    // and fail fast on any later mismatch.
    pinnedPartitions(spark, stateDir) match {
      case Some(p) => require(p == partitions,
        s"count table at $stateDir was built with partitions=$p; " +
          s"refusing to merge with partitions=$partitions")
      case None =>
        fs.mkdirs(new Path(s"$stateDir/meta/partitions=$partitions"))
    }
    val part = pmod(xxhash64(keys.map(col): _*), lit(partitions)).as("__p")
    // the scope releases both pins on return (a days-long maintainer
    // stream would otherwise grow one block set per micro-batch)
    Checkpoints.scoped {
      // pre-aggregate the delta to one row per key BEFORE the merge (the
      // delta may carry repeats), then pin it: it is consumed up to three
      // times (affected-partition listing, merge, survivor accounting)
      val deltaAgg = delta.select((keys :+ cnt).map(col): _*)
        .groupBy(keys.map(col): _*).agg(sum(col(cnt)).as(cnt))
        .filter(col(cnt) =!= 0)
        .select(col("*"), part)
        .checkpointed()
      val affected = deltaAgg.select(col("__p")).distinct()
        .collect().map(_.getLong(0)) // bounded by `partitions`, never key-sized
      // empty or fully-cancelling delta (streaming routinely delivers
      // empty micro-batches): writing an empty frame would create a
      // schemaless data/ dir that poisons every later read — commit the
      // marker and touch nothing
      if (affected.nonEmpty) {
        // state exists only when actual partition data survives — an
        // all-cancelling batch can empty the table to a bare _SUCCESS, and
        // reading that fails with "unable to infer schema"
        val hasState = hasLivePartitions(spark, dataDir, "__p=")
        val merged0 =
          if (!hasState) deltaAgg.drop("__p")
          else {
            // partition-pruned read of ONLY the affected state slices
            val slice = spark.read.parquet(dataDir)
              .where(col("__p").isin(affected: _*))
              .select((keys :+ cnt).map(col): _*)
            mergeCounts(slice, deltaAgg.drop("__p"), keys, cnt)
          }
        // re-derive __p (a pure function of the keys) and pin the result:
        // Spark refuses to overwrite a path still feeding the running plan
        val merged = merged0.select(col("*"), part).checkpointed()
        val emptied = {
          val live = merged.select(col("__p")).distinct()
            .collect().map(_.getLong(0)).toSet
          affected.filterNot(live)
        }
        val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try
          merged.write.mode("overwrite").partitionBy("__p").parquet(dataDir)
        finally prev match {
          case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        emptied.foreach(p => fs.delete(new Path(dataDir, s"__p=$p"), true))
      }
      fs.mkdirs(marker)
      true
    }
  }

  /** UPSERT sibling of [[mergeCountsPartitioned]] for NON-monoid state
    * (label assignments, latest-value tables): the batch's rows REPLACE
    * the stored rows of their keys instead of summing into them. Same
    * layout (`data/__p=N` slices, `meta` modulus pin, `applied/batch=`
    * commit markers), same delta-sized-rewrite property: only the
    * partitions holding the batch's keys are rewritten, so a ball-sized
    * changed-label set costs ball-sized I/O, never node-sized. Same
    * crash caveat (the affected-slice rewrite is not atomic); replay
    * with the same batch id is a no-op via the marker. The batch must
    * carry ONE row per key — two rows racing for a key would make the
    * stored value an accident of partition order; fail loudly instead.
    *
    * `dropKeys` (r17, the label-maintainer delete path): keys whose
    * stored rows are REMOVED in the same committed batch — the
    * retraction direction upsert alone cannot express (a node that lost
    * its last edge must leave the table, not keep a stale value). Drops
    * ride the same affected-partition rewrite and the same marker; a
    * partition emptied by drops has its directory removed (the
    * [[mergeCountsPartitioned]] emptied-slice rule). A key both upserted
    * and dropped in one batch is a contradiction — fail loudly.
    */
  def upsertPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      rows: DataFrame,
      keys: Seq[String],
      valCol: String,
      partitions: Int,
      batchId: Long,
      dropKeys: Option[DataFrame] = None): Boolean = {
    import org.apache.hadoop.fs.Path
    require(partitions >= 1)
    val dataDir = s"$stateDir/data"
    val marker = new Path(s"$stateDir/applied/batch=$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return false
    pinnedPartitions(spark, stateDir) match {
      case Some(p) => require(p == partitions,
        s"state table at $stateDir was built with partitions=$p; " +
          s"refusing to upsert with partitions=$partitions")
      case None =>
        fs.mkdirs(new Path(s"$stateDir/meta/partitions=$partitions"))
    }
    val part = pmod(xxhash64(keys.map(col): _*), lit(partitions)).as("__p")
    // the scope releases the delta and drop pins on return
    Checkpoints.scoped {
      val delta = rows.select((keys :+ valCol).map(col): _*)
        .select(col("*"), part)
        .checkpointed() // consumed by the dup check, listing, and merge
      val drops = dropKeys.map(_.select(keys.map(col): _*)
        .distinct().select(col("*"), part)
        .checkpointed()) // consumed by the overlap check, listing, merge
      val nRows = delta.count()
      val nKeys = delta.select(keys.map(col): _*).distinct().count()
      require(nRows == nKeys,
        s"upsert batch $batchId carries ${nRows - nKeys} duplicate key " +
          "rows — the stored value would be an accident of partition order")
      drops.foreach { dr =>
        val overlap = dr.join(delta, keys, "left_semi").count()
        require(overlap == 0L,
          s"upsert batch $batchId both writes and drops $overlap key(s) " +
            "— a contradictory batch would make the outcome an accident " +
            "of evaluation order")
      }
      val affected = (delta.select(col("__p")) +:
        drops.map(_.select(col("__p"))).toSeq)
        .reduce(_.unionAll(_)).distinct()
        .collect().map(_.getLong(0)) // bounded by `partitions`
      if (affected.nonEmpty) {
        val merged0 =
          if (!hasLivePartitions(spark, dataDir, "__p=")) delta
          else {
            val survivors0 = spark.read.parquet(dataDir)
              .where(col("__p").isin(affected: _*))
              .select((keys :+ valCol).map(col): _*)
              .join(delta.select(keys.map(col): _*), keys, "left_anti")
            drops.fold(survivors0)(dr =>
                survivors0.join(dr.select(keys.map(col): _*), keys, "left_anti"))
              .select(col("*"), part)
              .unionByName(delta)
          }
        // pinned: the overwrite below replaces slices this plan reads
        val merged = merged0.checkpointed()
        if (!merged.isEmpty)
          merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__p").parquet(dataDir)
        // a slice fully emptied by drops cannot be expressed by dynamic
        // overwrite (nothing to write) — remove its directory, or the
        // dropped rows would silently survive. Pure upserts can never
        // empty a slice, so the liveness collect (an extra driver job on
        // the hot per-micro-batch path) runs only when drops exist
        // (r17 review).
        if (drops.isDefined) {
          val live = merged.select(col("__p")).distinct()
            .collect().map(_.getLong(0)).toSet
          affected.filterNot(live).foreach(p =>
            fs.delete(new Path(dataDir, s"__p=$p"), true))
        }
      }
      fs.mkdirs(marker)
      true
    }
  }

  /** Streaming maintainer for the [[mergeCountsPartitioned]] state table
    * — the large-state twin of [[maintainDatasheet]]'s versioned scheme:
    * each micro-batch aggregates its own delta and keyed-merges it into
    * the partitioned table under the batch id. Exactly-once under
    * foreachBatch's at-least-once replay comes from the per-batch commit
    * marker (an already-applied batch returns without touching the
    * table), instead of the versioned scheme's pre-batch-read trick —
    * which is what makes the write DELTA-SIZED here: only the partitions
    * holding the batch's keys rewrite, never the distinct-key-sized
    * state. Same crash caveat as [[mergeCountsPartitioned]].
    */
  def maintainCountsPartitioned(
      deltaRows: DataFrame,
      stateDir: String,
      keys: Seq[String],
      cnt: String,
      partitions: Int,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deltaRows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        mergeCountsPartitioned(batch.sparkSession, stateDir, batch.toDF(),
          keys, cnt, partitions, batchId)
        ()
      }

  /** The maintained count table of [[mergeCountsPartitioned]] as a frame
    * (columns `keys :+ cnt`); empty when no batch has ever applied.
    */
  def readCountsPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      keys: Seq[String],
      cnt: String): Option[DataFrame] = {
    // same live-partition gate as the merge: an all-cancelling batch can
    // leave a bare _SUCCESS with no schema to infer
    if (!hasLivePartitions(spark, s"$stateDir/data", "__p=")) None
    else Some(spark.read.parquet(s"$stateDir/data")
      .select((keys :+ cnt).map(col): _*))
  }

  /** Newest fully-committed datasheet state under `stateDir` (strictly
    * below `beforeBatch` when given). A version qualifies only when all
    * three frames carry `_SUCCESS`. Hadoop-FS listing, never data-sized.
    */
  def latestDatasheetState(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      beforeBatch: Option[Long] = None): Option[DatasheetState] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else {
      val dirs = fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
        .filter(st => beforeBatch.forall(
          st.getPath.getName.stripPrefix("v=").toLong < _))
      val versions = dirs
        .filter(st => datasheetParts.forall(p =>
          fs.exists(new Path(st.getPath, s"$p/_SUCCESS"))))
        .map(_.getPath.getName.stripPrefix("v=").toLong)
      // same committer-config tripwire as latestSummary: dirs without a
      // single fully-marked version must not silently read as "no state"
      if (versions.isEmpty && dirs.nonEmpty)
        System.err.println(s"[graft] WARN latestDatasheetState: " +
          s"${dirs.length} version dir(s) under $stateDir but none has all " +
          "three _SUCCESS markers — mid-overwrite race, or the committer " +
          "writes no success markers (marksuccessfuljobs=false)")
      if (versions.isEmpty) None
      else {
        val v = versions.max
        Some(DatasheetState(
          scalars = spark.read.parquet(s"$stateDir/v=$v/scalars"),
          digests = spark.read.parquet(s"$stateDir/v=$v/digests"),
          langs = spark.read.parquet(s"$stateDir/v=$v/langs")))
      }
    }
  }
}
