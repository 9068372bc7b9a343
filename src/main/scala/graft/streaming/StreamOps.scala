package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Checkpoints
import graft.functions.Checkpoints.Owned

/** Streaming formulations of the reference's windowed pipelines
  * (SURVEY §2.4/§2.6/§2.7). Each returns an unstarted streaming DataFrame;
  * callers attach sinks (`writeStream`) and pick an output mode.
  *
  * Watermark/latency knobs mirror the reference's constants: 2 s allowed
  * lateness (`EventTimeOperations.java:99-100`), the window widths of the
  * chapter programs. Spark's watermark is `max(eventTime) - delay` per
  * micro-batch rather than Flink's wall-clock-driven punctuated assigner —
  * same bounded-lateness semantics, different clock.
  */
object StreamOps {

  /** A1/A6: tumbling count over an event-time column with a watermark. */
  def windowedCount(
      df: DataFrame,
      tsCol: String,
      width: String,
      watermark: String = "2 seconds"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"), col("n"))

  /** A2: keyed running aggregate — run with `outputMode("update")`;
    * Spark maintains the running state natively (per-micro-batch emission
    * instead of the reference's per-record cadence).
    *
    * `valueCol`'s type is the CALLER's exactness contract: pass an
    * integer-scaled column (milli-units, the `CoreOps.keyedRunningTotal`
    * convention — ConvergenceSpec replays exactly that and matches the
    * batch answer bit-for-bit); summing raw doubles depends on per-batch
    * summation order and is only approximately replay-comparable.
    */
  def runningKeyedSum(df: DataFrame, key: String, valueCol: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))

  /** A3: sliding window summary, watermarked 2 seconds behind. */
  def slidingSummary(
      df: DataFrame,
      tsCol: String,
      width: String,
      slide: String): DataFrame =
    df.withWatermark(tsCol, "2 seconds")
      .groupBy(window(col(tsCol), width, slide).as("w"))
      .agg(count(lit(1)).as("n"), min(col(tsCol)).as("min_ts"), max(col(tsCol)).as("max_ts"))
      .select(col("w.start").as("window_start"), col("n"), col("min_ts"), col("max_ts"))

  /** A4: keyed session windows with gap (native `session_window`). */
  def sessionCounts(
      df: DataFrame,
      key: String,
      tsCol: String,
      gap: String,
      watermark: String = "2 seconds"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(col(key), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col(key), col("w.start").as("session_start"), col("w.end").as("session_end"), col("n"))

  /** A4 with the batch gate's exact output shape: streaming twin of
    * `CoreOps.sessionSummary` (same column names/types — epoch-micro
    * bounds, count, milli-scaled value sum), so a streaming replay can be
    * compared row-for-row against the oracle-checked batch answer.
    */
  def sessionSummaryStream(
      df: DataFrame,
      key: String,
      tsCol: String,
      gap: String,
      valueCol: String,
      watermark: String = "2 seconds"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(col(key), session_window(col(tsCol), gap).as("w"))
      .agg(
        count(lit(1)).as("n"),
        sum(graft.operators.CoreOps.scaledMilli(col(valueCol))).cast("long").as("sum_value_milli"))
      .select(
        col(key),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n"),
        col("sum_value_milli"))

  /** Streaming sequence mining: per-session ordered journey paths, the
    * streaming twin of the `session_paths` batch aggregate. One
    * watermarked `session_window` aggregation whose per-session state is
    * the event list of ONE session of ONE user (bounded by session
    * length, merged order-independently — `array_sort` over
    * `(ts, event_id, type)` structs makes the path deterministic no
    * matter how micro-batches slice the session). Append mode emits each
    * session's path exactly once when the watermark closes it; the
    * global top-50 ranking is a downstream batch step over the emitted
    * log (ConvergenceSpec) — ranking inside the stream would make every
    * emission depend on all sessions ever seen.
    */
  def sessionPathsStream(
      df: DataFrame,
      key: String,
      tsCol: String,
      gap: String,
      typeCol: String,
      idCol: String): DataFrame =
    df.withWatermark(tsCol, "2 seconds")
      .groupBy(col(key), session_window(col(tsCol), gap).as("w"))
      .agg(array_join(transform(array_sort(collect_list(struct(
        unix_micros(col(tsCol)).as("t"), col(idCol).as("i"),
        col(typeCol).as("e")))), x => x.getField("e")), ">").as("path"))
      .select(col(key), unix_micros(col("w.start")).as("session_start_us"),
        col("path"))

  /** A5: composite-key tumbling count. */
  def keyedWindowedCount(
      df: DataFrame,
      tsCol: String,
      width: String,
      watermark: String,
      keys: String*): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width).as("w") +: keys.map(col): _*)
      .agg(count(lit(1)).as("n"))

  /** J1 (`WindowJoins.java:110-144`): stream-stream inner equi-join per
    * tumbling window. Both sides are bucketed with `window()` and joined on
    * (key, window) — the window equality doubles as the time-range bound
    * Spark needs to evict join state once the watermark passes the bucket.
    */
  def streamStreamWindowJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      width: String,
      watermark: String = "2 seconds"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .withColumn("w", window(col(tsCol), width))
      .drop(tsCol)
    val r = right.withWatermark(tsCol, watermark)
      .withColumn("w_r", window(col(tsCol), width))
      .withColumnRenamed(key, key + "_r")
      .drop(tsCol)
    l.join(r, col(key) === col(key + "_r") && col("w") === col("w_r"))
      .drop("w_r", key + "_r")
  }

  /** J2 streaming twin: the NATIVE stream-stream interval join —
    * `r.ts ∈ [l.ts - lowerUs, l.ts + upperUs]` on `key`, both sides
    * watermarked. Unlike the batch form's bucketed equi-join
    * ([[graft.operators.CoreOps.intervalJoin]]), Spark prices the raw
    * time-range conjunct directly: the range condition lets the engine
    * derive a per-side state watermark, so buffered rows are evicted once
    * `eventTimeWatermark - range bound` passes them. State bound per key:
    * left rows live `watermark + upperUs`, right rows
    * `watermark + lowerUs` — a fixed time horizon of rows per side, never
    * the whole stream (the documented requirement: BOTH sides watermarked
    * + a time-range join condition; without them Spark keeps state
    * forever and the query is rejected in Append mode).
    *
    * Output columns match the batch form: left columns + right columns
    * with `tsCol` renamed `tsCol_r` (the join key deduplicated).
    */
  def streamStreamIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      lowerUs: Long,
      upperUs: Long,
      watermark: String = "2 seconds"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val r = right
      .withColumnRenamed(key, key + "_r")
      .withColumnRenamed(tsCol, tsCol + "_r")
      .withWatermark(tsCol + "_r", watermark)
    l.join(r,
        col(key) === col(key + "_r") &&
          col(tsCol + "_r") >= col(tsCol) - expr(s"INTERVAL '$lowerUs' MICROSECOND") &&
          col(tsCol + "_r") <= col(tsCol) + expr(s"INTERVAL '$upperUs' MICROSECOND"))
      .drop(key + "_r")
  }

  /** Continuous ANN serving: every micro-batch of query vectors
    * (`qid`, `qvec`) searches the MATERIALIZED int8 codes index
    * (`Similarity.int8TopKFromIndex` — the float corpus is never read at
    * query time; rankings identical to the one-shot `int8TopK` by shared
    * scoring tail), and `emit` receives that batch's top-k results.
    * foreachBatch is the index-batch/search-stream split (same pattern as
    * the LM train-batch/score-stream gate): the corpus codes are fixed,
    * the query side streams — no state, no rewrite. `indexPath` must hold
    * a `writeInt8Index` layout before the stream starts.
    */
  def int8SearchStream(
      queryStream: DataFrame,
      indexPath: String,
      k: Int)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => Checkpoints.scoped {
        if (!batch.isEmpty) emit(graft.functions.Similarity.int8TopKFromIndex(
          batch.sparkSession, batch.toDF(), indexPath, k))
      }
    }

  /** Keyword-search serving: every micro-batch of queries (`qid`,
    * space-separated `terms`) runs BM25 against the MATERIALIZED inverted
    * index in ONE job for the whole batch
    * (`TextAnalysis.bm25SearchManyFromIndex` — the union of the batch's
    * term buckets prunes a single postings read; per-query rankings are
    * identical to the one-query path by construction) and `emit` receives
    * (qid, doc_id, score_q10) for the batch. The 1-row index stats are
    * read once for the stream's lifetime, not per batch; qid passes
    * through as a column (any type). The lexical twin of
    * [[int8SearchStream]]'s vector serving.
    */
  def bm25SearchStream(
      queryStream: DataFrame,
      indexPath: String,
      topK: Int)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // the index is static for the stream's lifetime; the first batch
    // takes ONE snapshot of the stats table — corpus totals AND the
    // committed batch-id set from a single collect
    // (`TextAnalysis.indexStatsSnapshot`; two separate reads would race
    // a concurrent ingest committing between them: a batch scored in
    // committedIds but uncounted in n/tot) — later batches reuse it. A
    // serving stream racing a concurrent ingest ([[bm25IngestStream]])
    // therefore scores a COHERENT frozen view: batches ingested
    // mid-stream are neither visible in postings nor counted in n/tot —
    // restart the serving stream on the refresh cadence to pick up the
    // ingested corpus.
    lazy val snapshot =
      graft.functions.TextAnalysis.indexStatsSnapshot(
        queryStream.sparkSession, indexPath)
    queryStream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => Checkpoints.scoped {
        if (!batch.isEmpty)
          emit(graft.functions.TextAnalysis.bm25SearchManyFromIndex(
            batch.sparkSession, indexPath, batch.toDF(), topK = topK,
            statsRow = Some(snapshot._1), committedIds = Some(snapshot._2)))
      }
    }
  }

  /** Continuous keyword-index ingest — the BM25 member of the ingest
    * family ([[dedupIngestStream]] for LSH, the int8/IVF+PQ appenders for
    * ANN): every micro-batch of documents is tokenized once and appended
    * into the materialized inverted index under the micro-batch id
    * (`TextAnalysis.appendToInvertedIndex` — postings land in their term
    * buckets, the batch's corpus-stats row lands beside them), so an
    * at-least-once replay overwrites its own batch partitions instead of
    * double-counting: exactly-once index contents without transactions.
    * A search against the index after any batch ranks identically to a
    * one-shot rebuild over all ingested docs (stats are count monoids —
    * nothing is frozen). `indexPath` must hold a seeded
    * [[graft.functions.TextAnalysis.writeInvertedIndex]] layout.
    */
  def bm25IngestStream(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      buckets: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) => Checkpoints.scoped {
        graft.functions.TextAnalysis.appendToInvertedIndex(
          batch.toDF(), textCol, idCol, indexPath, buckets,
          batchId = Some(batchId))
      }
    }

  /** Deletion half of [[bm25IngestStream]]: a stream of doc ids (one
    * column `idCol`) is deleted from the materialized inverted index per
    * micro-batch (`TextAnalysis.deleteFromInvertedIndex` — affected
    * postings partitions copy-on-write rewritten, corpus stats folded as
    * a NEGATED count-monoid row). The micro-batch id keys the delete's
    * replay protocol (resolution persisted first, stats marker last, in
    * a namespace disjoint from append ids), so an at-least-once replay
    * subtracts exactly once and the two streams' batch ids can never
    * collide on a stats partition. Ordering between the streams is
    * last-writer (the batch-commit contract): a delete covers only
    * appends COMMITTED when it resolves — a doc whose append is still
    * in flight reappears when that append (re)commits, and must be
    * re-deleted after it. Searches after any committed batch rank
    * identically to a rebuild over the surviving docs.
    */
  def bm25DeleteStream(
      ids: DataFrame,
      idCol: String,
      indexPath: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) => Checkpoints.scoped {
        if (!batch.isEmpty) {
          graft.functions.TextAnalysis.deleteFromInvertedIndex(
            batch.sparkSession, batch.toDF().select(col(idCol)), indexPath,
            batchId = Some(batchId))
          ()
        }
      }
    }

  /** Deletion half of [[clusterMaintenanceStream]] — ONE streamed delete
    * batch updates the LSH index AND the `(node, cluster_id)` state:
    * first `Dedup.deleteFromLshIndex` removes the dead docs' band/shingle
    * rows (COW, affected partitions only), then
    * `Curation.refreshClustersRetract` re-solves exactly the clusters
    * that held a deleted member from the index's now-SURVIVING pair
    * evidence (`Dedup.pairsAmongFromIndex` — the corpus is never
    * re-shingled). Order matters and is load-bearing for replay safety:
    * the retraction must read the post-delete index, and because the
    * state still names the deleted docs until the retraction lands, a
    * crash after the index delete replays cleanly (the index re-delete
    * no-ops, the retraction still finds its affected clusters); once the
    * state is saved, a full replay is a no-op end-to-end. `saveState`
    * atomicity is the caller's contract, as in
    * [[clusterMaintenanceStream]], and so is materializing what it keeps.
    */
  def clusterRetractStream(
      ids: DataFrame,
      idCol: String,
      indexPath: String,
      minJaccardMilli: Int)(
      loadState: () => DataFrame,
      saveState: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => Checkpoints.scoped {
        if (!batch.isEmpty) {
          val dead = batch.toDF().select(col(idCol)).checkpointed()
          graft.functions.Dedup.deleteFromLshIndex(
            batch.sparkSession, dead, indexPath)
          saveState(graft.functions.Curation.refreshClustersRetract(
            loadState(), dead,
            survivors => graft.functions.Dedup.pairsAmongFromIndex(
              batch.sparkSession, survivors, indexPath, minJaccardMilli)))
        }
      }
    }

  /** Deletion half of [[int8AppendStream]] / [[indexAppendStream]]: a
    * stream of vec_ids is deleted from a materialized ANN index per
    * micro-batch (COW rewrite of exactly the affected batch/cell
    * partitions; frozen codebooks untouched). Re-deleting on replay is
    * a natural no-op, so no batch-id state is needed. `cellPartitioned`
    * selects the IVF+PQ layout (`cell=K/batch=N`) over the flat int8
    * one.
    */
  def annDeleteStream(
      ids: DataFrame,
      idCol: String,
      indexPath: String,
      cellPartitioned: Boolean): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => Checkpoints.scoped {
        if (!batch.isEmpty) {
          val vecIds = batch.toDF().select(col(idCol))
          if (cellPartitioned)
            graft.functions.Similarity.deleteFromIvfPqIndex(
              batch.sparkSession, vecIds, indexPath)
          else
            graft.functions.Similarity.deleteFromInt8Index(
              batch.sparkSession, vecIds, indexPath)
          ()
        }
      }
    }

  /** Continuous dedup ingest: every micro-batch of documents (`idCol`,
    * `textCol`) is checked for near-dups against the materialized LSH
    * index (`Dedup.nearDupsAgainstIndex` — the corpus is never
    * re-shingled), flagged pairs go to `emitDups`, and only the CLEAN
    * documents are appended to the index (`Dedup.appendToLshIndex`) —
    * so a duplicate arriving minutes after its original is caught by
    * index rows the stream itself wrote (spec-proven). Within-batch
    * duplicates: exact dups collapse upstream via
    * `dropDuplicatesWithinWatermark` on a fingerprint; intra-batch
    * NEAR-dups both enter the index (caught by the batch LSH pass on the
    * backlog — the documented batch-tier responsibility).
    * `indexPath` must hold a seeded `writeLshIndex`
    * layout (>= 1 document) before the stream starts.
    */
  def dedupIngestStream(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      minJaccardMilli: Int,
      buckets: Int = 64)(
      emitDups: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) => Checkpoints.scoped {
        if (!batch.isEmpty) {
          val b = batch.toDF().checkpointed()
          // excludeBatchId: a replay of this micro-batch must score
          // against exactly the index attempt 1 saw — never against the
          // batch's own (possibly half-committed) index rows
          val dups = graft.functions.Dedup.nearDupsAgainstIndex(
            b.sparkSession, b, textCol, idCol, indexPath,
            n, bands, rowsPerBand, minJaccardMilli, buckets,
            excludeBatchId = Some(batchId)).checkpointed()
          emitDups(dups)
          val clean = b.join(
            dups.select(col("new_id").as(idCol)).distinct(),
            Seq(idCol), "left_anti")
          // batchId makes a replayed micro-batch overwrite its own index
          // partitions instead of appending duplicates (at-least-once
          // foreachBatch -> exactly-once index contents)
          graft.functions.Dedup.appendToLshIndex(
            clean, textCol, idCol, indexPath, n, bands, rowsPerBand, buckets,
            batchId = Some(batchId))
        }
      }
    }

  /** Continuous CLUSTER maintenance — the keep-list companion of
    * [[dedupIngestStream]] for a pipeline that keeps duplicates and
    * tracks their clusters instead of rejecting them. Every micro-batch:
    * score the batch's new near-dup pairs against the index
    * (`Dedup.newBatchPairs` — batch-vs-index + intra-batch, corpus never
    * re-shingled), incrementally refresh the `(node, cluster_id)` state
    * (`Curation.refreshClusters` — cost bounded by the batch + affected
    * clusters, never the corpus), hand the refreshed state to the caller,
    * and append the batch to the index under the micro-batch id.
    *
    * State round-trips through the caller (`loadState`/`saveState`) so
    * the persistence medium (parquet table, delta, memory) is the
    * caller's choice. At-least-once replay is safe end-to-end: the index
    * append overwrites its own batch partitions ([[appendToLshIndex]]'s
    * id rule), `excludeBatchId` keeps a replayed score pass blind to the
    * batch's own index rows, and `refreshClusters` is IDEMPOTENT under
    * re-applied pairs (re-adding edges that are already reflected in the
    * state re-derives the same labels — spec-proven). Materialize what
    * you keep: the handed frame reads the batch's checkpoints, released
    * when the batch ends, so `saveState` keeps its own raw
    * `localCheckpoint()` (or a table write), never the frame itself.
    */
  def clusterMaintenanceStream(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      minJaccardMilli: Int,
      buckets: Int = 64)(
      loadState: () => DataFrame,
      saveState: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) => Checkpoints.scoped {
        if (!batch.isEmpty) {
          val b = batch.toDF().checkpointed()
          val pairs = graft.functions.Dedup.newBatchPairs(
            b.sparkSession, b, textCol, idCol, indexPath,
            n, bands, rowsPerBand, minJaccardMilli, buckets,
            excludeBatchId = Some(batchId)).checkpointed()
          saveState(graft.functions.Curation.refreshClusters(loadState(), pairs))
          graft.functions.Dedup.appendToLshIndex(
            b, textCol, idCol, indexPath, n, bands, rowsPerBand, buckets,
            batchId = Some(batchId))
        }
      }
    }

  /** Write-side twin of [[int8SearchStream]]: a stream of new corpus
    * vectors grows the materialized int8 codes index. Each vector's
    * max-abs scale is self-contained (no frozen codebook), so the append
    * is chunking-invariant by construction, and the batch-id partition
    * rule makes foreachBatch replays idempotent.
    */
  def int8AppendStream(
      newVecStream: DataFrame,
      path: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newVecStream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) => Checkpoints.scoped {
        if (!batch.isEmpty)
          graft.functions.Similarity.appendToInt8Index(
            batch.toDF(), path, batchId = Some(batchId))
      }
    }

  /** Write-side twin for the IVF+PQ family: a stream of NEW corpus
    * vectors (`vec_id`, `vec`) grows the materialized IVF+PQ index —
    * every micro-batch encodes against `baseCorpus`'s frozen
    * centroids/codebooks (`Similarity.appendToIvfPqIndex`; `path` must
    * hold a `writeIvfPqIndex` layout built from that same corpus) and
    * appends into the per-cell partition layout. Because the batch
    * append is chunking-invariant, the stream converges to exactly the
    * one-shot-batch index (spec-proven), and searches see new vectors
    * as soon as their micro-batch commits.
    */
  def indexAppendStream(
      newVecStream: DataFrame,
      baseCorpus: DataFrame,
      path: String,
      centroidEvery: Int,
      m: Int,
      dim: Int): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newVecStream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) => Checkpoints.scoped {
        if (!batch.isEmpty)
          graft.functions.Similarity.appendToIvfPqIndex(
            baseCorpus, batch.toDF(), path, centroidEvery, m, dim,
            batchId = Some(batchId))
      }
    }
}
