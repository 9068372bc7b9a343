package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Checkpoints.Owned

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, token-count estimation,
  * document fingerprinting.
  *
  * Everything is built from codegen'd Catalyst built-ins (regexp/array/
  * higher-order functions) — no UDFs — so the operators stay inside
  * whole-stage codegen and scale linearly with no shuffle (they are all
  * narrow, per-row transforms).
  *
  * Engine-parity: hashes are md5-prefix based (`portableHash48`) so an
  * external SQL engine can reproduce results bit-for-bit.
  */
object TextAnalysis {

  /** Whitespace tokens, empty strings dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Plain whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token estimate: alphanumeric runs and each punctuation mark
    * count as one token (approximates subword tokenizer output length
    * far better than whitespace count on code/punctuated text).
    */
  def tokenEstimate(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** 48-bit portable hash: first 12 hex digits of md5, as BIGINT.
    * Reproducible in any engine with md5 + hex parsing; 48 bits keeps the
    * value positive in signed 64-bit math everywhere.
    */
  def portableHash48(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** Normalization used for near-dup fingerprints: lowercase, collapse
    * every non-alphanumeric run to a single space, trim.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Exact document fingerprint over normalized text (md5 hex). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Rolling 48-bit fingerprint: polynomial combination of token hashes —
    * order-sensitive (unlike a bag-of-words hash) yet incremental.
    * fp = fold(tokens, 0, (acc, t) -> (acc * 31 + h48(t)) mod 2^48)
    */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => pmod(acc * lit(31L) + portableHash48(t), lit(1L << 48)))

  // --- language identification -----------------------------------------

  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "mit", "nicht", "von"),
    "es" -> Seq("el", "los", "de", "y", "un", "una", "es", "que", "por", "con"))

  /** Count of tokens present in a stopword list. */
  def stopwordCount(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(stopwords(lang): _*)))

  /** CJK character count (BMP unified ideographs). */
  def cjkCount(text: Column): Column =
    length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", ""))

  /** N-gram/stopword-heuristic language ID over {en, fr, de, es, zh}.
    * Deterministic tie-break order: en > fr > de > es.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val en = stopwordCount(toks, "en")
    val fr = stopwordCount(toks, "fr")
    val de = stopwordCount(toks, "de")
    val es = stopwordCount(toks, "es")
    val cjk = cjkCount(text)
    when(cjk * 2 >= size(toks) && cjk > 0, "zh")
      .when(en >= fr && en >= de && en >= es, "en")
      .when(fr >= de && fr >= es, "fr")
      .when(de >= es, "de")
      .otherwise("es")
  }

  // --- quality scoring ---------------------------------------------------

  /** Heuristic quality score in [0, 1000] (integer milli-units for engine
    * parity): rewards reasonable length, stopword density and low
    * punctuation noise — the standard cheap pre-filter before expensive
    * dedup/training steps.
    */
  def qualityMilli(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val nChars = length(text).cast("double")
    val punct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double")
    val stops = stopwordCount(toks, "en").cast("double")
    val lenScore = least(nTok, lit(256.0)) / lit(256.0)
    val stopScore = least(stops * lit(4.0) / greatest(nTok, lit(1.0)), lit(1.0))
    val punctScore = lit(1.0) - least(punct / greatest(nChars, lit(1.0)) * lit(4.0), lit(1.0))
    floor((lenScore * lit(0.4) + stopScore * lit(0.4) + punctScore * lit(0.2)) * lit(1000))
      .cast("long")
  }

  // --- lexical retrieval (BM25) ----------------------------------------

  /** BM25 keyword search over the corpus, integer-exact: every factor of
    * the classic formula is computed in scaled-integer arithmetic —
    * idf as the bit-length log2 ([[log2Q10Sql]], q10 units), the length
    * normalization and tf saturation as milli-scaled integral divisions —
    * so any engine reproduces the scores bit-for-bit (BM25's doubles are
    * the usual parity killer: log + divisions compound last-ulp drift).
    *
    * Plan shape for 100 TB: the explode is immediately filtered to the
    * query terms (`isin` — a narrow scan-side prune; only query-term
    * occurrences ever shuffle), per-term df and corpus stats are
    * broadcast back, and the top-k is orderBy+limit — Spark plans
    * `TakeOrderedAndProject` (per-partition heap + driver merge of k
    * rows), never a global sort or single-partition window.
    * Scoring: standard Robertson BM25 with k1 = 1.2 and b = 0.75
    * (`K1Milli`, `BMilli`); `idf_q10 = log2(N/df) * 1024` (non-negative,
    * unlike the log((N-df+.5)/(df+.5)) variant, and exactly portable).
    * Output: (doc_id, score_q10) top `topK` by (score desc, id).
    */
  def bm25Search(
      df: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      topK: Int = 50): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0).as("toks"))
    val lens = base.select(col("doc_id"), size(col("toks")).cast("long").as("len"))
    val stats = lens.agg(count(lit(1)).as("n"), sum(col("len")).as("tot")) // 1 row
    // corpus tokens are lowercased above: fold the query the same way,
    // or a mixed-case term silently matches nothing (the batch serving
    // path bm25SearchManyFromIndex already folds)
    val qTerms = queryTerms.map(_.toLowerCase)
    val tf = base.select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t").isin(qTerms: _*)) // prune BEFORE any shuffle
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    bm25Rank(tf.join(lens, "doc_id"), stats, topK)
  }

  /** Shared BM25 scoring tail: `withLen` = (doc_id, t, tf, len) rows for
    * the query terms only; `stats` = one (n, tot) row. Both the direct
    * corpus path and the materialized-index path end here, which is what
    * makes their rankings identical by construction.
    */
  private def bm25Rank(withLen: DataFrame, stats: DataFrame, topK: Int): DataFrame = {
    val dfq = withLen.groupBy(col("t")).agg(count(lit(1)).as("dfreq"))
    bm25Contrib(withLen.join(broadcast(dfq), "t").crossJoin(broadcast(stats)))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_q10")).as("score_q10"))
      .orderBy(col("score_q10").desc, col("doc_id"))
      .limit(topK)
  }

  /** BM25 term-frequency saturation k1, in thousandths (1.2). */
  private val K1Milli = 1200L

  /** BM25 length normalization b, in thousandths (0.75). */
  private val BMilli = 750L

  /** The per-(doc, term) BM25 contribution arithmetic, shared verbatim by
    * every scoring path (direct, from-index, multi-query) so rankings
    * agree by construction. Input needs (tf, len, dfreq, n, tot).
    */
  private def bm25Contrib(rows: DataFrame): DataFrame =
    rows
      .withColumn("idf_q10",
        expr(s"cast(${log2Q10Sql("n")} - ${log2Q10Sql("dfreq")} as bigint)"))
      .withColumn("avgl_milli", expr("(tot * 1000) div n"))
      .withColumn("rel_milli", expr("(len * 1000000) div avgl_milli"))
      .withColumn("norm_milli",
        expr(s"(1000 - $BMilli) + ($BMilli * rel_milli) div 1000"))
      .withColumn("tfn_milli",
        expr(s"(tf * ($K1Milli + 1000) * 1000) div " +
          s"(tf * 1000 + ($K1Milli * norm_milli) div 1000)"))
      .withColumn("contrib_q10", expr("(idf_q10 * tfn_milli) div 1000"))

  /** Materialize an inverted index for [[bm25Search]]: postings
    * (t, doc_id, tf, len) partitioned by a hash bucket of the term, plus
    * a one-row stats table (n docs, total length, bucket count).
    *
    * The tokenize+explode+count pass — the expensive part of every BM25
    * query — runs ONCE at build time; at query time the query terms'
    * buckets become a PARTITION FILTER on the postings read (unprobed
    * buckets' files never open; within a bucket the term equality pushes
    * into the parquet reader's dictionary/stats), the keyword-search twin
    * of [[graft.functions.Similarity.writeIvfPqIndex]]'s cell pruning.
    * Document length is denormalized into each posting (the classic
    * Lucene norm-in-posting layout) so scoring needs no doc-table join.
    * Term df is NOT stored: all postings of a term live in one bucket,
    * so the filtered read recomputes it exactly.
    */
  def writeInvertedIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      buckets: Int = 64): Unit = {
    val spark = df.sparkSession
    IndexLayout.writeParams(spark, path, Map("buckets" -> buckets.toLong))
    postingsOf(df, textCol, idCol, buckets, IndexLayout.BaseBatch)
      .write.mode("overwrite").partitionBy("bucket", "batch")
      .parquet(s"$path/postings")
    batchStats(spark, df.count(), path, buckets, IndexLayout.BaseBatch)
      .write.mode("overwrite").partitionBy("batch").parquet(s"$path/stats")
  }

  /** One batch's postings (doc_id, t, tf, len, bucket, batch) in ONE
    * tokenize pass: len rides the explode as a per-doc grouping constant,
    * so there is no lens join and no second tokenize of the input.
    */
  private def postingsOf(df: DataFrame, textCol: String, idCol: String,
      buckets: Int, batch: Long): DataFrame =
    df.select(col(idCol).as("doc_id"),
        filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("len"),
        explode(col("toks")).as("t"))
      .groupBy(col("doc_id"), col("len"), col("t")).agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("t"), col("tf"), col("len"))
      .withColumn("bucket", pmod(portableHash48(col("t")), lit(buckets.toLong)))
      .withColumn("batch", lit(batch))

  /** One batch's stats row (n, tot, buckets, batch), taken AFTER its
    * postings are written: tot = sum(tf) over the written partitions
    * (every token contributes exactly 1 to its (doc, t) posting) and
    * n = the caller's count of the input docs (token-less docs hold no
    * postings but count toward n). The caller writes it LAST — the
    * batch's commit marker.
    */
  private def batchStats(spark: org.apache.spark.sql.SparkSession, n: Long, path: String,
      buckets: Int, batch: Long): DataFrame = {
    // an all-token-less batch lands no postings files at all; its tot is
    // 0 by construction (AnalysisException = empty-dir schema inference,
    // the only failure a just-written dir can produce)
    val tot =
      try IndexLayout.readTable(spark, s"$path/postings")
        .filter(col("batch").cast("long") === batch)
        .agg(coalesce(sum(col("tf")), lit(0L)).as("tot"))
        .head().getAs[Long]("tot")
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    spark.range(1).select(lit(n).as("n"), lit(tot).as("tot"),
      lit(buckets.toLong).as("buckets"), lit(batch).as("batch"))
  }

  /** Append a document batch into an existing [[writeInvertedIndex]]
    * layout — the keyword-search member of the idempotent-append index
    * family (LSH bands, int8/IVF+PQ codes, perceptual hashes): the
    * batch's postings land in `bucket=<k>/batch=<id>` partitions, so
    * query-time bucket pruning sees appended terms exactly like base
    * terms, and the batch's own (n docs, total length) stats row lands
    * under `stats/batch=<id>`.
    *
    * Unlike the ANN indexes' FROZEN codebooks, nothing here is stale by
    * construction: per-term df recomputes live from the unioned postings
    * of a term's single bucket, and the corpus stats (BM25's N and the
    * length norm's avgdl) are COUNT MONOIDS, so [[readIndexStats]] sums
    * the per-batch rows to the exact corpus values — a search after an
    * append ranks IDENTICALLY to a one-shot rebuild over the same
    * documents (spec-proven, `FunctionsSpec`), with no refresh cadence
    * to manage.
    *
    * IDEMPOTENT per batch id: a repeated call with the same `batchId`
    * (foreachBatch's at-least-once replay) dynamic-overwrites exactly its
    * own partitions instead of double-counting postings or stats. Without
    * an explicit `batchId` the next free id is allocated from the layout
    * (non-replayable — streaming callers must pass the micro-batch id).
    * Documents must be NEW ids: re-submitting an indexed doc_id would
    * duplicate its postings across batch partitions (dedup upstream —
    * this is an append, not an upsert).
    *
    * CRASH ATOMICITY: postings land first, the stats row LAST — the
    * stats row is the batch's COMMIT MARKER. A crash between the two
    * writes leaves orphan postings partitions, which every search path
    * ignores ([[committedBatchIds]] filters the postings read to
    * stats-marked batches — orphan docs would otherwise inflate tf/df
    * while the corpus n/tot excluded them, silently skewing IDF for
    * every query). A replay with the SAME batch id replaces the orphans
    * and commits; a later append under a fresh id leaves them as
    * invisible garbage (harmless, reclaimed by the next replay or
    * rebuild).
    */
  def appendToInvertedIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      buckets: Int = 64,
      batchId: Option[Long] = None): Unit = {
    val spark = df.sparkSession
    // a mismatched bucket count would route appended postings into
    // different partitions than the layout's — query-time pruning would
    // silently miss them forever after. Fail here instead.
    IndexLayout.requireParams(spark, path, Map("buckets" -> buckets.toLong))
    // a pre-batch-convention layout (postings under flat bucket=K/, no
    // batch level) cannot be appended to: the mixed-depth partition tree
    // would brick every later read of the WHOLE index. Fail loudly.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/postings")) ||
      IndexLayout.hasBatchDirs(spark, s"$path/postings"),
      s"inverted index at $path predates the batch=<id> layout " +
        "(flat bucket partitions) — rebuild it with writeInvertedIndex " +
        "before appending; appending would corrupt the partition tree")
    // one count serves the empty check and the stats row's n
    val n = df.count()
    if (n == 0L) return // nothing to land; keeps empty micro-batches free
    val id = IndexLayout.allocateBatchId(spark, batchId, s"$path/postings",
      s"$path/compacted", "compaction")
    IndexLayout.overwriteBatchPartitions(
      postingsOf(df, textCol, idCol, buckets, id),
      s"$path/postings", Seq("bucket", "batch"))
    IndexLayout.overwriteBatchPartitions(
      batchStats(spark, n, path, buckets, id), s"$path/stats", Seq("batch"))
  }

  /** GDPR-style delete from a [[writeInvertedIndex]] layout — the
    * keyword-index member of the index-deletion family (LSH bands, int8
    * codes, IVF+PQ codes): copy-on-write rewrite of exactly the
    * `bucket=<k>/batch=<id>` postings partitions holding the deleted
    * docs' rows, plus one NEGATED corpus-stats row — n and tot are count
    * monoids ([[readIndexStats]] SUMS the per-batch rows), so a delete
    * is just a stats row with negative counts, and a post-delete
    * [[bm25SearchFromIndex]] ranks IDENTICALLY to a one-shot rebuild
    * without the deleted docs (spec-pinned): surviving postings are
    * untouched, per-term df recomputes live from them, and the summed
    * (n, tot) equal the survivors' exactly.
    *
    * REPLAY PROTOCOL (the maintained-triangle-counts discipline applied
    * to the index tier). Delete batches live in their own id namespace
    * BELOW [[IndexLayout.BaseBatch]] (`internal = -2 - batchId`) so a
    * delete stream and an append stream feeding the same index can never
    * collide on a stats partition. Steps, in order:
    *   1. resolve the delete set against the COMMITTED postings into
    *      `<path>/deletes/<internal>` — per-doc lens AND the affected
    *      (bucket, batch) partitions, persisted BEFORE any mutation (a
    *      replay must subtract exactly what attempt 1 resolved; after
    *      the rewrite the lens are unrecoverable from the index);
    *   2. copy-on-write rewrite of the affected postings partitions
    *      (untouched partitions byte-identical, emptied ones dropped);
    *   3. the negated stats row, written LAST — the delete's COMMIT
    *      MARKER. A crash between 2 and 3 leaves (n, tot) counting docs
    *      whose postings are gone (scores transiently use a slightly
    *      large n; deleted docs are already unfindable); replaying the
    *      same `batchId` reuses the persisted resolution, re-runs the
    *      idempotent rewrite, and commits. A replay AFTER the marker
    *      exists is detected and returns without scanning anything.
    *   Orphan postings of a crashed APPEND (no stats marker) are not
    *   touched: they are already invisible to search and are replaced
    *   wholesale when their own batch id replays. ORDERING CONTRACT: a
    *   delete therefore covers only batches COMMITTED when it resolves —
    *   a doc still mid-ingest (its append uncommitted or replaying)
    *   reappears when that append commits, because the replay rewrites
    *   its whole batch partition from source data; deleting such a doc
    *   requires re-issuing the delete AFTER its append commits (standard
    *   last-writer semantics between two streams).
    * Batch pending ids into ONE call per maintenance window — each
    * call pays its own corpus-proportional discovery scan (measured
    * 7x for 10 calls vs 1; SCALING "Delete-family pricing").
    */
  def deleteFromInvertedIndex(
      spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame,
      path: String,
      batchId: Option[Long] = None): graft.sinks.Lake.DeleteStats = {
    val docIds = Similarity.oneIdCol(ids, "doc_id")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // same guard as the appender: a pre-batch-convention layout cannot
    // take maintenance writes without bricking partition discovery
    require(IndexLayout.hasBatchDirs(spark, s"$path/postings"),
      s"inverted index at $path predates the batch=<id> layout " +
        "(or is empty) — rebuild it with writeInvertedIndex first")
    val ((_, _, buckets), committed) = indexStatsSnapshot(spark, path)
    // delete slots consumed by a compaction can never replay (their
    // negated stats already live in the compacted row)
    val delThrough = IndexLayout
      .compactedThrough(spark, s"$path/compacted_del").getOrElse(-1L)
    val internal = batchId match {
      case Some(b) =>
        require(b >= 0, s"delete batchId must be >= 0 (a stream's micro-batch id), got $b")
        require(b > delThrough,
          s"delete batch $b was consumed by a compaction (through=" +
            s"$delThrough) — a replay here would double-subtract its " +
            "stats; deletes must resume above it")
        -2L - b
      case None =>
        // next free id in the delete namespace (< BaseBatch), disjoint
        // from append allocation (max + 1) forever. Allocation must see
        // RESOLVED-but-uncommitted batches too (the deletes/ listing),
        // not just committed stats ids: otherwise a fresh auto-id delete
        // would collide with a crashed or matched-nothing predecessor's
        // slot, silently reuse ITS persisted resolution, and delete the
        // wrong set (r16 self-review)
        val resolvedIds = {
          val delRoot = new org.apache.hadoop.fs.Path(s"$path/deletes")
          if (!fs.exists(delRoot)) Seq.empty[Long]
          else fs.listStatus(delRoot).toSeq
            .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
            .map(b => -2L - b)
        }
        (committed.filter(_ < IndexLayout.BaseBatch) ++ resolvedIds ++
          // compaction-consumed slots are gone from stats AND deletes/;
          // the marker keeps allocation strictly below them
          Seq(-2L - delThrough))
          .foldLeft(IndexLayout.BaseBatch)(math.min) - 1L
    }
    val delDir = new org.apache.hadoop.fs.Path(s"$path/deletes/${-internal - 2L}")
    val resolvedDone = fs.exists(new org.apache.hadoop.fs.Path(delDir, "_SUCCESS"))
    // replay after full commit: the marker (this delete's stats
    // partition) exists — nothing to do, nothing to scan
    if (resolvedDone &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats/batch=$internal")))
      return graft.sinks.Lake.DeleteStats(0L, 0L, 0L, 0L)
    // one open of the postings serves the resolution and the rewrite
    val postings = IndexLayout.readTable(spark, s"$path/postings")
    if (!resolvedDone) {
      // one committed-postings scan resolves lens AND affected partitions
      committedOnly(postings, committed)
        .join(broadcast(docIds), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("len"),
          col("bucket").cast("long").as("bucket"),
          col("batch").cast("long").as("batch"))
        .distinct()
        .write.mode("overwrite").parquet(delDir.toString)
    }
    val resolved = IndexLayout.readTable(spark, delDir.toString)
    // per (doc_id, BATCH), not per doc_id: the append stats are
    // per-batch monoid rows, so a doc_id appended in two committed
    // batches is counted twice in cumulative n/tot — collapsing it to
    // one negated row here would under-subtract while the COW rewrite
    // removes both posting copies (r16 ADVICE)
    val del = resolved.select(col("doc_id"), col("batch"), col("len")).distinct()
      .agg(count(lit(1)).as("n"), coalesce(sum(col("len")), lit(0L)).as("tot"))
      .head()
    val (nDel, totDel) = (del.getAs[Long]("n"), del.getAs[Long]("tot"))
    if (nDel == 0L) {
      // no indexed doc matched. An EXPLICIT (stream) batch still COMMITS
      // — a zero stats row is the monoid identity, and without the
      // marker pendingDeletes would report the batch forever with no way
      // to heal it (r16 self-review). An AUTO-id ad-hoc delete instead
      // removes its resolution and leaves NO trace: committing a fresh
      // slot per attempt would let a retry loop (e.g. re-issuing a
      // delete until its doc's in-flight append commits — the ordering
      // contract above) grow the stats table without bound, and every
      // search collects that table.
      if (batchId.isDefined)
        IndexLayout.overwriteBatchPartitions(
          spark.range(1).select(lit(0L).as("n"), lit(0L).as("tot"),
            lit(buckets).as("buckets"), lit(internal).as("batch")),
          s"$path/stats", Seq("batch"))
      else fs.delete(delDir, true)
      return graft.sinks.Lake.DeleteStats(0L, 0L, 0L, 0L)
    }
    val affected = resolved
      .select(col("bucket").cast("string"), col("batch").cast("string"))
      .distinct().collect().map(r => Seq(r.getString(0), r.getString(1)))
    val stats = graft.sinks.Lake.cowDeleteFromPartitions(
      spark, s"$path/postings", postings, Seq("bucket", "batch"), affected.toSeq,
      rowsDeleted = None)(_.join(broadcast(docIds), Seq("doc_id"), "left_anti"))
    IndexLayout.overwriteBatchPartitions(
      spark.range(1).select(lit(-nDel).as("n"), lit(-totDel).as("tot"),
        lit(buckets).as("buckets"), lit(internal).as("batch")),
      s"$path/stats", Seq("batch"))
    stats
  }

  /** [[deleteFromInvertedIndex]] with an inline id list. */
  def deleteFromInvertedIndex(
      spark: org.apache.spark.sql.SparkSession,
      ids: Seq[Long],
      path: String): graft.sinks.Lake.DeleteStats = {
    import spark.implicits._
    deleteFromInvertedIndex(spark, ids.toDF("doc_id"), path)
  }

  /** Delete batches that resolved (step 1) but never committed their
    * stats marker (step 3) — the operational probe for a crashed
    * [[deleteFromInvertedIndex]]: replay each returned id to finish it.
    * Returned ids are in the CALLER's namespace (the `batchId` values).
    * Driver-side listing, bounded by the number of delete batches.
    */
  def pendingDeletes(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delRoot = new org.apache.hadoop.fs.Path(s"$path/deletes")
    if (!fs.exists(delRoot)) return Seq.empty
    // slots a compaction consumed are NOT pending even when their
    // resolution dir briefly survives (a crash between the stats
    // collapse and the reclaim): their negated stats live in the
    // compacted row, and reporting them would block the compaction
    // rerun behind its own quiesce guard
    val consumed = IndexLayout
      .compactedThrough(spark, s"$path/compacted_del").getOrElse(-1L)
    fs.listStatus(delRoot).toSeq
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .filter(_ > consumed)
      .filter { b =>
        !fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats/batch=${-2L - b}"))
      }.sorted
  }

  /** Compact an inverted index's batch tree — the LIFECYCLE operator the
    * idempotent-append layout needs: a year of micro-batches is
    * thousands of `bucket=K/batch=N` dirs and stats rows, and partition
    * discovery, the stats collect, and file-open cost all grow with
    * every one. Collapses COMMITTED postings into ONE batch (the max
    * committed id, so the rows stay visible through the existing
    * commit-marker filter at every instant of the postings swap), sums
    * the stats rows (count monoids — appends and negated deletes alike)
    * into one row at that id, reclaims committed deletes' resolution
    * dirs, and records the consumed id
    * bounds so a REPLAYED pre-compaction batch fails loudly instead of
    * silently duplicating rows ([[IndexLayout.compactedThrough]] guards
    * in the appender and the deleter). Post-compaction searches are
    * bit-identical (spec-pinned) and new appends/deletes continue above
    * the recorded bounds.
    *
    * STOP-THE-WORLD maintenance: quiesce the ingest/delete/search tiers
    * for the swap window ([[IndexLayout.compactTable]]'s resume rule
    * covers a crash mid-swap — rerunning this function finishes it).
    */
  def compactInvertedIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      reclaimOrphans: Boolean = false): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // finish any half-done swap before reading state
    IndexLayout.resumeCompaction(spark, s"$path/postings")
    IndexLayout.resumeCompaction(spark, s"$path/stats")
    val ((_, _, buckets), committed) = indexStatsSnapshot(spark, path)
    require(committed.nonEmpty, s"nothing to compact at $path (no committed batches)")
    // ENFORCED quiesce, not just documented: an in-flight batch would be
    // destroyed silently. A pending delete's resolution references
    // pre-compaction partition coordinates (its post-compaction replay
    // would no-op the rewrite yet still subtract stats), and an orphan
    // append's replay would be refused by the marker with its docs lost
    // — heal or abandon them FIRST, loudly.
    require(pendingDeletes(spark, path).isEmpty,
      s"index at $path has crashed deletes pending " +
        s"(${pendingDeletes(spark, path).mkString(",")}) — replay them to " +
        "completion before compacting (their resolutions reference " +
        "pre-compaction partition coordinates)")
    val orphans = {
      val p = new org.apache.hadoop.fs.Path(s"$path/postings")
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(p, "*/batch=*")))
        .map(_.toSeq.flatMap(s => scala.util.Try(
          s.getPath.getName.stripPrefix("batch=").toLong).toOption).distinct)
        .getOrElse(Nil).filterNot(committed.contains)
    }
    // orphans from a REPLAYABLE stream batch must not be consumed (the
    // replay would be refused post-compaction with the docs lost), but
    // an ad-hoc auto-id orphan is non-replayable BY DESIGN and would
    // otherwise block compaction forever — `reclaimOrphans = true` is
    // the operator's explicit statement that the orphans are ad-hoc
    // garbage to drop (the `keep` filter already excludes their rows)
    require(orphans.isEmpty || reclaimOrphans,
      s"index at $path has UNCOMMITTED postings batches ${orphans.sorted
        .mkString(",")} — a replayable ingest batch may be in flight; " +
        "let it commit (or replay) before compacting, or pass " +
        "reclaimOrphans = true if these are crashed AD-HOC (auto-id, " +
        "non-replayable) appends to drop")
    val through = committed.max
    // caller-space bound of CONSUMED delete slots (internal ids below
    // BaseBatch map back as -id-2); -1 = none consumed
    val delThrough = committed.filter(_ < IndexLayout.BaseBatch)
      .map(id => -id - 2L).foldLeft(-1L)(math.max)
    // markers FIRST: the stats collapse destroys the evidence of which
    // ids were consumed, so a crash after it but before the markers
    // would leave the replay guards permanently unwritable (r16 third
    // review). Early markers are safe: every id at or below them is
    // committed (guards above), and committed batches only replay after
    // a crash the pendingDeletes/orphan guards just excluded.
    IndexLayout.writeCompactedThrough(spark, s"$path/compacted", through)
    if (delThrough >= 0L)
      IndexLayout.writeCompactedThrough(spark, s"$path/compacted_del", delThrough)
    IndexLayout.compactTable(spark, s"$path/postings", Seq("bucket", "batch"),
      toBatch = through,
      keep = df => committedOnly(df, committed),
      repartitionCols = Seq("bucket"),
      targetFiles = math.max(1, buckets.toInt))
    IndexLayout.compactTable(spark, s"$path/stats", Seq("batch"),
      toBatch = through,
      keep = df => df.agg(sum(col("n")).as("n"), sum(col("tot")).as("tot"),
        max(col("buckets")).as("buckets")),
      repartitionCols = Nil, targetFiles = 1)
    // consumed delete resolutions are dead weight (their batches can
    // never replay past the guard, and the pending guard above proved
    // every slot here is committed): reclaim them — bounded by the
    // MARKER, not this run's delThrough, so a rerun after a crash in
    // this window (whose recomputed delThrough is -1, the slots' stats
    // already folded) still reclaims the stragglers
    val consumedDel = math.max(delThrough, IndexLayout
      .compactedThrough(spark, s"$path/compacted_del").getOrElse(-1L))
    val delRoot = new org.apache.hadoop.fs.Path(s"$path/deletes")
    if (fs.exists(delRoot))
      fs.listStatus(delRoot).foreach { s =>
        scala.util.Try(s.getPath.getName.toLong).toOption
          .filter(_ <= consumedDel)
          .foreach(_ => { fs.delete(s.getPath, true); () })
      }
  }

  /** Commit-marker visibility filter over a postings read. Up to
    * [[graft.sinks.Lake.MaxInlineIds]] committed batch ids ride the plan
    * as an `isin` literal list (partition-pruned at planning time);
    * above that — years of micro-batches on an uncompacted index — the
    * list would be thousands of literals of plan text, the exact
    * scalability bug the Lake rule exists to avoid (r16 ADVICE), so it
    * falls back to a broadcast semi-join on the batch column.
    */
  private def committedOnly(df: DataFrame, committed: Seq[Long]): DataFrame =
    if (committed.length <= graft.sinks.Lake.MaxInlineIds)
      df.filter(col("batch").cast("long").isin(committed: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(committed.toDF("__committed_batch")),
        col("batch").cast("long") === col("__committed_batch"), "left_semi")
    }

  /** Exact corpus stats of a (possibly appended-to) inverted index:
    * n and tot are count monoids, so the per-batch stats rows SUM to the
    * one-shot values; `buckets` is a layout constant (append-guarded by
    * the params table). One bounded read of a rows-per-batch table.
    */
  def readIndexStats(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): (Long, Long, Long) = {
    val r = IndexLayout.readTable(spark, s"$indexPath/stats")
      .agg(sum(col("n")).as("n"), sum(col("tot")).as("tot"),
        max(col("buckets")).as("buckets")).head()
    (r.getAs[Long]("n"), r.getAs[Long]("tot"), r.getAs[Long]("buckets"))
  }

  /** Batch ids whose stats row exists — the append protocol's COMMIT
    * MARKERS (the stats row is written last; see
    * [[appendToInvertedIndex]]'s crash-atomicity note). Search paths
    * filter the postings read to this set so a crashed append's orphan
    * postings stay invisible. One bounded read of the rows-per-batch
    * stats table; the partition column is cast because partition
    * discovery may infer `batch=0` as int.
    */
  def committedBatchIds(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Seq[Long] =
    IndexLayout.readTable(spark, s"$indexPath/stats")
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq

  /** One COHERENT snapshot of the stats table: corpus totals AND the
    * committed batch-id set derived from a SINGLE collect. Two separate
    * reads ([[readIndexStats]] then [[committedBatchIds]]) race a
    * concurrent ingest: a batch committing between them is visible in
    * the id set but uncounted in n/tot — scored postings with stale
    * IDF, the exact incoherence the frozen-view serving contract
    * ([[graft.streaming.StreamOps.bm25SearchStream]]) rules out. One
    * bounded read — the stats table holds one row per committed batch.
    */
  def indexStatsSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): ((Long, Long, Long), Seq[Long]) = {
    val rows = IndexLayout.readTable(spark, s"$indexPath/stats")
      .select(col("n"), col("tot"), col("buckets"),
        col("batch").cast("long").as("batch"))
      .collect()
    // a readable-but-empty stats table (a crashed append can leave a
    // schema'd zero-row file) degrades to the no-committed-batches
    // snapshot, matching readIndexStats' behavior — not an empty.max
    if (rows.isEmpty) ((0L, 0L, 0L), Seq.empty)
    else ((rows.map(_.getAs[Long]("n")).sum,
      rows.map(_.getAs[Long]("tot")).sum,
      rows.map(_.getAs[Long]("buckets")).max),
      rows.map(_.getAs[Long]("batch")).distinct.toSeq)
  }

  /** Driver-side twin of [[portableHash48]] (md5-prefix, same 48 bits) —
    * lets the query side compute term buckets without a Spark job.
    */
  private def hash48Local(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString, 16)

  /** BM25 against a MATERIALIZED index (see [[writeInvertedIndex]]):
    * identical ranking to [[bm25Search]] on the indexed corpus
    * (spec-proven — both end in the same scoring tail), but the corpus is
    * never re-tokenized and only the query terms' bucket partitions are
    * read.
    */
  def bm25SearchFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queryTerms: Seq[String],
      topK: Int = 50): DataFrame = {
    val ((n, tot, buckets), committed) = indexStatsSnapshot(spark, indexPath)
    val stats = spark.range(1).select(lit(n).as("n"), lit(tot).as("tot"))
    // the index stores lowercased terms: fold BEFORE bucketing, or a
    // mixed-case query reads the wrong bucket partition and finds nothing
    val qTerms = queryTerms.map(_.toLowerCase)
    val qBuckets = qTerms.map(t => hash48Local(t) % buckets).distinct
    val postings = IndexLayout.readTable(spark, s"$indexPath/postings")
      .filter(col("bucket").isin(qBuckets: _*))   // partition filter
      .filter(col("t").isin(qTerms: _*))        // parquet-pushed within bucket
      .transform(committedOnly(_, committed))   // commit-marker visibility
      .select(col("doc_id"), col("t"), col("tf"), col("len"))
    bm25Rank(postings, stats.select(col("n"), col("tot")), topK)
  }

  /** Multi-query BM25 against a materialized index: ONE bucket-pruned
    * postings read serves the whole query batch (`queries` = (qid,
    * space-separated terms)), instead of a Spark job per query — the
    * serving-batch shape `StreamOps.bm25SearchStream` runs per
    * micro-batch. Per-query rankings are identical to
    * [[bm25SearchFromIndex]] by construction: per-term df comes from the
    * unioned postings BEFORE the query join (corpus-wide, query-
    * independent), the scoring tail is the same integer arithmetic, and
    * the per-qid top-k uses the same (score desc, doc_id) order.
    * Output: (qid, doc_id, score_q10), ordered by (qid, score desc, id).
    *
    * `statsRow` = (n, tot, buckets) lets a serving loop read the 1-row
    * stats table once for the stream's lifetime instead of per batch.
    * The driver-side term collect is bounded by the query batch's
    * vocabulary (queries are small by nature — this is the serving path).
    */
  def bm25SearchManyFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      topK: Int = 50,
      statsRow: Option[(Long, Long, Long)] = None,
      committedIds: Option[Seq[Long]] = None): DataFrame = {
    // frozen together by a serving stream: visibility and corpus stats
    // stay COHERENT (a batch ingested mid-stream is neither scored nor
    // counted until the stream's stats refresh). When the caller
    // supplies neither, derive BOTH from one snapshot for the same
    // coherence (two separate table reads race a concurrent ingest).
    // Exactly one supplied would pair a frozen value with a fresh read —
    // the third, silently-incoherent state: fail loudly instead.
    require(statsRow.isDefined == committedIds.isDefined,
      "supply statsRow and committedIds together (one coherent snapshot — " +
        "see indexStatsSnapshot) or neither; mixing a frozen value with a " +
        "fresh read re-opens the stats/visibility race")
    val snap =
      if (statsRow.isEmpty) Some(indexStatsSnapshot(spark, indexPath))
      else None
    val (n, tot, buckets) = statsRow.orElse(snap.map(_._1)).get
    val committed = committedIds.orElse(snap.map(_._2)).get
    // qt feeds both the driver-side term collect and the postings join
    val qt = queries.select(col("qid"),
        explode(filter(split(lower(col("terms")), "\\s+"), t => length(t) > 0)).as("t"))
      .distinct().checkpointed()
    val terms = qt.select(col("t")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (terms.isEmpty)
      // 0 rows, but doc_id's TYPE must match the index's (string ids are
      // legal): derive the empty frame from the postings schema so a
      // union with other batches can't hit a batch-dependent type error
      return IndexLayout.readTable(spark, s"$indexPath/postings")
        .select(lit(0L).as("qid"), col("doc_id"), lit(0L).as("score_q10"))
        .limit(0)
    val qBuckets = terms.map(t => hash48Local(t) % buckets).distinct
    val postings = IndexLayout.readTable(spark, s"$indexPath/postings")
      .filter(col("bucket").isin(qBuckets: _*))   // partition filter
      .filter(col("t").isin(terms: _*))         // parquet-pushed within bucket
      .transform(committedOnly(_, committed))   // commit-marker visibility
      .select(col("doc_id"), col("t"), col("tf"), col("len"))
    val dfq = postings.groupBy(col("t")).agg(count(lit(1)).as("dfreq"))
    val statsDf = spark.range(1).select(lit(n).as("n"), lit(tot).as("tot"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score_q10").desc, col("doc_id"))
    bm25Contrib(
      postings
        .join(broadcast(qt), "t")
        .join(broadcast(dfq), "t")
        .crossJoin(broadcast(statsDf)))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib_q10")).as("score_q10"))
      .withColumn("r", row_number().over(rankW))
      .filter(col("r") <= topK)
      .select(col("qid"), col("doc_id"), col("score_q10"))
      .orderBy(col("qid"), col("score_q10").desc, col("doc_id"))
  }

  /** Bigram collocations by pointwise mutual information — the corpus-
    * profiling pass that surfaces multi-word units ("new york",
    * "machine learning") a tokenizer/vocab builder should treat as one:
    * PMI = log2(p(ab) / (p(a) p(b))), computed integer-exactly as a SUM
    * of [[log2Q10Sql]] terms (never a log of a product — products of
    * corpus-scale counts overflow int64 at 100 TB; sums of per-count
    * logs cannot).
    *
    * Plan shape: one explode for unigram counts, one positional-pair
    * explode for bigram counts (both partially aggregated, keyed on the
    * term — bounded by vocabulary, not corpus), min-count filter BEFORE
    * the count joins (rare-pair noise never shuffles twice), corpus
    * totals as a broadcast 1-row cross join, top-k via
    * TakeOrderedAndProject. No unigram broadcast hint: the vocabulary is
    * unbounded at web scale (AQE broadcasts when it fits).
    * Output: (w1, w2, cab, pmi_q10) top `topK` by (pmi desc, w1, w2).
    */
  def collocationsPmi(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minCount: Long = 5L,
      topK: Int = 50): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0).as("toks"))
    val tot = base.agg(
      sum(size(col("toks"))).cast("long").as("tu"),
      sum(greatest(size(col("toks")) - 1, lit(0))).cast("long").as("tb")) // 1 row
    val uni = base.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val bi = base
      .filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    bi
      .join(uni.select(col("t").as("w1"), col("c").as("ca")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("cb")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi_q10", expr(
        s"cast(${log2Q10Sql("cab")} + 2 * ${log2Q10Sql("tu")} - ${log2Q10Sql("tb")}" +
          s" - ${log2Q10Sql("ca")} - ${log2Q10Sql("cb")} as bigint)"))
      .orderBy(col("pmi_q10").desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("cab"), col("pmi_q10"))
  }

  /** Train a BPE (byte-pair-encoding) merge table ON the corpus — the
    * tokenizer-training step of a training-data pipeline, in-engine
    * (Sennrich et al. 2016). Exact corpus statistics, not a sample:
    *
    *  - ONE corpus pass builds the word-frequency table (the classic BPE
    *    working set — VOCABULARY-bounded, so every later round touches
    *    thousands of rows regardless of corpus size; this is why BPE
    *    training scales: the 100 TB corpus is read once);
    *  - each round counts adjacent symbol pairs weighted by word count
    *    (positional explode + one partial-aggregated groupBy), takes the
    *    top pair by (count desc, pair asc) — a 1-row action — and merges
    *    it into the symbol strings with a literal space-delimited
    *    replace (left-to-right non-overlapping, the standard BPE greedy
    *    order in both engines);
    *  - the working set is localCheckpoint'd per round so the plan stays
    *    flat across `merges` iterations (same pattern as
    *    [[Similarity.kmeansCentroids]]' Lloyd rounds).
    *
    * Deterministic and engine-portable: lowercase \s+ words, per-char
    * symbols + a terminal `</w>`, binary string tie-breaks. The merge is
    * a space-padded literal replace applied TWICE: a sequential
    * left-to-right replace consumes the shared delimiter between
    * consecutive occurrences ("a b a b" merges 1st and 3rd pair on the
    * first pass), and after one pass the leftovers are isolated, so a
    * second pass completes the round — identical semantics in any engine
    * with a sequential substring replace. (On odd runs of an
    * identical-symbol pair this picks a slightly different — still
    * deterministic — merge alignment than symbol-list greedy BPE;
    * documented convention, applied in both engines.)
    * Output: (step, lhs, rhs, merged, pair_cnt) — the merge table a
    * tokenizer runtime consumes, in training order.
    */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int): DataFrame = Checkpoints.scoped {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(explode(filter(split(lower(col(textCol)), "\\s+"),
        t => length(t) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    // the state is (symbol strings, merge table so far, exhausted): an
    // empty top-pair collect ends the loop
    val ((_, out, _), _) =
      Checkpoints.iterate[(DataFrame, Vector[(Long, String, String, String, Long)], Boolean)](
        (words.select(
          concat(concat_ws(" ", filter(split(col("w"), ""), c => length(c) > 0)),
            lit(" </w>")).as("s"),
          col("cnt")).checkpointed(), Vector.empty, false),
        merges)(_._3) { case ((cur, out, _), step) =>
      val top = cur
        .select(col("cnt"), split(col("s"), " ").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("a"), col("b"))
        .limit(1).as[(String, String, Long)].collect()
      if (top.isEmpty) (cur, out, true)
      else {
        val (a, b, pc) = top.head
        def merge(c: Column): Column =
          call_function("replace", c, lit(s" $a $b "), lit(s" $a$b "))
        // eager: materialized before the old round's blocks are dropped
        (cur.select(
          trim(merge(merge(concat(lit(" "), col("s"), lit(" "))))).as("s"),
          col("cnt")).checkpointed(), out :+ ((step.toLong, a, b, a + b, pc)), false)
      }
    }
    out.toDF("step", "lhs", "rhs", "merged", "pair_cnt")
      .orderBy("step")
  }

  /** Apply a trained merge table ([[bpeTrain]] output, collected) to a
    * text column: adds `bpe_syms` (the BPE symbol sequence) and `bpe_len`.
    *
    * The whole document is processed as ONE symbol string — safe because
    * training counts pairs within words only, so no merge pair can span a
    * `</w>` boundary — and each merge is the same two-pass padded literal
    * replace as training (codegen'd StringReplace chain, no shuffle, no
    * action: the merge table rides in as plan literals, the classic
    * "model as literals" pattern shared with the random-projection sign
    * matrix).
    */
  def bpeEncode(
      df: DataFrame,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
    val sym0 = concat_ws(" ", transform(words, w =>
      concat(concat_ws(" ", filter(split(w, ""), c => length(c) > 0)), lit(" </w>"))))
    val merged = merges.foldLeft(concat(lit(" "), sym0, lit(" "))) {
      case (c, (a, b)) =>
        val one = call_function("replace", c, lit(s" $a $b "), lit(s" $a$b "))
        call_function("replace", one, lit(s" $a $b "), lit(s" $a$b "))
    }
    df.withColumn("bpe_syms", split(trim(merged), " "))
      .withColumn("bpe_len", size(col("bpe_syms")).cast("long"))
  }

  // --- corpus-LM fluency scoring ---------------------------------------

  /** `log2(x) * 1024`, integer-exact: bit-length gives the integer part
    * (`floor(log2 x) = length(bin(x)) - 1`), and a shift + integral
    * division linearly interpolates the 10-bit fraction (max error
    * ~0.086 bits). No libm `log` anywhere — libm implementations differ
    * in the last ulp across engines, which is exactly the kind of
    * nondeterminism that breaks bit-for-bit oracle parity. Pure
    * bit-length/shift/`div` arithmetic is identical everywhere.
    */
  private[graft] def log2Q10Sql(x: String): String =
    s"((length(bin($x)) - 1) * 1024 + " +
      s"(shiftleft($x, 10) div shiftleft(cast(1 as bigint), length(bin($x)) - 1)) - 1024)"

  /** Exploded lowercase character trigrams, `(doc_id, t)` plus any extra
    * columns the caller projected (e.g. an event-time column — the
    * streaming scorer needs it to survive the explode). Positions explode
    * OUTSIDE any lambda: a `transform` lambda would re-`lower` the text
    * per element (the CollapseProject/HOF pitfall).
    */
  def charTrigrams(
      df: DataFrame,
      textCol: String,
      idCol: String,
      carryCols: Seq[String] = Nil): DataFrame = {
    val carry = carryCols.map(col)
    // one linear-pass window extraction per doc (CharTrigramsExpr), then
    // a plain explode — the position-explode + substring(lt, i, 3) form
    // this replaces was O(len^2) per document (UTF8String's by-char
    // substring walks from byte 0 every call); same rows, same order
    df
      .select(col(idCol).as("doc_id") +:
        graft.expressions.TextExpressions.charTrigramWindows(
          lower(col(textCol))).as("ws") +: carry: _*)
      .select(col("doc_id") +: explode(col("ws")).as("t") +: carry: _*)
  }

  /** Corpus character-trigram model `(t, cnt)` — the batch-trained side
    * of the train-batch / score-stream split (see
    * `graft.streaming.StreamingCuration.lmSurprisalStream`).
    */
  def trigramModel(df: DataFrame, textCol: String, idCol: String): DataFrame =
    charTrigrams(df, textCol, idCol).groupBy(col("t")).agg(count(lit(1)).as("cnt"))

  /** log2(x)*1024 for a Scala Long, matching [[log2Q10Sql]] exactly.
    *
    * Domain: `1 <= x < 2^53`. Below 1 the bit-length trick degenerates
    * (x=0 would shift by 63 and return garbage, not throw); at 2^53 and
    * above `x << 10` overflows Long. Callers pass corpus/model counts,
    * so both edges mean "empty or absurd model" — fail loudly here
    * instead of silently producing wrong scores downstream.
    */
  def log2Q10(x: Long): Long = {
    require(x >= 1L, s"log2Q10 requires x >= 1 (got $x) — empty model/total?")
    require(x < (1L << 53), s"log2Q10 requires x < 2^53 (got $x)")
    val flog = 63 - java.lang.Long.numberOfLeadingZeros(x)
    flog.toLong * 1024L + ((x << 10) / (1L << flog)) - 1024L
  }

  /** Per-trigram surprisal column vs a model count column, in 1/1024-bit
    * units: `log2(total) - log2(cnt)`, integer-exact.
    */
  def surprisalQ10(cntCol: String, total: Long): Column =
    expr(s"cast(${log2Q10(total)} - ${log2Q10Sql(cntCol)} as bigint)")

  /** Corpus-LM fluency score (the CCNet-style quality signal): train a
    * character-trigram language model ON the corpus itself (one groupBy),
    * then score every document by the average surprisal of its trigram
    * occurrences, `avg(log2(total/cnt(t)))`, in 1/1024-bit units.
    * Fluent, ordinary text scores low; gibberish, rare-script and
    * encoding-garbage text scores high — the standard perplexity-bucket
    * filter, with the corpus itself as the reference model.
    *
    * Scale shape: trigram extraction is a narrow Generate (positions
    * exploded OUTSIDE any lambda — a `transform` lambda would re-lower
    * the text per element, the CollapseProject/HOF pitfall); the model
    * is one map-side-combined count over a vocabulary bounded by
    * |charset|^3 (AQE broadcasts it back); the score is one keyed join +
    * per-doc aggregate. Everything integer (see [[log2Q10Sql]]).
    * Output: (doc_id, n_tri, avg_surprisal_q10).
    */
  def lmSurprisalScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tri = charTrigrams(df, textCol, idCol)
    // collapse occurrences to per-(doc, trigram) multiplicities FIRST:
    // the model join then touches one row per distinct trigram per doc
    // (vs every occurrence), and the model itself is a cheap re-aggregate
    // of the same frame. The lazy checkpoint materializes td once for
    // both uses; AQE sizes the join from the real runtime bytes.
    val td = tri.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("k"))
      .checkpointed(eager = false)
    val cnt = td.groupBy(col("t")).agg(sum(col("k")).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).as("total")) // one row, broadcast
    td.join(cnt, "t")
      .crossJoin(broadcast(total))
      .withColumn("s_q10",
        expr(s"cast(${log2Q10Sql("total")} - ${log2Q10Sql("cnt")} as bigint)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tri"), sum(col("k") * col("s_q10")).as("sum_s"))
      .withColumn("avg_surprisal_q10", expr("cast(sum_s div n_tri as bigint)"))
      .select(col("doc_id"), col("n_tri"), col("avg_surprisal_q10"))
  }

  /** Trained Naive Bayes text classifier — the in-engine analog of the
    * fastText-style curation classifiers (language ID, domain routing,
    * quality gating) every large training-data pipeline runs: hashed
    * char-trigram bag features (`NbBuckets`-way), add-one smoothing,
    * integer-exact log2 scores (see [[log2Q10Sql]] — no libm, so the
    * DuckDB oracle reproduces every score bit-for-bit).
    *
    * Trains on the content-hash split `md5(text) % 1000 < 800`
    * (the `Curation.datasetSplit` convention — exact dups co-assign, so
    * the held-out side is leakage-free by construction) and scores EVERY
    * doc with >= 1 trigram:
    * `argmax_c [ log2(d_c) + sum_b k_b log2(n_cb + 1) - n log2(n_c + B) ]`
    * (`d_c` = train docs of class c, `n_cb` = train count of bucket b in
    * class c, `n_c` = class token total, `n` = the doc's trigram count),
    * ties broken by label order.
    *
    * Scale shape: the trigram explode is the one corpus-sized pass,
    * collapsed immediately to per-(doc, bucket) multiplicities and
    * lazily checkpointed — the model and the scorer share that frame.
    * The model is <= |classes| x `NbBuckets` rows and the class table
    * <= |classes| rows, both broadcast; scoring fans each (doc, bucket)
    * row out exactly |classes| ways, re-aggregates per (doc, class), and
    * picks the argmax with a window over |classes| rows per doc — no
    * global sort, no all-pairs join, nothing proportional to corpus^2.
    *
    * Output: `(doc_id, pred_label, score_q10)`, one row per scored doc.
    */
  def nbClassify(
      df: DataFrame,
      textCol: String,
      idCol: String,
      labelCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      col(labelCol).as("__label"),
      (pmod(Curation.hash48(col(textCol)), lit(1000)) < 800).as("__tr"))
    val td = nbBucketCounts(base, "doc_id", "__label", "__tr")
      .checkpointed(eager = false)
    val m = td.filter(col("__tr"))
      .groupBy(col("__label").as("c"), col("b"))
      .agg(sum(col("k")).as("n_cb"))
    val classTot = m.groupBy(col("c")).agg(sum(col("n_cb")).as("n_c"))
    // priors count ALL train docs of the class (trigram-less docs still
    // vote for their class's prior), a second narrow pass over the scan
    val priors = base.filter(col("__tr"))
      .groupBy(col("__label").as("c")).agg(count(lit(1)).as("d_c"))
    val classes = classTot.join(priors, "c")
    nbScoreCore(td.select(col("doc_id"), col("b"), col("k")), m, classes)
  }

  /** Hashed trigram buckets of every NB model (the feature width B). */
  private val NbBuckets = 4096

  /** Hashed trigram-bucket counts `(keys..., b, k)` of `docs`, a frame
    * in the NB shape (`doc_id`, `__text`, `__label`, `__tr`: the train
    * split flag) — the ONE feature extraction of every NB model and
    * scorer; `keys` picks the granularity. Per doc (`doc_id` among the
    * keys) is what scoring needs; without it the aggregate is bounded,
    * <= 2 x |C| x `NbBuckets` rows for (`__label`, `__tr`) no matter the
    * corpus size — a per-doc granularity where only the model and drift
    * mass are needed is docs x buckets rows, a non-plan at 100 TB
    * (measured 2.5x slower than the bounded form).
    */
  private def nbBucketCounts(docs: DataFrame, keys: String*): DataFrame =
    charTrigrams(docs, "__text", "doc_id", carryCols = Seq("__label", "__tr"))
      .withColumn("b", pmod(portableHash48(col("t")), lit(NbBuckets)))
      .groupBy((keys :+ "b").map(col): _*)
      .agg(count(lit(1)).as("k"))

  /** NB counts are an ADDITIVE MONOID: the model a retrain over
    * `frozen-slice ∪ appended-slice` would produce is exactly
    * merge(frozen counts, appended counts) — per-(class, bucket) trigram
    * counts sum, per-class train-doc priors sum, and the classes table
    * re-derives from the sums with an inner join
    * (a class enters scoring iff it has >= 1 train trigram anywhere,
    * with its prior counting ALL its train docs). Bit-equality to the
    * retrained model is spec-pinned (NbDsirSpec). Inputs/outputs are the
    * bounded model shapes; the merge never touches a corpus.
    */
  def nbMergeModels(
      frozenModel: DataFrame,
      frozenPriors: DataFrame,
      appendedModel: DataFrame,
      appendedPriors: DataFrame): (DataFrame, DataFrame) = {
    val m = frozenModel.unionByName(appendedModel)
      .groupBy(col("c"), col("b")).agg(sum(col("n_cb")).as("n_cb"))
    val classes = m.groupBy(col("c")).agg(sum(col("n_cb")).as("n_c"))
      .join(frozenPriors.unionByName(appendedPriors)
        .groupBy(col("c")).agg(sum(col("d_c")).as("d_c")), "c")
    (m, classes)
  }

  /** Frozen-NB-model staleness monitor — the TEXT-tier twin of
    * [[graft.functions.Similarity.indexStalenessReport]]: an NB model
    * trained on the `isFrozen` slice, and WHEN corpus drift has eroded
    * it. One integer-exact row composes:
    *
    *  - distribution drift: per-bucket trigram-MASS share (per-mille^2,
    *    q6) of the appended slice vs the frozen slice, summarized to
    *    max/mean absolute share delta over the `NbBuckets` hash buckets —
    *    the text analog of the embedding per-dim mean shift;
    *  - model erosion: every appended doc classified by the FROZEN
    *    model and by the model a fresh retrain would produce (derived by
    *    [[nbMergeModels]] — never by retraining); the report carries the
    *    frozen-vs-fresh disagreement rate and, since the corpus carries
    *    labels, both accuracies — the accuracy GAP is the actionable
    *    retrain trigger (drift alone can be benign; trigram-less
    *    appended docs are unscorable by construction and excluded by
    *    both engines identically).
    *
    * Cost: ONE trigram extraction per slice (model counts, drift mass,
    * and both scoring arms' input derive from it — the r15 form
    * re-trained BOTH models from separate corpus scans). Gate-faced as
    * `nb_model_staleness` with the DuckDB oracle replaying both model
    * builds, both argmax classifications, and the share-drift
    * aggregate. Fails loudly when the appended slice has no scorable
    * (>= 1 trigram) doc — the oracle would divide by zero where a lazy
    * frame would silently null.
    */
  def nbModelStalenessReport(
      df: DataFrame,
      textCol: String,
      idCol: String,
      labelCol: String,
      isFrozen: Column): DataFrame = {
    val spark = df.sparkSession
    val flagged = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      col(labelCol).as("__label"), isFrozen.as("__fr"),
      (pmod(Curation.hash48(col(textCol)), lit(1000)) < 800).as("__tr"))
    // flagged is re-derived per consumer on purpose: its extra consumers
    // are narrow doc-level aggregates over the source scan — pinning the
    // corpus TEXT to save those would trade cheap scans for a
    // corpus-sized checkpoint, a non-plan at 100 TB
    Checkpoints.scoped {
      // one extraction per slice (each doc extracted exactly ONCE; the
      // r15 form paid four): frozen collapses straight to the bounded
      // (label, split, bucket) cube; appended keeps per-doc rows because
      // scoring needs them — and its model/mass aggregates derive from
      // those for free
      val ccF = nbBucketCounts(flagged.filter(col("__fr")), "__label", "__tr")
      val triA = nbBucketCounts(flagged.filter(!col("__fr")), "doc_id", "__label", "__tr")
        .checkpointed()
      // ONE (fr, tr, label)-cube scan (r18, guide §1.2) replaces three
      // separate doc-level scans of the source (the slice-count agg +
      // both priors) — each re-read the corpus text and re-hashed it
      // for the train split; the cube is <= 4 x |labels| rows and every
      // former aggregate is an exact partial re-sum of it (counts
      // partitioned then summed — bit-identical).
      val cube = flagged
        .groupBy(col("__fr"), col("__tr"), col("__label"))
        .agg(count(lit(1)).as("n")).checkpointed()
      val cnt = cube.agg(
          sum(when(col("__fr"), col("n")).otherwise(lit(0L))).as("n_frozen"),
          sum(when(!col("__fr"), col("n")).otherwise(lit(0L))).as("n_appended"))
        .head()
      val priorsF = cube.filter(col("__fr") && col("__tr"))
        .groupBy(col("__label").as("c")).agg(sum(col("n")).as("d_c"))
      val priorsA = cube.filter(!col("__fr") && col("__tr"))
        .groupBy(col("__label").as("c")).agg(sum(col("n")).as("d_c"))
      // ccF feeds the frozen model AND the frozen mass: pin the bounded
      // cube so the extraction is not replayed per consumer
      val ccFp = ccF.checkpointed()
      // the report's tail: score the appended docs with the frozen model
      // and with the MERGED (= retrained, bit-equal) fresh model, fold
      // the erosion and drift aggregates EAGERLY (their inputs are
      // checkpoints this scope releases on return; the returned frame is
      // literals only), and emit the one report row
      val frozenModel = ccFp.filter(col("__tr"))
        .select(col("__label").as("c"), col("b"), col("k").as("n_cb"))
      val appendedTri = triA.select(col("doc_id"), col("b"), col("k"))
      val clsF = frozenModel.groupBy(col("c")).agg(sum(col("n_cb")).as("n_c"))
        .join(priorsF, "c")
      val (mR, clsR) = nbMergeModels(frozenModel, priorsF,
        triA.filter(col("__tr")).groupBy(col("__label").as("c"), col("b"))
          .agg(sum(col("k")).as("n_cb")),
        priorsA)
      val sF = nbScoreCore(appendedTri, frozenModel, clsF)
      val sR = nbScoreCore(appendedTri, mR, clsR)
      // the erosion row is forced eagerly: n_scored = 0 must fail loudly
      // here (the repo's fail-loud convention; the oracle's floor division
      // would error while a lazy frame would silently null the rates)
      val ero = sF.select(col("doc_id"), col("pred_label").as("pf"))
        .join(sR.select(col("doc_id"), col("pred_label").as("pr")), "doc_id")
        .join(flagged.filter(!col("__fr")).select(col("doc_id"), col("__label")),
          "doc_id")
        .agg(count(lit(1)).as("n_scored"),
          sum(when(col("pf") =!= col("pr"), lit(1L)).otherwise(lit(0L)))
            .as("disagree"),
          sum(when(col("pf") === col("__label"), lit(1L)).otherwise(lit(0L)))
            .as("frozen_hits"),
          sum(when(col("pr") === col("__label"), lit(1L)).otherwise(lit(0L)))
            .as("fresh_hits"))
        .head()
      require(ero.getAs[Long]("n_scored") > 0L,
        "nbModelStalenessReport: the appended slice has no scorable docs " +
          "(no >= 3-char texts, or isFrozen matched every doc)")
      // per-bucket trigram-mass share per slice (ALL docs of each slice —
      // distribution monitoring, not the train split). k * 10^6 stays far
      // below int64 for any per-bucket trigram mass a shard can hold.
      val share = ccFp.groupBy(col("b")).agg(sum(col("k")).as("k"))
        .withColumn("__fr", lit(true))
        .unionByName(triA.groupBy(col("b")).agg(sum(col("k")).as("k"))
          .withColumn("__fr", lit(false)))
      val drift = share
        .join(share.groupBy(col("__fr")).agg(sum(col("k")).as("tk")), "__fr")
        .select(col("__fr"), col("b"), expr("k * 1000000 div tk").as("s_q6"))
        .groupBy(col("b"))
        .agg(sum(when(col("__fr"), col("s_q6"))).as("sf"),
          sum(when(!col("__fr"), col("s_q6"))).as("sa"))
        .select(abs(coalesce(col("sa"), lit(0L)) -
          coalesce(col("sf"), lit(0L))).as("ad"))
        .agg(max(col("ad")).as("max_share_delta_q6"),
          expr("sum(ad) div count(1)").as("mean_share_delta_q6"))
        .head()
      spark.range(1).select(
        lit(cnt.getAs[Long]("n_frozen")).as("n_frozen"),
        lit(cnt.getAs[Long]("n_appended")).as("n_appended"),
        lit(drift.getAs[Long]("max_share_delta_q6")).as("max_share_delta_q6"),
        lit(drift.getAs[Long]("mean_share_delta_q6")).as("mean_share_delta_q6"),
        lit(ero.getAs[Long]("n_scored")).as("n_scored"),
        lit(ero.getAs[Long]("disagree")).as("disagree"),
        lit(ero.getAs[Long]("frozen_hits")).as("frozen_hits"),
        lit(ero.getAs[Long]("fresh_hits")).as("fresh_hits"))
        .select(col("n_frozen"), col("n_appended"),
          col("max_share_delta_q6"), col("mean_share_delta_q6"),
          col("n_scored"), col("disagree"),
          expr("disagree * 1000 div n_scored").as("disagree_q3"),
          col("frozen_hits"), col("fresh_hits"),
          expr("frozen_hits * 1000 div n_scored").as("acc_frozen_q3"),
          expr("fresh_hits * 1000 div n_scored").as("acc_fresh_q3"),
          (expr("fresh_hits * 1000 div n_scored") -
            expr("frozen_hits * 1000 div n_scored")).as("acc_gap_q3"))
    }
  }

  /** Class scores WITHOUT the per-class row fan-out: the model pivots to
    * ONE class-indexed weight array per bucket (`mvec`, <= `NbBuckets`
    * broadcast rows), each (doc, bucket) row multiply-adds its whole
    * weight column into a fixed-width accumulator
    * ([[graft.expressions.SumScaledLongArrays]]), and only the final
    * per-doc score array explodes back to |classes| rows for the argmax.
    * The row form (`crossJoin(classes)` + `groupBy(doc, class)`) put
    * docs x buckets x |classes| rows through the join — 3 BILLION at the
    * 50x smoke with 20 classes, linear in |classes|; here the aggregated
    * volume is docs x buckets regardless of class count. Scores are the
    * same integers term-for-term (an unseen (class, bucket) weighs
    * `log2Q10(0 + 1) = 0` — exactly the pivot's fill value).
    *
    * The two `collect()`s are bounded BY CONSTRUCTION: `classes` is one
    * row per class label (|C| rows — the broadcastable class table).
    */
  private def nbScoreCore(
      td: DataFrame,
      model: DataFrame,
      classes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = td.sparkSession
    import spark.implicits._
    // class labels must be STRINGS (every oracle query and serving spec
    // uses string labels); fail at analysis instead of a
    // ClassCastException deep in the pivot build
    require(
      classes.schema("c").dataType == org.apache.spark.sql.types.StringType,
      s"nb class labels must be strings, got ${classes.schema("c").dataType.sql}")
    val cls = classes.select(col("c"), col("n_c"), col("d_c"))
      .orderBy("c").collect()
    if (cls.isEmpty)
      return td.select(col("doc_id"), lit("").as("pred_label"),
        lit(0L).as("score_q10")).limit(0)
    val numC = cls.length
    val clsIdx = cls.map(_.getString(0)).zipWithIndex.toSeq.toDF("c", "ci")
    val clsMeta = cls.zipWithIndex.map { case (r, i) =>
      (i, r.getString(0), r.getLong(1), r.getLong(2))
    }.toSeq.toDF("ci", "c", "n_c", "d_c")
    // pivot: per-bucket weight array, class-indexed; absent (c, b) pairs
    // fill 0 = log2Q10(0 + 1). 4096-ish rows, interpreted HOF is fine.
    val mvec = model.join(broadcast(clsIdx), "c")
      .withColumn("w", expr(log2Q10Sql("(n_cb + 1)")))
      .groupBy(col("b"))
      .agg(map_from_entries(collect_list(struct(col("ci"), col("w")))).as("m"))
      .select(col("b"), transform(sequence(lit(0), lit(numC - 1)),
        i => coalesce(element_at(col("m"), i), lit(0L))).as("warr"))
    // buckets NO training doc hit have no mvec row: left join + null-skip
    // in the aggregate = the zero contribution the row form computed
    val scored = td.join(broadcast(mvec), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(
        graft.expressions.TopKExpressions
          .sumScaledLongArrays(col("k"), col("warr"), numC).as("s1arr"),
        sum(col("k")).as("n_occ"))
      .select(col("doc_id"), col("n_occ"),
        posexplode(col("s1arr")).as(Seq("ci", "s1")))
      .join(broadcast(clsMeta), "ci")
      .withColumn("score_q10",
        expr(s"cast(${log2Q10Sql("d_c")} + s1 - n_occ * ${log2Q10Sql(s"(n_c + $NbBuckets)")} as bigint)"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q10").desc, col("c"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("c").as("pred_label"), col("score_q10"))
  }
}
