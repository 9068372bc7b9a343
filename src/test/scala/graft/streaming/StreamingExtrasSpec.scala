package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** The index and maintained-state stream wrappers: each streamed run
  * converges to its batch answer.
  */
class StreamingExtrasSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("maintainTriangleCountsStream: micro-batched edge ingest maintains " +
      "per-node triangle counts equal to the full recompute; a DELETE " +
      "batch (sign = -1) through the same stream lands on the cold " +
      "recompute over the surviving log; a mixed-sign batch fails loudly") {
    import graft.functions.Graph
    val stateDir = tempDir("graft-tri-s").toString
    val ckpt = tempDir("graft-tri-c").toString
    val input = MemoryStream[(Long, Long, Long)]
    val q = Graph.maintainTriangleCountsStream(
      input.toDF().toDF("src", "dst", "sign"), stateDir, ckpt).start()
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    try {
      // the planted triangle {7,8,9} arrives one edge per micro-batch
      input.addData((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L), (7L, 8L, 1L))
      q.processAllAvailable()
      input.addData((2L, 4L, 1L), (3L, 4L, 1L), (7L, 9L, 1L))
      q.processAllAvailable()
      input.addData((8L, 9L, 1L), (1L, 4L, 1L))
      q.processAllAvailable()
      val all = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L), (2L, 4L), (3L, 4L),
        (7L, 9L), (8L, 9L), (1L, 4L))
      assert(same(Graph.readTriangleCounts(spark, stateDir).get,
        Graph.triangleCountsAdj(all.toDF("src", "dst"))),
        "stream-maintained triangle counts diverge from the recompute")
      // delete batch through the SAME stream: breaks triangle {1,2,3}
      // and the planted {7,8,9} (reversed row — canonicalization)
      input.addData((2L, 3L, -1L), (9L, 7L, -1L))
      q.processAllAvailable()
      val surviving = all.filterNot(e => e == (2L, 3L) || e == (7L, 9L))
      assert(same(Graph.readTriangleCounts(spark, stateDir).get,
        Graph.triangleCountsAdj(surviving.toDF("src", "dst"))),
        "stream delete batch diverges from the cold recompute over the " +
          "surviving log")
      assert(same(
        spark.read.parquet(s"$stateDir/edges").select($"src", $"dst"),
        surviving.toDF("src", "dst")),
        "edge log diverges from the surviving edge set after the stream delete")
    } finally q.stop()
    // a mixed-sign micro-batch must fail loudly (the commit marker
    // cannot represent a half-applied batch)
    val q2 = Graph.maintainTriangleCountsStream(
      input.toDF().toDF("src", "dst", "sign"), stateDir, ckpt).start()
    try {
      input.addData((10L, 11L, 1L), (1L, 2L, -1L))
      val ex = intercept[Throwable] { q2.processAllAvailable() }
      val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains("mixed-sign")),
        s"expected the mixed-sign guard, got: ${msgs.mkString(" | ")}")
    } finally q2.stop()
    Seq(stateDir, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("streaming token-window chunking equals the batch answer") {
    // chunkTokenWindows is a stateless narrow transform, so it runs on a
    // stream unchanged — prove streaming output == batch output.
    val rows = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "a b c"),
      (3L, ""))
    val input = MemoryStream[(Long, String)]
    val chunked = graft.functions.Curation.chunkTokenWindows(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", window = 4, stride = 3)
    val q = chunked.writeStream.format("memory").queryName("chunk_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("chunk_out")
        .select("doc_id", "chunk_idx", "chunk_start", "chunk_tokens", "chunk_fp48")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val batch = graft.functions.Curation.chunkTokenWindows(
        rows.toDF("doc_id", "text"), "text", "doc_id", window = 4, stride = 3)
        .select("doc_id", "chunk_idx", "chunk_start", "chunk_tokens", "chunk_fp48")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming ANN serving: streamed queries match the batch int8 search") {
    val vecs = (0L until 60L).map { id =>
      (id, Array.tabulate(8)(i => (((id * 13 + i * 5) % 17) / 4.0f) - 2.0f))
    }
    val corpus = vecs.toDF("vec_id", "vec")
    // serving reads the MATERIALIZED codes, never the float corpus
    val idx = tempDir("graft-int8-idx").toString
    graft.functions.Similarity.writeInt8Index(corpus, idx)
    val input = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = StreamOps.int8SearchStream(
      input.toDF().toDF("qid", "qvec"), idx, k = 3) { res =>
        got ++= res.select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect()
      }.start()
    try {
      input.addData(vecs.take(2).map { case (id, v) => (id, v) }: _*)
      q.processAllAvailable()
      input.addData((vecs(2)._1, vecs(2)._2))
      q.processAllAvailable()
      val batch = graft.functions.Similarity.int8TopK(
        vecs.take(3).toDF("qid", "qvec"), corpus, k = 3)
        .select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
      assert(got.toSet === batch && batch.size === 9)
    } finally q.stop()
  }

  test("maintainCommunityLabelsStream: micro-batched label maintenance " +
      "equals the cold fixed-round recompute over the whole log; a " +
      "replayed batch is a no-op on state bytes") {
    import graft.functions.Graph
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // two 10-cliques + a later bridge, delivered across three
    // micro-batches (clique A, clique B, bridge + clique-A reinforcement)
    val cliqueA = for (i <- 0L until 10L; j <- (i + 1) until 10L) yield (i, j)
    val cliqueB = for (i <- 20L until 30L; j <- (i + 1) until 30L) yield (i, j)
    val b3 = Seq((9L, 20L), (0L, 5L)) // bridge + an already-logged edge (dedup)
    val rounds = 3
    val stateDir = tempDir("graft-lpam").toString
    val ckpt = tempDir("graft-lpam-ck").toString
    val input = MemoryStream[(Long, Long)]
    val q = Graph.maintainCommunityLabelsStream(
      input.toDF().toDF("src", "dst"), stateDir, ckpt, rounds,
      partitions = 8).start()
    try {
      input.addData(cliqueA: _*); q.processAllAvailable()
      input.addData(cliqueB: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val all = (cliqueA ++ cliqueB ++ b3).distinct
    assert(same(Graph.readCommunityLabels(spark, stateDir).get,
      Graph.communityLabels(all.toDF("src", "dst"), "src", "dst", rounds)),
      "maintained labels diverge from the cold fixed-round recompute")
    // replay the last micro-batch id directly: marker-detected no-op,
    // every state file byte-identical
    def crcs(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(stateDir)
      val it = java.nio.file.Files.walk(root).iterator()
      val out = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet")) {
          val c = new java.util.zip.CRC32()
          c.update(java.nio.file.Files.readAllBytes(p))
          out(root.relativize(p).toString) = c.getValue
        }
      }
      out.toMap
    }
    val before = crcs()
    assert(!Graph.maintainCommunityLabels(spark, stateDir,
      b3.toDF("src", "dst"), batchId = 2L, rounds = rounds, partitions = 8),
      "replayed batch re-applied")
    assert(crcs() === before, "replay touched state files")
    // a mismatched partition modulus fails fast (the pinned-P contract)
    intercept[IllegalArgumentException] {
      Graph.maintainCommunityLabels(spark, stateDir,
        Seq((1L, 2L)).toDF("src", "dst"), batchId = 9L, rounds = rounds,
        partitions = 16)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  test("maintainCommunityLabelsStream: a DELETE batch (sign = -1) lands " +
      "on the cold recompute over the surviving log; a node that lost " +
      "its last edge leaves the table; replay is a no-op on state bytes; " +
      "a mixed-sign batch fails loudly") {
    import graft.functions.Graph
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // two 10-cliques joined by a bridge, plus a pendant node 50 whose
    // ONLY edge dies with the delete batch — the vanished-key case
    val cliqueA = for (i <- 0L until 10L; j <- (i + 1) until 10L) yield (i, j)
    val cliqueB = for (i <- 20L until 30L; j <- (i + 1) until 30L) yield (i, j)
    val extras = Seq((9L, 20L), (0L, 50L))
    val rounds = 3
    val stateDir = tempDir("graft-lpam-del").toString
    val ckpt = tempDir("graft-lpam-del-ck").toString
    val input = MemoryStream[(Long, Long, Long)]
    val q = Graph.maintainCommunityLabelsStream(
      input.toDF().toDF("src", "dst", "sign"), stateDir, ckpt, rounds,
      partitions = 8).start()
    try {
      input.addData((cliqueA ++ cliqueB).map(e => (e._1, e._2, 1L)): _*)
      q.processAllAvailable()
      input.addData(extras.map(e => (e._1, e._2, 1L)): _*)
      q.processAllAvailable()
      val all = (cliqueA ++ cliqueB ++ extras).distinct
      assert(same(Graph.readCommunityLabels(spark, stateDir).get,
        Graph.communityLabels(all.toDF("src", "dst"), "src", "dst", rounds)))
      // the DELETE batch through the SAME stream: the bridge (reversed
      // row — canonicalization) and the pendant's only edge
      input.addData((20L, 9L, -1L), (50L, 0L, -1L))
      q.processAllAvailable()
      val surviving = cliqueA ++ cliqueB
      assert(same(Graph.readCommunityLabels(spark, stateDir).get,
        Graph.communityLabels(surviving.toDF("src", "dst"), "src", "dst", rounds)),
        "stream delete batch diverges from the cold recompute over the " +
          "surviving log")
      assert(Graph.readCommunityLabels(spark, stateDir).get
        .filter($"node" === 50L).isEmpty,
        "a node that lost its last edge kept a stale label row")
      assert(same(
        spark.read.parquet(s"$stateDir/edges").select($"src", $"dst"),
        surviving.toDF("src", "dst")),
        "edge log diverges from the surviving edge set after the delete")
    } finally q.stop()
    // replay the delete batch id directly: marker-detected no-op,
    // every state file byte-identical
    def crcs(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(stateDir)
      val it = java.nio.file.Files.walk(root).iterator()
      val out = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet")) {
          val c = new java.util.zip.CRC32()
          c.update(java.nio.file.Files.readAllBytes(p))
          out(root.relativize(p).toString) = c.getValue
        }
      }
      out.toMap
    }
    val before = crcs()
    assert(!Graph.maintainCommunityLabels(spark, stateDir,
      Seq((20L, 9L), (50L, 0L)).toDF("src", "dst"), batchId = 2L,
      rounds = rounds, partitions = 8, sign = -1L),
      "replayed delete batch re-applied")
    assert(crcs() === before, "replayed delete touched state files")
    // a matched-nothing delete batch (re-issued GDPR ids) commits its
    // markers WITHOUT a whole-graph recompute and leaves data bytes
    // untouched; its own replay then no-ops
    assert(Graph.maintainCommunityLabels(spark, stateDir,
      Seq((20L, 9L)).toDF("src", "dst"), batchId = 5L,
      rounds = rounds, partitions = 8, sign = -1L))
    assert(crcs() === before, "matched-nothing delete touched data files")
    assert(!Graph.maintainCommunityLabels(spark, stateDir,
      Seq((20L, 9L)).toDF("src", "dst"), batchId = 5L,
      rounds = rounds, partitions = 8, sign = -1L),
      "replayed matched-nothing delete re-applied")
    // a mixed-sign micro-batch must fail loudly
    val q2 = Graph.maintainCommunityLabelsStream(
      input.toDF().toDF("src", "dst", "sign"), stateDir, ckpt, rounds,
      partitions = 8).start()
    try {
      input.addData((30L, 31L, 1L), (0L, 1L, -1L))
      val ex = intercept[Throwable] { q2.processAllAvailable() }
      val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains("mixed-sign")),
        s"expected the mixed-sign guard, got: ${msgs.mkString(" | ")}")
    } finally q2.stop()
    Seq(stateDir, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("annDeleteStream: streamed vec_id deletes leave the int8 index " +
      "ranking identical to a survivors-only rebuild") {
    import graft.functions.Similarity
    val dim = 16
    val vecs = (0L until 90L).map { i =>
      (i, Array.tabulate(dim)(j => (((i * 31 + j * 17) % 23).toFloat - 11f) / 7f))
    }
    val dead = Seq(13L, 57L)
    val idx = tempDir("graft-i8-dstr").toString
    Similarity.writeInt8Index(vecs.toDF("vec_id", "vec"), idx)
    val input = MemoryStream[Long]
    val q = StreamOps.annDeleteStream(input.toDF().toDF("vec_id"), "vec_id",
      idx, cellPartitioned = false).start()
    try {
      input.addData(13L); q.processAllAvailable()
      input.addData(57L); q.processAllAvailable()
    } finally q.stop()
    val rebuilt = tempDir("graft-i8-dstr-rb").toString
    Similarity.writeInt8Index(
      vecs.filterNot(v => dead.contains(v._1)).toDF("vec_id", "vec"), rebuilt)
    val queries = vecs.take(4).toDF("qid", "qvec")
    def r8(p: String) = Similarity.int8TopKFromIndex(spark, queries, p, k = 5)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(r8(idx) === r8(rebuilt),
      "streamed-delete index diverges from the survivors rebuild")
  }

  test("int8AppendStream converges to the one-shot batch index") {
    import graft.functions.Similarity
    val vecs = (0L until 80L).map { id =>
      (id, Array.tabulate(16)(i =>
        (((id * 2654435761L + i * 40503L) % 1009L) / 500.0f) - 1.0f))
    }
    val base = vecs.filter(_._1 < 50).toDF("vec_id", "vec")
    val later = vecs.filter(_._1 >= 50)
    val streamedIdx = tempDir("graft-i8-s").toString
    val oneshotIdx = tempDir("graft-i8-b").toString
    Similarity.writeInt8Index(base, streamedIdx)
    Similarity.writeInt8Index(vecs.toDF("vec_id", "vec"), oneshotIdx)

    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.int8AppendStream(
      input.toDF().toDF("vec_id", "vec"), streamedIdx).start()
    try {
      input.addData(later.take(15): _*)
      q.processAllAvailable()
      input.addData(later.drop(15): _*)
      q.processAllAvailable()
    } finally q.stop()

    def contents(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("scale"), col("code"))
      .as[(Long, Double, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(contents(streamedIdx) === contents(oneshotIdx))
    assert(contents(streamedIdx).length === 80)
    // appended vectors are immediately searchable
    val got = Similarity.int8TopKFromIndex(spark,
      vecs.take(1).toDF("qid", "qvec"), streamedIdx, k = 79)
      .select("vec_id").as[Long].collect()
    assert(got.exists(_ >= 50L))
  }

  test("bm25SearchStream serves batch-identical rankings from the index") {
    import graft.functions.TextAnalysis
    val dd = (0L until 100L).map { i =>
      val rare = if (i % 25 == 0) " zeta" else ""
      (i, s"alpha filler words w${i % 7} here$rare")
    }.toDF("doc_id", "text")
    val idx = tempDir("graft-inv-s").toString
    TextAnalysis.writeInvertedIndex(dd, "text", "doc_id", idx, buckets = 8)
    val expect = TextAnalysis.bm25SearchFromIndex(spark, idx, Seq("zeta", "alpha"),
      topK = 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = StreamOps.bm25SearchStream(
      input.toDF().toDF("qid", "terms"), idx, topK = 10) { ranked =>
      // (qid, doc_id, score_q10), ordered (qid, score desc, doc_id)
      got ++= ranked.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }.start()
    try {
      // two queries in ONE batch: the single postings read must still
      // produce per-query rankings identical to the one-query path
      input.addData((1L, "zeta alpha"), (3L, "zeta"))
      q.processAllAvailable()
      input.addData((2L, "zeta alpha"))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.filter(_._1 == 1L).map(t => (t._2, t._3)).toSeq === expect)
    assert(got.filter(_._1 == 2L).map(t => (t._2, t._3)).toSeq === expect)
    val expectZeta = TextAnalysis.bm25SearchFromIndex(spark, idx, Seq("zeta"),
      topK = 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.filter(_._1 == 3L).map(t => (t._2, t._3)).toSeq === expectZeta)
  }

  test("bm25IngestStream: streamed appends make docs searchable with " +
      "rankings identical to the one-shot rebuild") {
    import graft.functions.TextAnalysis
    val all = (0L until 150L).map { i =>
      val rare = if (i % 25 == 0) " zeta" else ""
      (i, s"alpha filler words w${i % 7} here$rare")
    }
    val idx = tempDir("graft-inv-ing").toString
    // seed with the first 50 docs, stream the rest in two micro-batches
    TextAnalysis.writeInvertedIndex(all.take(50).toDF("doc_id", "text"),
      "text", "doc_id", idx, buckets = 8)
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.bm25IngestStream(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", idx, buckets = 8)
      .start()
    try {
      input.addData(all.slice(50, 100): _*); q.processAllAvailable()
      input.addData(all.slice(100, 150): _*); q.processAllAvailable()
    } finally q.stop()
    val full = tempDir("graft-inv-ing-f").toString
    TextAnalysis.writeInvertedIndex(all.toDF("doc_id", "text"),
      "text", "doc_id", full, buckets = 8)
    def rank(p: String) = TextAnalysis.bm25SearchFromIndex(spark, p,
      Seq("zeta", "alpha"), topK = 20).as[(Long, Long)].collect().toSeq
    assert(TextAnalysis.readIndexStats(spark, idx) ===
      TextAnalysis.readIndexStats(spark, full))
    assert(rank(idx) === rank(full),
      "streamed-ingest index ranking diverges from the one-shot rebuild")
  }

  test("bm25DeleteStream: streamed deletes leave the index ranking " +
      "identical to a rebuild over the surviving docs") {
    import graft.functions.TextAnalysis
    val all = (0L until 150L).map { i =>
      val rare = if (i % 25 == 0) " zeta" else ""
      (i, s"alpha filler words w${i % 7} here$rare")
    }
    val idx = tempDir("graft-inv-dstr").toString
    TextAnalysis.writeInvertedIndex(all.toDF("doc_id", "text"),
      "text", "doc_id", idx, buckets = 8)
    // two delete micro-batches: each folds a negated stats row under its
    // micro-batch id's delete-namespace slot and COW-rewrites postings
    val dead = Seq(25L, 50L, 101L)
    val input = MemoryStream[Long]
    val q = StreamOps.bm25DeleteStream(
      input.toDF().toDF("doc_id"), "doc_id", idx).start()
    try {
      input.addData(25L, 50L); q.processAllAvailable()
      input.addData(101L); q.processAllAvailable()
    } finally q.stop()
    val rebuilt = tempDir("graft-inv-dstr-f").toString
    TextAnalysis.writeInvertedIndex(
      all.filterNot(d => dead.contains(d._1)).toDF("doc_id", "text"),
      "text", "doc_id", rebuilt, buckets = 8)
    def rank(p: String) = TextAnalysis.bm25SearchFromIndex(spark, p,
      Seq("zeta", "alpha"), topK = 20).as[(Long, Long)].collect().toSeq
    assert(TextAnalysis.readIndexStats(spark, idx) ===
      TextAnalysis.readIndexStats(spark, rebuilt))
    assert(rank(idx) === rank(rebuilt),
      "streamed-delete index ranking diverges from the survivors rebuild")
    assert(TextAnalysis.pendingDeletes(spark, idx).isEmpty)
  }

  test("dedupIngestStream catches dups against rows the stream itself wrote") {
    import graft.functions.Dedup
    val tpl = "the quick brown fox jumps over the lazy dog again and again today"
    val idx = tempDir("graft-ingest").toString
    Dedup.writeLshIndex(
      Seq((1L, "seed corpus document about entirely unrelated matters and topics"))
        .toDF("doc_id", "text"),
      "text", "doc_id", idx, n = 3, bands = 4, rowsPerBand = 4, buckets = 16)

    val input = MemoryStream[(Long, String)]
    val dups = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = StreamOps.dedupIngestStream(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500, buckets = 16) { d =>
      dups ++= d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }.start()
    try {
      input.addData((10L, tpl)) // clean vs seed -> appended
      q.processAllAvailable()
      assert(dups.isEmpty, s"first batch must be clean, got $dups")
      // near-dup of doc 10 — which is in the index ONLY via the stream's
      // own append — plus a genuinely fresh doc
      input.addData(
        (20L, tpl.replace("today", "tonight")),
        (21L, "wholly new content sharing nothing with anything indexed before"))
      q.processAllAvailable()
    } finally q.stop()

    assert(dups.map(t => (t._1, t._2)).toSeq === Seq((20L, 10L)),
      s"stream-written index rows must catch the later near-dup: $dups")
    assert(dups.head._3 >= 700L)
    // held-out dup never entered the index; clean docs did
    val indexed = spark.read.parquet(s"$idx/shingles")
      .select("doc").as[Long].collect().toSet
    assert(indexed === Set(1L, 10L, 21L))
  }

  test("indexAppendStream converges to the one-shot batch index") {
    import graft.functions.Similarity
    // clustered fixture shared with the PQ batch spec: 4 clusters, 16 dims
    val vecs = (0L until 100L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(16) { i =>
        val base = if (i / 4 == c) 5.0f else 0.1f
        base + ((id * 37 + i * 13) % 29) / 40.0f
      }
      (id, v)
    }
    val base = vecs.filter(_._1 < 60).toDF("vec_id", "vec")
    val later = vecs.filter(_._1 >= 60)
    val streamedIdx = tempDir("graft-idx-s").toString
    val oneshotIdx = tempDir("graft-idx-b").toString

    Similarity.writeIvfPqIndex(base, streamedIdx, centroidEvery = 10, m = 4, dim = 16)
    Similarity.writeIvfPqIndex(base, oneshotIdx, centroidEvery = 10, m = 4, dim = 16)
    Similarity.appendToIvfPqIndex(base, later.toDF("vec_id", "vec"), oneshotIdx,
      centroidEvery = 10, m = 4, dim = 16)

    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.indexAppendStream(input.toDF().toDF("vec_id", "vec"), base,
      streamedIdx, centroidEvery = 10, m = 4, dim = 16).start()
    try {
      input.addData(later.take(20): _*)
      q.processAllAvailable()
      input.addData(later.drop(20): _*)
      q.processAllAvailable()
    } finally q.stop()

    def contents(p: String) = spark.read.parquet(p)
      .select(col("cell"), col("vec_id"), col("j"), col("code"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(contents(streamedIdx) === contents(oneshotIdx))
    assert(contents(streamedIdx).map(_._2).distinct.length === 100)

    // a search against the streamed index reaches the appended vectors:
    // query 97's cluster-mates with ids >= 60 only exist via the append
    val queries = vecs.filter(_._1 == 97L).toDF("qid", "qvec")
    val got = Similarity.ivfPqTopKFromIndex(spark, queries, base, streamedIdx,
      k = 5, centroidEvery = 10, nprobe = 10, m = 4, dim = 16)
      .select("vec_id").as[Long].collect()
    assert(got.exists(_ >= 60L), s"appended vectors must be searchable, got ${got.toSeq}")
  }

}
