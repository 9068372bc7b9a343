package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.model.AuditTrail
import graft.sinks.Sinks
import graft.functions.Checkpoints.Owned

final case class DocEv(ts: Timestamp, fp: String, payload: String)

/** Streaming dedup, single-pass fanout sink, and the Spark 4
  * transformWithState ST1 variant.
  */
class StreamingExtrasSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def t(sec: Long) = new Timestamp(sec * 1000)

  test("diversityAssignStream: frozen-cut verdicts equal the batch " +
      "sampler on the frozen corpus, streamed == batch scorer") {
    import graft.functions.Similarity
    val vecs = (0L until 100L).map { id =>
      (id, Array.tabulate(16)(i =>
        (((id * 2654435761L + i * 40503L) % 1009L) / 500.0f) - 1.0f))
    }
    val corpus = vecs.toDF("vec_id", "vec")
    val cent = Similarity.kmeansCentroids(corpus, centroidEvery = 20, iters = 1)
    val cuts = Similarity.diversityCuts(corpus, cent, keepPermille = 500)
      .checkpointed()
    // batch fidelity on the frozen corpus: stateless verdicts equal the
    // rank-based keep flags (this corpus has no boundary ties — pinned,
    // so the equality below is total, not vacuously filtered)
    val served = Similarity.diversityAssign(corpus, cent, cuts)
      .select("vec_id", "verdict").as[(Long, String)].collect().toMap
    assert(!served.values.exists(_ == "boundary"),
      "fixture corpus must be boundary-free")
    val batch = Similarity.diversitySample(corpus, cent, keepPermille = 500)
      .select("vec_id", "keep").as[(Long, Long)].collect().toMap
    assert(batch.keySet === served.keySet)
    batch.foreach { case (id, keep) =>
      assert(served(id) === (if (keep == 1L) "keep" else "drop"),
        s"vec $id: batch keep=$keep served=${served(id)}")
    }
    // streamed micro-batches equal the batch scorer row-for-row
    val input = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
    val q = graft.streaming.StreamingCuration.diversityAssignStream(
      input.toDF().toDF("vec_id", "vec"), cent, cuts) { res =>
        got ++= res.as[(Long, Long, Long, String)].collect()
      }.start()
    try {
      input.addData(vecs.take(60): _*)
      q.processAllAvailable()
      input.addData(vecs.drop(60): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchAll = Similarity.diversityAssign(corpus, cent, cuts)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got.toSet === batchAll && got.size === 100)
  }

  test("maintainTriangleCountsStream: micro-batched edge ingest maintains " +
      "per-node triangle counts equal to the full recompute; a DELETE " +
      "batch (sign = -1) through the same stream lands on the cold " +
      "recompute over the surviving log; a mixed-sign batch fails loudly") {
    import graft.functions.Graph
    val stateDir = java.nio.file.Files.createTempDirectory("graft-tri-s").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tri-c").toString
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

  test("streaming dedup drops repeated fingerprints within the watermark") {
    val input = MemoryStream[DocEv]
    val deduped = StreamOps.streamingDedup(input.toDF(), "ts", "10 seconds", "fp")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(DocEv(t(1), "A", "a1"), DocEv(t(2), "A", "a2"), DocEv(t(3), "B", "b1"))
      q.processAllAvailable()
      input.addData(DocEv(t(4), "A", "a3"), DocEv(t(5), "C", "c1"))
      q.processAllAvailable()
      val fps = spark.table("dedup_out").select("fp").as[String].collect().sorted
      assert(fps.toSeq === Seq("A", "B", "C"))
    } finally q.stop()
  }

  test("streaming near-dup pairs: LSH self-join finds planted near-dups in-window") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val far = "completely unrelated text with different words entirely disjoint tokens"
    val input = MemoryStream[(Long, String, Timestamp)]
    val pairs = StreamOps.streamingNearDupPairs(
      input.toDF().toDF("doc_id", "text", "ts"),
      "text", "doc_id", "ts", width = "1 minute", watermark = "10 seconds")
    val q = pairs.writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append).start()
    try {
      // 1 and 2 are near-dups in the same window; 3 is unrelated; 4 is an
      // exact copy of 1 but hours later — outside the window, no pair
      input.addData((1L, near1, t(1)), (2L, near2, t(5)), (3L, far, t(9)))
      q.processAllAvailable()
      input.addData((4L, near1, t(7200)))
      q.processAllAvailable()
      val got = spark.table("neardup_out")
        .select("a", "b", "jaccard_milli").as[(Long, Long, Long)]
        .collect().toSet // multi-band collisions collapse here
      assert(got.map(p => (p._1, p._2)) === Set((1L, 2L)),
        s"expected exactly the planted pair, got $got")
      assert(got.head._3 >= 500L, "planted near-dups must verify above threshold")
    } finally q.stop()
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
    val idx = java.nio.file.Files.createTempDirectory("graft-int8-idx").toString
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
    val stateDir = java.nio.file.Files.createTempDirectory("graft-lpam").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lpam-ck").toString
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
    val stateDir = java.nio.file.Files.createTempDirectory("graft-lpam-del").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lpam-del-ck").toString
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
    val idx = java.nio.file.Files.createTempDirectory("graft-i8-dstr").toString
    Similarity.writeInt8Index(vecs.toDF("vec_id", "vec"), idx)
    val input = MemoryStream[Long]
    val q = StreamOps.annDeleteStream(input.toDF().toDF("vec_id"), "vec_id",
      idx, cellPartitioned = false).start()
    try {
      input.addData(13L); q.processAllAvailable()
      input.addData(57L); q.processAllAvailable()
    } finally q.stop()
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-i8-dstr-rb").toString
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
    val streamedIdx = java.nio.file.Files.createTempDirectory("graft-i8-s").toString
    val oneshotIdx = java.nio.file.Files.createTempDirectory("graft-i8-b").toString
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

  test("fanout sink: one cached batch feeds all branches") {
    val input = MemoryStream[DocEv]
    val seenA = scala.collection.mutable.ArrayBuffer[String]()
    val seenRest = scala.collection.mutable.ArrayBuffer[String]()
    val q = Sinks.fanoutSink(input.toDF(), Seq(
      "a-branch" -> { df =>
        seenA.synchronized {
          seenA ++= df.filter(col("fp") === "A").select("payload").as[String](
            org.apache.spark.sql.Encoders.STRING).collect()
        }
      },
      "rest" -> { df =>
        seenRest.synchronized {
          seenRest ++= df.filter(col("fp") =!= "A").select("payload").as[String](
            org.apache.spark.sql.Encoders.STRING).collect()
        }
      })).start()
    try {
      input.addData(DocEv(t(1), "A", "a1"), DocEv(t(2), "B", "b1"), DocEv(t(3), "A", "a2"))
      q.processAllAvailable()
      assert(seenA.sorted.toSeq === Seq("a1", "a2"))
      assert(seenRest.toSeq === Seq("b1"))
    } finally q.stop()
  }

  test("progress listener captures batch metrics and state rows") {
    val logger = Observability.attach(spark)
    val input = MemoryStream[DocEv]
    val agg = input.toDF().groupBy("fp").count()
    val q = agg.writeStream.format("memory").queryName("obs_out")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(DocEv(t(1), "A", "x"), DocEv(t(2), "B", "y"))
      q.processAllAvailable()
      // listener events are async; wait briefly
      val deadline = System.currentTimeMillis() + 10000
      while (logger.snapshots.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val withRows = logger.snapshots.filter(_.numInputRows > 0)
      assert(withRows.nonEmpty)
      assert(withRows.exists(_.stateRows > 0))
    } finally { q.stop(); Observability.detach(spark, logger) }
  }

  test("lshParams picks sensible band splits for the threshold") {
    import graft.functions.Dedup.lshParams
    assert(lshParams(0.7, 16) === (4, 4))
    val (bLow, rLow) = lshParams(0.2, 16)
    val (bHigh, rHigh) = lshParams(0.9, 16)
    assert(rLow < rHigh, "low thresholds need fewer rows per band")
    assert(bLow > bHigh)
  }

  test("ST1 via transformWithState matches the flatMapGroupsWithState semantics") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[AuditTrail]
      val alerts = StatefulOps.deleteBurstAlertsTws(input.toDS())
      val q = alerts.writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(Seq(
          AuditTrail(0, "Bob", "Customer", "Delete", 1000L, 1, 1),
          AuditTrail(1, "Bob", "Customer", "Query", 1500L, 1, 1)))
        q.processAllAvailable()
        input.addData(Seq(
          AuditTrail(2, "Bob", "Customer", "Delete", 5000L, 1, 1),   // 4 s after -> alert
          AuditTrail(3, "Tom", "Customer", "Delete", 6000L, 1, 1)))  // first for Tom
        q.processAllAvailable()
        val out = spark.table("tws_out").as[StatefulOps.BurstAlert].collect()
        assert(out.toSeq === Seq(StatefulOps.BurstAlert("Bob", 5000L, 4000L)))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("bm25SearchStream serves batch-identical rankings from the index") {
    import graft.functions.TextAnalysis
    val dd = (0L until 100L).map { i =>
      val rare = if (i % 25 == 0) " zeta" else ""
      (i, s"alpha filler words w${i % 7} here$rare")
    }.toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-inv-s").toString
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
    val idx = java.nio.file.Files.createTempDirectory("graft-inv-ing").toString
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
    val full = java.nio.file.Files.createTempDirectory("graft-inv-ing-f").toString
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
    val idx = java.nio.file.Files.createTempDirectory("graft-inv-dstr").toString
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
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-inv-dstr-f").toString
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
    val idx = java.nio.file.Files.createTempDirectory("graft-ingest").toString
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

  test("gopherGateStream flags equal the batch gopherRules row-for-row") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").checkpointed()
    val rows = docs.as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long, Long, Long)]
    val q = StreamingCuration.gopherGateStream(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id") { out =>
      got ++= out.select("doc_id", "n_words", "r_nwords", "r_wordlen",
        "r_alpha", "r_stop", "r_rep", "keep")
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    }.start()
    try {
      rows.grouped(40).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      val batch = graft.functions.Curation.gopherRules(docs, "text", "doc_id")
        .select("doc_id", "n_words", "r_nwords", "r_wordlen",
          "r_alpha", "r_stop", "r_rep", "keep")
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(got.nonEmpty)
      assert(got.sortBy(_._1).toArray === batch)
    } finally q.stop()
  }

  test("ccnetAssignStream buckets equal the batch ccnetBuckets on the frozen corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text").checkpointed()
    // train tier: freeze the trigram LM + the per-source tercile cuts
    val model = graft.functions.TextAnalysis
      .trigramModel(docs, "text", "doc_id").cache()
    val total = model.agg(sum(col("cnt"))).as[Long].head()
    val cuts = graft.functions.Curation
      .ccnetThresholds(docs, "text", "doc_id", "source").checkpointed()
    val rows = docs.select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val base = 1704067200000000L
    val input = MemoryStream[(Long, String, String, Long)]
    val assigned = StreamingCuration.ccnetAssignStream(
      input.toDF().toDF("doc_id", "source", "text", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
      model, total, cuts, "text", "doc_id", "source", "ts",
      horizon = "1 second", windowDur = "1 minute")
    val q = assigned.writeStream.format("memory").queryName("ccnet_assign")
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(40).foreach { b =>
        input.addData(b.map { case (id, src, txt) => (id, src, txt, base + id) }.toSeq)
        q.processAllAvailable()
      }
      // a source the cuts have never seen must surface as "unknown",
      // not silently drop
      input.addData((999999L, "srcX", "document from a brand new source",
        base + 999999L))
      input.addData((-1L, "src0", "flush sentinel document",
        base + 365L * 86400000000L))
      q.processAllAvailable()
      val streamed = spark.table("ccnet_assign")
        .filter(col("doc_id") >= 0 && col("doc_id") < 999999L)
        .select("doc_id", "source", "avg_surprisal_q10", "ppl_bucket")
        .as[(Long, String, Long, String)].collect().sortBy(_._1)
      val unknown = spark.table("ccnet_assign").filter(col("doc_id") === 999999L)
        .select("ppl_bucket").as[String].collect()
      val batch = graft.functions.Curation
        .ccnetBuckets(docs, "text", "doc_id", "source")
        .select("doc_id", "source", "avg_surprisal_q10", "ppl_bucket")
        .as[(Long, String, Long, String)].collect().sortBy(_._1)
      assert(streamed.nonEmpty)
      assert(streamed === batch)
      assert(unknown.toSeq === Seq("unknown"))
    } finally { q.stop(); model.unpersist() }
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
    val streamedIdx = java.nio.file.Files.createTempDirectory("graft-idx-s").toString
    val oneshotIdx = java.nio.file.Files.createTempDirectory("graft-idx-b").toString

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

  test("quantileNormAssignStream equals the batch normalization row-for-row") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "source", "text").checkpointed()
    val (perSrc, inv) = graft.functions.Curation.quantileNormTables(
      docs, "text", "doc_id", "source")
    val frozenSrc = perSrc.checkpointed()
    val frozenInv = inv.checkpointed()
    val rows = docs.as[(Long, String, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String, String)]
    val scored = StreamingCuration.quantileNormAssignStream(
      input.toDF().toDF("doc_id", "source", "text"),
      "text", "doc_id", "source", frozenSrc, frozenInv)
    val q = scored.writeStream.format("memory").queryName("qnorm_stream")
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(70).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("qnorm_stream")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    val batch = graft.functions.Curation.quantileNormalizeQuality(
      docs, "text", "doc_id", "source")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("profileStream equals the exact batch profile (HLL uniq within 5%)") {
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
      .checkpointed()
    val cols = Seq("event_id" -> "long", "user_id" -> "long",
      "event_type" -> "string", "value" -> "double_centi")
    val rows = ev.as[(Long, Long, String, Double, Long)].collect().sortBy(_._1)
    // all rows into ONE 1-minute window keyed off a fixed base instant
    val base = 1704067200000000L
    val input = MemoryStream[(Long, Long, String, Double, Long)]
    val prof = StreamingCuration.profileStream(
      input.toDF().toDF("event_id", "user_id", "event_type", "value", "seq")
        .withColumn("ts", timestamp_micros(lit(base) + col("seq"))).drop("seq"),
      "ts", cols, horizon = "1 second", windowDur = "1 minute")
    val q = prof.writeStream.format("memory").queryName("profile_stream")
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(300).zipWithIndex.foreach { case (b, i) =>
        input.addData(b.map { case (id, u, t, v, _) => (id, u, t, v, id) }.toSeq)
        q.processAllAvailable()
      }
      input.addData((-1L, -1L, "flush", 0.0, 365L * 86400000000L))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("profile_stream")
      .filter(col("column") =!= lit("flush")) // (flush lands in a later window)
      .filter(col("window_start") === timestamp_micros(lit(base)))
      .select("column", "n_rows", "n_nulls", "approx_distinct",
        "min_repr", "max_repr")
      .as[(String, Long, Long, Long, String, String)].collect().sortBy(_._1)
    val batch = graft.functions.Profiling.tableProfile(ev, cols)
      .select("column", "n_rows", "n_nulls", "n_distinct", "min_repr", "max_repr")
      .as[(String, Long, Long, Long, String, String)].collect().sortBy(_._1)
    assert(streamed.map(_._1).toSeq === batch.map(_._1).toSeq)
    streamed.zip(batch).foreach {
      case ((c, nr, nn, uniq, mn, mx), (_, bnr, bnn, bexact, bmn, bmx)) =>
        assert(nr === bnr && nn === bnn && mn === bmn && mx === bmx, c)
        assert(math.abs(uniq - bexact) <= math.max(1L, bexact / 20),
          s"$c approx $uniq vs exact $bexact")
    }
  }

  test("datasheetStream card equals the batch corpus_datasheet on the frozen corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "lang", "text").checkpointed()
    val rows = docs.as[(Long, String, String, String)].collect().sortBy(_._1)
    // every corpus doc lands in ONE 1-minute window (ids are micros
    // offsets << 60s); the far-future sentinel closes it
    val base = 1704067200000000L
    val input = MemoryStream[(Long, String, String, String, Long)]
    val card = StreamingCuration.datasheetStream(
      input.toDF().toDF("doc_id", "source", "lang", "text", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
      "text", "source", "lang", "ts",
      horizon = "1 second", windowDur = "1 minute")
    val q = card.writeStream.format("memory").queryName("datasheet_stream")
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(100).foreach { b =>
        input.addData(b.map { case (id, src, lg, txt) => (id, src, lg, txt, base + id) }.toSeq)
        q.processAllAvailable()
      }
      input.addData((-1L, "srcflush", "en", "flush sentinel",
        base + 365L * 86400000000L))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("datasheet_stream")
      .filter(col("source") =!= "srcflush")
      .select("source", "n_docs", "n_tokens", "approx_uniq_texts",
        "sum_quality_milli", "n_langs")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val batch = graft.functions.LlmQueries.queries("corpus_datasheet")(
      spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(streamed.map(_._1).toSeq === batch.map(_._1).toSeq)
    streamed.zip(batch).foreach {
      case ((src, nd, nt, uniq, sq, nl), (_, bnd, bnt, buniq, bsq, bnl)) =>
        assert(nd === bnd && nt === bnt && sq === bsq && nl === bnl, src)
        // HLL estimate within 5% of the exact distinct count
        assert(math.abs(uniq - buniq) <= math.max(1L, buniq / 20),
          s"$src approx $uniq vs exact $buniq")
    }
  }

  test("embeddingDriftStream equals the batch embeddingDrift on the frozen corpus") {
    // same split as the embedding_drift gate query: even vec_ids are the
    // frozen reference, odd vec_ids arrive as the candidate stream — all
    // inside ONE 1-minute window, closed by a far-future sentinel
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding")).checkpointed()
    val refMeans = graft.functions.Profiling
      .dimMeans(emb.filter(col("vec_id") % 2 === 0), "embedding")
      .checkpointed()
    val cand = emb.filter(col("vec_id") % 2 =!= 0)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val base = 1704067200000000L
    val input = MemoryStream[(Long, Array[Float], Long)]
    val drift = StreamingCuration.embeddingDriftStream(
      input.toDF().toDF("vec_id", "embedding", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
      "ts", "embedding", refMeans,
      horizon = "1 second", windowDur = "1 minute")
    val q = drift.writeStream.format("memory").queryName("drift_stream")
      .outputMode(OutputMode.Append).start()
    try {
      cand.grouped(100).foreach { b =>
        input.addData(b.map { case (id, v) => (id, v, base + id) }.toSeq)
        q.processAllAvailable()
      }
      input.addData((-1L, Array(0.0f), base + 365L * 86400000000L))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("drift_stream")
      .filter(col("window_start") === timestamp_micros(lit(base)))
      .select("dim", "n_ref", "n_cand", "ref_mean_q6", "cand_mean_q6", "delta_q6")
      .as[(Int, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val batch = graft.functions.Profiling
      .embeddingDrift(emb, "embedding", col("vec_id") % 2 === 0)
      .select("dim", "n_ref", "n_cand", "ref_mean_q6", "cand_mean_q6", "delta_q6")
      .as[(Int, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("snapshotDiffStream equals the batch snapshotDiff minus 'removed' on the frozen corpus") {
    // reference = the corpus; candidate stream = a deterministic edit:
    // every 5th doc's text changed, every 7th doc dropped (those become
    // the batch diff's 'removed' rows, unobservable in a stream), plus
    // planted brand-new ids — so all three streaming statuses occur
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text").checkpointed()
    val candDf = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" EDITED")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id") + 1000000L, col("source"), col("text")))
      .checkpointed()
    val refDg = graft.functions.Profiling.refDigests(docs, "doc_id", "text")
      .checkpointed()
    val cand = candDf.as[(Long, String, String)].collect().sortBy(_._1)
    val base = 1704067200000000L
    val input = MemoryStream[(Long, String, String, Long)]
    val diff = StreamingCuration.snapshotDiffStream(
      input.toDF().toDF("doc_id", "source", "text", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
      "ts", "doc_id", "text", "source", refDg,
      horizon = "1 second", windowDur = "1 minute")
    val q = diff.writeStream.format("memory").queryName("snapdiff_stream")
      .outputMode(OutputMode.Append).start()
    try {
      cand.zipWithIndex.grouped(100).foreach { b =>
        input.addData(b.map { case ((id, src, txt), i) => (id, src, txt, base + i) }.toSeq)
        q.processAllAvailable()
      }
      input.addData((-1L, "srcflush", "flush", base + 365L * 86400000000L))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("snapdiff_stream")
      .filter(col("source") =!= "srcflush")
      .select("source", "status", "n_docs")
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    val batch = graft.functions.Profiling
      .snapshotDiff(docs, candDf, "doc_id", "text", "source")
      .filter(col("status") =!= "removed")
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(streamed.nonEmpty)
    assert(streamed.count(_._2 == "added") > 0)
    assert(streamed.count(_._2 == "changed") > 0)
    assert(streamed.toSeq === batch.toSeq)
  }
}
