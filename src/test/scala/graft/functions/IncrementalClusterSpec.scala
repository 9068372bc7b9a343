package graft.functions

import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Checkpoints.Owned

/** Incremental keep-list maintenance (round-9 directive): an appended
  * near-dup must update the cluster state / keep list WITHOUT a full CC
  * recompute, converging to the batch answer. Two layers:
  *
  *  1. `Curation.refreshClusters` alone, against random edge batches —
  *     the refreshed state must equal full CC over the union of all
  *     edges, for every merge topology the random graphs produce
  *     (new-new components, grow-one-cluster, merge-two-clusters).
  *  2. End-to-end over the materialized LSH index: seed corpus →
  *     index + cluster state; append a batch (near-dup of an indexed
  *     doc + intra-batch near-dup pair + unrelated doc) via
  *     `Dedup.newBatchPairs`; the refreshed state and derived keep list
  *     must equal the full-batch recompute, and the merge graph must be
  *     batch-sized (the "no full recompute" proof).
  */
class IncrementalClusterSpec extends SparkSpec {
  import spark.implicits._

  private def ccMap(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Curation.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap

  test("refreshClusters equals full CC over random edge batches (3 seeds)") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val rnd = new Random(seed)
      // sparse random graph over 200 nodes: many small components with
      // the occasional chain — then a second wave of edges that grows
      // some components, merges others, and creates brand-new ones
      val initial = Seq.fill(80)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
        .filter(p => p._1 != p._2)
      val fresh = Seq.fill(30)((rnd.nextInt(260).toLong, rnd.nextInt(260).toLong))
        .filter(p => p._1 != p._2)
      val state0 = Curation.connectedComponents(
        initial.toDF("a", "b"), "a", "b")
      val refreshed = Curation.refreshClusters(state0, fresh.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      val full = ccMap((initial ++ fresh).toDF("a", "b"))
      assert(refreshed === full, s"seed $seed: incremental != full CC")
    }
  }

  test("refreshClusters with no new pairs is the identity") {
    val state0 = Curation.connectedComponents(
      Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), "a", "b")
    val refreshed = Curation.refreshClusters(
      state0, spark.emptyDataset[(Long, Long)].toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(refreshed === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("appended near-dup updates the keep list incrementally, converging to batch") {
    val tplA = "the quick brown fox jumps over the lazy dog every single day"
    val tplB = "completely different content discussing machine learning model training"
    val corpus = Seq(
      (1L, tplA),
      (2L, tplA.replace("day", "night")),
      (4L, tplB),
      (5L, tplB.replace("training", "serving")),
      (8L, "a unique document about gardening tools sharing nothing with others"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-inc-cc").toString
    Dedup.writeLshIndex(corpus, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    val state0 = Curation.connectedComponents(
      Dedup.minhashLshPairs(corpus, "text", "doc_id",
        n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
      "a", "b")
    assert(state0.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))

    // the arriving batch: a near-dup of indexed doc 1, an intra-batch
    // near-dup pair (20, 21), and an unrelated singleton (30)
    val batch = Seq(
      (10L, tplA.replace("day", "morning")),
      (20L, "fresh paired content about deep sea exploration vessels and sonar"),
      (21L, "fresh paired content about deep sea exploration vessels and radar"),
      (30L, "entirely unrelated text concerning medieval architecture and stone"))
      .toDF("doc_id", "text")
    val newPairs = Dedup.newBatchPairs(spark, batch, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500, buckets = 16)
      .checkpointed()
    val mergeEdges = new AtomicLong(-1)
    val refreshed = Curation.refreshClusters(state0, newPairs,
      mergeEdgesOut = Some(mergeEdges))
      .as[(Long, Long)].collect().toMap
    Dedup.appendToLshIndex(batch, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16)

    // convergence: equals the full-batch CC over corpus ∪ batch
    val full = ccMap(Dedup.minhashLshPairs(corpus.union(batch), "text", "doc_id",
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500))
    assert(refreshed === full, "incremental state != full-batch CC")
    assert(refreshed(10L) === 1L, "appended near-dup must join doc 1's cluster")
    assert(refreshed(20L) === 20L && refreshed(21L) === 20L)
    assert(!refreshed.contains(30L), "singletons carry no cluster row")

    // no-full-recompute proof: the merge graph is new pairs + affected
    // cluster members only — cluster {4,5} and the singleton never enter.
    // Here: 2 new pairs + 2 binding edges (members 1, 2) = 4 edges, vs a
    // full recompute's 3 pairs x2 directions over every clustered doc.
    val nNewPairs = newPairs.count()
    assert(mergeEdges.get() === nNewPairs + 2,
      s"merge graph ${mergeEdges.get()} != ${nNewPairs} new pairs + 2 affected members")

    // keep list derived from the refreshed state equals the batch form
    val all = corpus.union(batch)
    def keepOf(state: Map[Long, Long]): Set[Long] = {
      val losers = state.collect { case (n, c) if n != c => n }.toSet
      all.select("doc_id").as[Long].collect().toSet -- losers
    }
    assert(keepOf(refreshed) === keepOf(full))
    assert(keepOf(refreshed) === Set(1L, 4L, 8L, 20L, 30L))

    // a SECOND batch arrives that merges two existing clusters: a doc
    // near-dup of BOTH a cluster-A member and the first batch's pair —
    // impossible with disjoint templates, so instead merge via two pairs
    // from one bridging batch (31 ~ doc 4, 31 ~ doc 5's text family)
    val batch2 = Seq((31L, tplB.replace("training", "deployment"))).toDF("doc_id", "text")
    val pairs2 = Dedup.newBatchPairs(spark, batch2, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500, buckets = 16)
    val refreshed2 = Curation.refreshClusters(refreshed.toSeq.toDF("node", "cluster_id"),
      pairs2).as[(Long, Long)].collect().toMap
    val full2 = ccMap(Dedup.minhashLshPairs(all.union(batch2), "text", "doc_id",
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500))
    assert(refreshed2 === full2, "second incremental step != full CC")
    assert(refreshed2(31L) === 4L)

    // replay safety: re-applying pairs already reflected in the state is
    // a no-op (the foreachBatch at-least-once contract of
    // StreamOps.clusterMaintenanceStream)
    val replayed = Curation.refreshClusters(
      refreshed2.toSeq.toDF("node", "cluster_id"), pairs2)
      .as[(Long, Long)].collect().toMap
    assert(replayed === refreshed2, "replayed refresh must be a no-op")
  }

  test("clusterMaintenanceStream maintains state across micro-batches, == batch CC") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tpl = "the quick brown fox jumps over the lazy dog every single day"
    val corpus = Seq((1L, tpl), (2L, tpl.replace("day", "night")))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-inc-stream").toString
    Dedup.writeLshIndex(corpus, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    var state = Curation.connectedComponents(
      Dedup.minhashLshPairs(corpus, "text", "doc_id",
        n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
      "a", "b").localCheckpoint()

    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.clusterMaintenanceStream(
      in.toDF().toDF("doc_id", "text"), "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500, buckets = 16)(
      loadState = () => state,
      saveState = s => {
        val old = state
        state = s.localCheckpoint()
        Checkpoints.unpersist(old)
      })
      .start()
    try {
      // batch 1 grows the seeded cluster; batch 2 is a near-dup of a doc
      // that ARRIVED VIA batch 1 — catchable only because the stream's own
      // appends extended the index
      in.addData((10L, tpl.replace("day", "morning")))
      q.processAllAvailable()
      in.addData((20L, tpl.replace("day", "evening")))
      q.processAllAvailable()
      val got = state.as[(Long, Long)].collect().toMap
      val full = ccMap(Dedup.minhashLshPairs(
        corpus.union(Seq((10L, tpl.replace("day", "morning")),
          (20L, tpl.replace("day", "evening"))).toDF("doc_id", "text")),
        "text", "doc_id", n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500))
      assert(got === full)
      assert(got === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 20L -> 1L))
    } finally { q.stop(); Checkpoints.unpersist(state) }
  }

  test("cluster maintenance + retraction streams: between batches the " +
      "session holds exactly the caller's one state checkpoint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tpl = "the quick brown fox jumps over the lazy dog every single day"
    val corpus = Seq((1L, tpl), (2L, tpl.replace("day", "night")))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-inc-held").toString
    Dedup.writeLshIndex(corpus, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    // the caller keeps its state as its own raw checkpoint and releases
    // the superseded one (the streambench saveState)
    var state = Curation.connectedComponents(
      Dedup.minhashLshPairs(corpus, "text", "doc_id",
        n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
      "a", "b").localCheckpoint()
    val sc = spark.sparkContext
    // whatever the seeding left is not the streams' doing
    val seeded = sc.getPersistentRDDs.keySet - Checkpoints.rddOf(state).get.id
    def heldNow: Set[Int] = sc.getPersistentRDDs.keySet.toSet -- seeded
    val save = (s: org.apache.spark.sql.DataFrame) => {
      val old = state
      state = s.localCheckpoint()
      Checkpoints.unpersist(old)
    }
    val docs = MemoryStream[(Long, String)]
    val dead = MemoryStream[Long]
    val qIn = graft.streaming.StreamOps.clusterMaintenanceStream(
      docs.toDF().toDF("doc_id", "text"), "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500, buckets = 16)(
      () => state, save).start()
    val qOut = graft.streaming.StreamOps.clusterRetractStream(
      dead.toDF().toDF("doc_id"), "doc_id", idx, minJaccardMilli = 500)(
      () => state, save).start()
    try {
      for ((word, k) <- Seq("morning", "evening", "noon").zipWithIndex) {
        docs.addData((10L + k, tpl.replace("day", word)))
        qIn.processAllAvailable()
        assert(heldNow === Set(Checkpoints.rddOf(state).get.id),
          s"after ingest batch ${k + 1}")
        dead.addData(10L + k)
        qOut.processAllAvailable()
        assert(heldNow === Set(Checkpoints.rddOf(state).get.id),
          s"after retraction batch ${k + 1}")
      }
      assert(state.as[(Long, Long)].collect().toMap === Map(1L -> 1L, 2L -> 1L))
    } finally { qIn.stop(); qOut.stop(); Checkpoints.unpersist(state) }
  }

  test("retraction end-to-end over the LSH index: delete via " +
      "deleteFromLshIndex, retract labels from the index's surviving " +
      "pairs, keep-best re-elects after the representative dies") {
    val tplA = "the quick brown fox jumps over the lazy dog every single day"
    val tplB = "completely different content discussing machine learning model training"
    val corpus = Seq(
      (1L, tplA),
      (2L, tplA.replace("day", "night")),
      (10L, tplA.replace("day", "morning")),
      (4L, tplB),
      (5L, tplB.replace("training", "serving")),
      (8L, "a unique document about gardening tools sharing nothing with others"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-retract-cc").toString
    Dedup.writeLshIndex(corpus, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    def pairsOf(docs: org.apache.spark.sql.DataFrame) =
      Dedup.minhashLshPairs(docs, "text", "doc_id",
        n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500)
    val state0 = Curation.connectedComponents(pairsOf(corpus), "a", "b")
      .checkpointed()
    assert(state0.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 4L -> 4L, 5L -> 4L))

    // pairsAmongFromIndex == the fresh LSH pass, bit-for-bit incl. score
    val allIds = corpus.select(col("doc_id"))
    val fromIndex = Dedup.pairsAmongFromIndex(spark, allIds, idx, 500)
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    val fresh = pairsOf(corpus)
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    assert(fromIndex === fresh, "stored-index pairs != fresh LSH pairs")

    // keep-best BEFORE: representatives 1 and 4 win their clusters
    val keep0 = Curation.keepBestFromClusters(corpus, "text", "doc_id", state0)
      .as[(Long, Long, Long)].collect().map(k => k._1 -> k._2).toMap
    assert(keep0(1L) === 1L && keep0(4L) === 4L)

    // GDPR batch: doc 1 (cluster A's representative/min-id) and doc 4
    // (cluster B's representative) die. Index first, then labels.
    val dead = Seq(1L, 4L)
    Dedup.deleteFromLshIndex(spark, dead, idx)
    val mergeEdges = new AtomicLong(-1)
    val retracted = Curation.refreshClustersRetract(
      state0, dead.toDF("node"),
      survivors => Dedup.pairsAmongFromIndex(spark, survivors, idx, 500),
      Some(mergeEdges)).checkpointed()
    val survivingDocs = corpus.filter(!col("doc_id").isin(dead: _*))
      .checkpointed()
    val full = Curation.connectedComponents(pairsOf(survivingDocs), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(retracted.as[(Long, Long)].collect().toMap === full,
      "retracted labels != full CC over the surviving corpus")
    assert(full.get(2L).contains(2L) && full.get(10L).contains(2L),
      "cluster A must relabel to its new min survivor")
    // the merge graph is affected-cluster-sized: at most the surviving
    // pairs of clusters {1,2,10} and {4,5} — never the corpus
    assert(mergeEdges.get() <= 4L,
      s"merge graph ${mergeEdges.get()} edges — re-solve leaked past the " +
        "affected clusters")

    // keep-best re-election equals the cold form over the survivors
    val keepR = Curation.keepBestFromClusters(
      survivingDocs, "text", "doc_id", retracted)
      .as[(Long, Long, Long)].collect().toSet
    val keepFull = Curation.keepBestFromClusters(
      survivingDocs, "text", "doc_id",
      full.toSeq.toDF("node", "cluster_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(keepR === keepFull)
    assert(keepR.map(k => k._1 -> k._2).toMap.get(2L).contains(2L),
      "cluster A's keep must re-elect among survivors")
  }

  test("pairsAmongFromIndex resolves a re-appended UPDATED doc last-writer: " +
      "verdicts match a fresh LSH pass over the current corpus, never a " +
      "mix of the two stored versions") {
    val tplA = "the quick brown fox jumps over the lazy dog every single day"
    val tplB = "completely different content discussing machine learning model training"
    val v1 = Seq((1L, tplA), (2L, tplA.replace("day", "night")), (4L, tplB))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-lw").toString
    Dedup.writeLshIndex(v1, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    // doc 2 is UPDATED: its new text leaves cluster A for cluster B —
    // the old version's band keys and shingles stay in the base batch,
    // the new version lands in batch 0
    val updated = Seq((2L, tplB.replace("training", "serving")))
      .toDF("doc_id", "text")
    Dedup.appendToLshIndex(updated, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16, batchId = Some(0L))
    val current = Seq((1L, tplA), (2L, tplB.replace("training", "serving")),
      (4L, tplB)).toDF("doc_id", "text")
    val fromIndex = Dedup.pairsAmongFromIndex(spark,
      current.select(col("doc_id")), idx, 500)
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    val fresh = Dedup.minhashLshPairs(current, "text", "doc_id",
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500)
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    assert(fromIndex === fresh,
      "stored-index pairs after an update-append != fresh pass over the " +
        "current corpus")
    assert(fresh.exists(p => (p._1, p._2) == (2L, 4L)),
      "fixture broken: updated doc 2 should pair with 4")
    assert(!fresh.exists(p => (p._1, p._2) == (1L, 2L)),
      "fixture broken: updated doc 2 must no longer pair with 1")
    // compaction resolves last-writer BEFORE collapsing batches — the
    // max-batch distinction would otherwise be destroyed permanently
    Dedup.compactLshIndex(spark, idx)
    val afterCompact = Dedup.pairsAmongFromIndex(spark,
      current.select(col("doc_id")), idx, 500)
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    assert(afterCompact === fresh,
      "compaction merged the two stored text versions of the updated doc")
  }

  test("clusterRetractStream: one streamed delete batch updates the index " +
      "AND the labels; the dead doc stops matching probes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tpl = "the quick brown fox jumps over the lazy dog every single day"
    val corpus = Seq(
      (1L, tpl), (2L, tpl.replace("day", "night")),
      (10L, tpl.replace("day", "morning")))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-retract-stream").toString
    Dedup.writeLshIndex(corpus, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    var state = Curation.connectedComponents(
      Dedup.minhashLshPairs(corpus, "text", "doc_id",
        n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500),
      "a", "b").localCheckpoint()

    val in = MemoryStream[Long]
    val q = graft.streaming.StreamOps.clusterRetractStream(
      in.toDF().toDF("doc_id"), "doc_id", idx, minJaccardMilli = 500)(
      loadState = () => state,
      saveState = s => {
        val old = state
        state = s.localCheckpoint()
        Checkpoints.unpersist(old)
      })
      .start()
    try {
      in.addData(1L)
      q.processAllAvailable()
      // labels: cluster re-solved over the index's surviving pairs
      assert(state.as[(Long, Long)].collect().toMap ===
        Map(2L -> 2L, 10L -> 2L))
      // index: the deleted doc no longer matches a probe of its own text
      val verdicts = Dedup.nearDupsAgainstIndex(
        spark, Seq((99L, tpl)).toDF("doc_id", "text"), "text", "doc_id", idx,
        n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500, buckets = 16)
        .select("corpus_id").as[Long].collect().toSet
      assert(!verdicts.contains(1L), "deleted doc still matching probes")
      // doc 2 band-collides with the probe; doc 10's membership was
      // transitive (via pairs (1,2),(2,10)), so the probe need not hit it
      assert(verdicts.contains(2L))
    } finally { q.stop(); Checkpoints.unpersist(state) }
  }
}
