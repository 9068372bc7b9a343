package graft.streambench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{Checkpoints, Curation, Dedup, TextAnalysis}
import graft.streaming.StreamOps

/** The `index_maintain` workload: a seeded document stream maintains an
  * LSH index with its near-duplicate cluster labels and a BM25 inverted
  * index, both seeded from a generated corpus. Each cycle of the closed
  * loop is one ingest batch (cluster maintenance, then BM25 ingest), one
  * delete batch (cluster retraction, then BM25 delete) and one search
  * batch served by a search stream restarted so it sees the committed
  * index. One untimed cycle runs first, as part of set-up.
  */
object IndexWorkload {
  val CorpusDocs = 5000
  val IngestDocs = 125
  val DeleteIds = 70
  val Queries = 8
  // the LSH and BM25 settings the engine's gated index queries use
  val N = 3
  val Bands = 4
  val RowsPerBand = 4
  val LshBuckets = 16
  val MinJaccardMilli = 500
  val Bm25Buckets = 64
  val TopK = 10

  private final case class Served(aliveIds: Seq[Long], queries: Seq[(Long, String)], rec: BatchRec)

  /** Runs the workload; returns the set-up seconds. */
  def run(c: Ctx, seconds: Double, tracer: Option[Tracer]): Double = {
    val spark = c.spark
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gen = new DocGen(c.seed)
    val alive = mutable.LinkedHashSet.empty[Long]
    val allText = mutable.Map.empty[Long, String]
    val lsh = c.path("index", "lsh")
    val bm25 = c.path("index", "bm25")
    val t0 = System.nanoTime()

    val corpus = gen.batch(CorpusDocs)
    alive ++= corpus.map(_._1)
    allText ++= corpus
    val corpusDf = corpus.toDF("doc_id", "text")
    // the BM25 index is seeded alongside the LSH index and its labels;
    // connectedComponents returns labels over its own checkpoint, which the
    // first saveState releases
    var state: DataFrame = null
    c.inParallel(Seq(
      () => {
        c.setupStep("lsh_seed")(Dedup.writeLshIndex(corpusDf, "text", "doc_id", lsh,
          N, Bands, RowsPerBand, LshBuckets))
        state = c.setupStep("cc_seed")(Curation.connectedComponents(
          Dedup.pairsAmongFromIndex(spark, corpusDf.select(col("doc_id")), lsh, MinJaccardMilli),
          "a", "b"))
      },
      () => c.setupStep("bm25_seed")(
        TextAnalysis.writeInvertedIndex(corpusDf, "text", "doc_id", bm25, Bm25Buckets))))

    val load = () => c.callback("loadState")(state)
    // the caller owns state persistence: keep the new labels, then release
    // the previous ones' checkpoint blocks
    val save = (s: DataFrame) => c.callback("saveState") {
      val next = s.localCheckpoint()
      val old = state
      state = next
      Checkpoints.unpersist(old)
    }
    def start(name: String, w: org.apache.spark.sql.streaming.DataStreamWriter[Row]) =
      w.queryName(name).option("checkpointLocation", c.ckpt(name)).start()
    val clusterIn = MemoryStream[(Long, String)]
    val bm25In = MemoryStream[(Long, String)]
    val retractIn = MemoryStream[Long]
    val deleteIn = MemoryStream[Long]
    val qCluster = start("cluster_ingest", StreamOps.clusterMaintenanceStream(
      clusterIn.toDF().toDF("doc_id", "text"), "text", "doc_id", lsh,
      N, Bands, RowsPerBand, MinJaccardMilli, LshBuckets)(load, save))
    val qBm25 = start("bm25_ingest", StreamOps.bm25IngestStream(
      bm25In.toDF().toDF("doc_id", "text"), "text", "doc_id", bm25, Bm25Buckets))
    val qRetract = start("cluster_retract", StreamOps.clusterRetractStream(
      retractIn.toDF().toDF("doc_id"), "doc_id", lsh, MinJaccardMilli)(load, save))
    val qDelete = start("bm25_delete", StreamOps.bm25DeleteStream(
      deleteIn.toDF().toDF("doc_id"), "doc_id", bm25))
    var qSearch: StreamingQuery = null
    val served = mutable.ArrayBuffer.empty[Served]
    val results = mutable.Map.empty[Long, Seq[(Long, Long)]]
    var searches = 0
    var nextQid = 1000000L

    def ingest(): Long = {
      val docs = gen.batch(IngestDocs)
      clusterIn.addData(docs)
      qCluster.processAllAvailable()
      bm25In.addData(docs)
      qBm25.processAllAvailable()
      alive ++= docs.map(_._1)
      allText ++= docs
      docs.size
    }
    def delete(): Long = {
      val ids = gen.pick(alive.toIndexedSeq, DeleteIds)
      retractIn.addData(ids)
      qRetract.processAllAvailable()
      deleteIn.addData(ids)
      qDelete.processAllAvailable()
      alive --= ids
      ids.size
    }
    // a search stream snapshots the index stats on its first batch, so a
    // restarted stream is what sees the writes committed before it
    def search(qs: Seq[(Long, String)]): Long = {
      if (qSearch != null) qSearch.stop()
      val in = MemoryStream[(Long, String)]
      searches += 1
      qSearch = start(s"bm25_search_$searches", StreamOps.bm25SearchStream(
        in.toDF().toDF("qid", "terms"), bm25, TopK) { ranked =>
        c.callback("emit") {
          val got = ranked.as[(Long, Long, Long)].collect().groupBy(_._1)
          results.synchronized {
            got.foreach { case (q, rs) => results(q) = rs.toSeq.map(r => (r._2, r._3)) }
          }
        }
      })
      in.addData(qs)
      qSearch.processAllAvailable()
      qs.size
    }
    def queries(): Seq[(Long, String)] = (0 until Queries).map { _ =>
      nextQid += 1
      (nextQid, gen.query())
    }
    // whole cycles only, so every run has as many batches of each kind
    def loop(budget: Double): Unit = {
      val start = System.nanoTime()
      while ((System.nanoTime() - start) / 1e9 < budget) {
        c.batch("ingest", Seq(qCluster, qBm25))(ingest())
        c.batch("retract", Seq(qRetract, qDelete))(delete())
        val ids = alive.toSeq
        val qs = queries()
        served += Served(ids, qs, c.batch("search", Seq(qSearch))(search(qs)))
      }
    }

    def elapsedS = (System.nanoTime() - t0) / 1e9
    var setupS = 0.0
    try {
      // one untimed cycle (set-up), so the timed cycles start on warm
      // queries; the label gate covers its writes
      ingest()
      delete()
      search(queries())
      setupS = elapsedS
      tracer match {
        case None => loop(seconds)
        case Some(t) =>
          // untraced, traced, untraced: warm-up favours neither side
          loop(seconds / 2)
          val before = files(lsh, bm25)
          c.traced(t)(loop(seconds / 2))
          val added = files(lsh, bm25) -- before.keySet
          c.sinkFiles = added.size
          c.sinkBytes = added.values.sum
          loop(seconds / 2)
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[streambench] index_maintain failed: $e")
        if (setupS == 0.0) setupS = elapsedS
        if (c.batches.isEmpty) c.failed("index_maintain")
    } finally Seq(qCluster, qBm25, qRetract, qDelete, qSearch).foreach(q => if (q != null) q.stop())

    val tg = System.nanoTime()
    // gate: labels and rankings of the maintained indexes equal one-shot
    // rebuilds over the surviving documents
    val writes = c.batches.filter(b => b.pipeline == "ingest" || b.pipeline == "retract")
    val labelGate = c.guarded("index_maintain label gate")(writes.foreach(_.failed = true)) {
      val survivors = alive.toSeq.map(i => (i, allText(i))).toDF("doc_id", "text")
      val fresh = c.path("gate", "lsh")
      Dedup.writeLshIndex(survivors, "text", "doc_id", fresh, N, Bands, RowsPerBand, LshBuckets)
      val cold = Curation.connectedComponents(
        Dedup.pairsAmongFromIndex(spark, survivors.select(col("doc_id")), fresh, MinJaccardMilli),
        "a", "b")
      try {
        if (!Ctx.sameRows(state.select(col("node"), col("cluster_id")),
            cold.select(col("node"), col("cluster_id")))) {
          System.err.println("[streambench] index_maintain: cluster labels differ from the cold rebuild")
          writes.foreach(_.failed = true)
        }
      } finally Checkpoints.unpersist(cold)
    }
    val searchGates = served.zipWithIndex.map { case (s, k) =>
      c.guarded(s"index_maintain search gate $k")(s.rec.failed = true) {
        val dir = c.path("gate", s"bm25_$k")
        val docs = s.aliveIds.map(i => (i, allText(i))).toDF("doc_id", "text")
        TextAnalysis.writeInvertedIndex(docs, "text", "doc_id", dir, Bm25Buckets)
        val same = s.queries.forall { case (qid, terms) =>
          val want = TextAnalysis.bm25SearchFromIndex(spark, dir, terms.split(' ').toSeq, topK = TopK)
            .as[(Long, Long)].collect().toSeq
          results.getOrElse(qid, Seq.empty) == want
        }
        if (!same) {
          System.err.println(s"[streambench] index_maintain: search batch $k differs from the rebuild")
          s.rec.failed = true
        }
        // the last search ran after every write: the stats must match too
        if (k == served.size - 1 &&
            TextAnalysis.readIndexStats(spark, bm25) != TextAnalysis.readIndexStats(spark, dir)) {
          System.err.println("[streambench] index_maintain: BM25 stats differ from the rebuild")
          writes.foreach(_.failed = true)
        }
      }
    }
    c.inParallel(labelGate +: searchGates.toSeq)
    Checkpoints.unpersist(state)
    System.err.println(f"[streambench] index gates took ${(System.nanoTime() - tg) / 1e9}%.1f s")
    setupS
  }

  /** Every file under `roots`, with its size. */
  private def files(roots: String*): Map[String, Long] = roots.flatMap { r =>
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(r)).map(f => f.getAbsolutePath -> f.length)
  }.toMap
}
