package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables
import graft.functions.Checkpoints.Owned

/** IVF ANN recall floor vs the exact brute-force top-k, at the shipped
  * query's configuration (k=5, centroidEvery=25, nprobe=3) on the sf0.01
  * corpus. The corpus is (measured) near-random in cosine space — see
  * SCALING.md §ANN-recall — so the information-theoretic expectation for
  * ANY index is recall ≈ probe fraction (0.15 here); the floors assert
  * the index (a) clears that bar by >2x and (b) the deterministic k-means
  * refinement does not regress below the modulo-sampled baseline.
  * Measured on 2026-08-12: modulo 0.390, kmeans(3) 0.450.
  */
class RecallSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.01"

  /** recall@k = |ann hits ∩ exact hits| / |exact hits| over all queries. */
  private def recallAtK(exact: DataFrame, ann: DataFrame): Double = {
    val truth = exact.select(col("qid"), col("vec_id")).distinct()
    val hits = ann.select(col("qid"), col("vec_id")).distinct()
    truth.join(hits, Seq("qid", "vec_id")).count().toDouble / truth.count()
  }

  test("IVF recall@5 clears 2x the probe fraction; k-means refinement holds the floor") {
    val emb = Tables.embeddings(spark, d)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))

    val brute = Similarity.bruteForceTopK(queries, corpus, 5).cache()
    try {
      val rMod = recallAtK(
        brute, Similarity.ivfTopK(queries, corpus, 5, centroidEvery = 25, nprobe = 3))
      val rKm = recallAtK(
        brute,
        Similarity.ivfTopKWithCentroids(
          queries, corpus, Similarity.kmeansCentroids(corpus, 25, 3), 5, 3))
      val probeFraction = 3.0 / 20.0 // nprobe of ~20 cells
      assert(rMod >= 2 * probeFraction, f"modulo recall $rMod%.3f under 2x probe fraction")
      assert(rMod >= 0.30, f"modulo recall $rMod%.3f under floor 0.30 (measured 0.390)")
      assert(rKm >= 0.35, f"kmeans recall $rKm%.3f under floor 0.35 (measured 0.450)")
    } finally { brute.unpersist(); () }
  }

  test("compressed-index recall on the real corpus: int8 high, ADC documented") {
    import org.apache.spark.sql.expressions.Window
    import graft.expressions.VectorExpressions.dotProduct
    val emb = Tables.embeddings(spark, d)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    def exactTopK(score: org.apache.spark.sql.Column, asc: Boolean) = {
      val w = Window.partitionBy(col("qid"))
        .orderBy(if (asc) score.asc else score.desc, col("vec_id"))
      corpus.join(broadcast(queries), col("qid") =!= col("vec_id"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("vec_id"))
    }
    val qd = transform(col("qvec"), x => x.cast("double"))
    val vd = transform(col("vec"), x => x.cast("double"))
    val exactIp = exactTopK(dotProduct(qd, vd), asc = false).cache()
    val exactL2 = exactTopK(
      aggregate(zip_with(qd, vd, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x), asc = true).cache()
    try {
      val rInt8 = recallAtK(exactIp,
        Similarity.int8TopK(queries, corpus, 5))
      val rAdc = recallAtK(exactL2,
        Similarity.adcTopK(queries, corpus, 5, centroidEvery = 25, m = 8, dim = 64))
      info(f"int8 recall@5 vs exact IP = $rInt8%.3f")
      info(f"ADC recall@5 vs exact L2  = $rAdc%.3f")
      // int8 keeps fine-grained magnitudes: near-exact on the real corpus
      assert(rInt8 >= 0.90, f"int8 recall $rInt8%.3f under floor 0.90")
      // PQ collapses a near-random corpus to 20 cells/subspace: like IVF,
      // recall is bounded by corpus structure, not the operator — assert
      // it beats random top-5 (5/500 = 0.01) by an order of magnitude
      assert(rAdc >= 0.10, f"ADC recall $rAdc%.3f under floor 0.10")
    } finally { exactIp.unpersist(); exactL2.unpersist(); () }
  }

  test("clustered planted corpus: k-means-refined centroids beat modulo sampling") {
    // 64 LOOSE clusters (noise comparable to the center norm): a random
    // member is then a poor cell representative, while the Lloyd mean
    // converges to the true center — exactly the case refinement exists
    // for. Fully deterministic (fixed seed), so the comparison is stable.
    val rnd = new scala.util.Random(42)
    val dim = 16
    val nClusters = 64
    val perCluster = 20
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val rows = (0 until nClusters * perCluster).map { i =>
      val cl = i % nClusters
      (i.toLong,
        Array.tabulate(dim)(j => (centers(cl)(j) + 0.8 * rnd.nextGaussian()).toFloat))
    }
    import spark.implicits._
    val corpus = rows.toDF("vec_id", "vec")
    val queries = corpus.filter(col("vec_id") < 32)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val brute = Similarity.bruteForceTopK(queries, corpus, 5).cache()
    try {
      val rMod = recallAtK(
        brute, Similarity.ivfTopK(queries, corpus, 5, centroidEvery = 25, nprobe = 2))
      val rKm = recallAtK(
        brute,
        Similarity.ivfTopKWithCentroids(
          queries, corpus, Similarity.kmeansCentroids(corpus, 25, 3), 5, 2))
      info(f"planted-corpus recall@5: modulo $rMod%.3f, kmeans $rKm%.3f")
      assert(rKm >= rMod,
        f"refined recall $rKm%.3f must not regress below modulo $rMod%.3f")
    } finally { brute.unpersist(); () }
  }

  test("knn_label_agreement_ivf: full-corpus sweep, verdicts recall-bounded vs brute") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val probes = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    // ground truth: the brute vote with probes = the FULL corpus (what the
    // shipped brute query can't afford at scale but can at sf0.01)
    val brute = LlmQueries.knnLabelVote(
      Similarity.bruteForceTopK(probes, corpus, 5), emb)
      .select(col("qid"), col("knn_label").as("b_label"), col("agree").as("b_agree"))
    val ivf = LlmQueries.queries("knn_label_agreement_ivf")(spark, d)
    val n = ivf.count()
    assert(n === 500, s"IVF sweep must cover the whole corpus, got $n rows")
    val joined = ivf.join(brute, "qid")
      .agg(
        count(lit(1)).as("n"),
        avg(when(col("knn_label") === col("b_label"), 1.0).otherwise(0.0)).as("lbl"),
        avg(when(col("agree") === col("b_agree"), 1.0).otherwise(0.0)).as("ver"))
      .as[(Long, Double, Double)].head()
    val (nj, labelAgree, verdictAgree) = joined
    assert(nj === 500L)
    // the corpus is near-random in cosine space (see the recall test
    // above: IVF recall ~0.39), so the IVF neighbor sets overlap brute's
    // ~39% and the winning label matches at about that rate — far above
    // the 10% chance floor for the 10-label corpus. The agree/flag
    // VERDICT is much more stable than the label itself (most probes
    // disagree with any vote on a random corpus). Measured 2026-08-14:
    // label 0.376, verdict 0.854.
    assert(labelAgree >= 0.25, f"label agreement $labelAgree%.3f under 0.25")
    assert(verdictAgree >= 0.75, f"verdict agreement $verdictAgree%.3f under 0.75")
  }

  test("IVF mislabel sweep flags planted label errors on a clustered corpus") {
    // The real use case: clustered embeddings with cluster-consistent
    // labels, a few vectors deliberately mislabeled. The full-corpus IVF
    // sweep must flag the planted errors (agree=0) and keep the false-
    // positive rate low. Tight clusters (noise << center norm) so the
    // kNN vote is unambiguous; fixed seed so the assertion is stable.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val nClusters = 40
    val perCluster = 25
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val nRows = nClusters * perCluster
    val planted = Set(13L, 250L, 777L)
    val rows = (0 until nRows).map { i =>
      val cl = i % nClusters
      val trueLabel = cl % 8
      val label = if (planted(i.toLong)) (trueLabel + 1) % 8 else trueLabel
      (i.toLong,
        Array.tabulate(dim)(j => (centers(cl)(j) + 0.15 * rnd.nextGaussian()).toFloat),
        label)
    }
    import spark.implicits._
    val emb = rows.toDF("vec_id", "embedding", "label")
    val probes = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val sweep = LlmQueries.knnLabelVote(
      Similarity.ivfTopK(probes, corpus, k = 5, centroidEvery = 25, nprobe = 3), emb)
    val flagged = sweep.filter(col("agree") === 0)
      .select(col("qid")).as[Long].collect().toSet
    assert(planted.subsetOf(flagged),
      s"planted mislabels ${planted -- flagged} not flagged (flagged: $flagged)")
    val fp = (flagged -- planted).size
    assert(fp <= nRows / 100,
      s"$fp false positives out of $nRows (flagged: ${flagged -- planted})")
  }

  test("knn_label_agreement: one row per probe, vote is the neighbors' mode") {
    import spark.implicits._
    val out = LlmQueries.queries("knn_label_agreement")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.length === 50 && out.map(_._1).distinct.length === 50)
    out.foreach { case (qid, own, knn, votes, agree) =>
      assert(votes >= 1 && votes <= 5, s"probe $qid votes $votes")
      assert(agree === (if (own == knn) 1L else 0L), s"probe $qid")
    }
    // independent recount for one probe: the winning label's vote count
    // matches a direct count over that probe's brute-force neighbors
    val emb = Tables.embeddings(spark, d)
    val probes = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val nbrLabels = Similarity.bruteForceTopK(probes, corpus, 5)
      .join(emb.select(col("vec_id"), col("label").cast("long").as("l")), "vec_id")
      .select(col("l")).as[Long].collect()
    val (qid0, _, knn0, votes0, _) = out.find(_._1 == 0L).get
    assert(qid0 === 0L)
    assert(nbrLabels.count(_ == knn0) === votes0,
      s"probe 0: reported $votes0 votes for $knn0, " +
        s"recount ${nbrLabels.count(_ == knn0)} in ${nbrLabels.toSeq}")
  }

  test("indexStalenessReport: planted drift fires BOTH signals — the " +
      "drift summary far above the no-drift control and frozen-centroid " +
      "recall strictly below a fresh rebuild's; the control reads quiet") {
    import spark.implicits._
    val dim = 24
    // deterministic pseudo-noise (no RNG — reruns identical)
    def noise(i: Long, d: Int, c: Int, amp: Float): Float =
      (((i * 31 + d * 17 + c * 7) % 13).toFloat - 6f) * amp
    // base clusters: one dominant axis each over axes 0..11, small noise
    // — ids 0,25,...,275 give the frozen index exactly ONE centroid per
    // base axis
    def baseVec(i: Long): Array[Float] = {
      val c = (i % 12).toInt
      val a = Array.tabulate(dim)(d => noise(i, d, c, 0.01f))
      a(c) = 1.0f
      a
    }
    // drifted appended: brand-new dominant axes 16..23 plus STRONG
    // member-dependent noise on the base axes — under the FROZEN
    // centroids (one per base axis) the cell argmax is that noise, so
    // each appended cluster scatters ~12 ways across stale cells and a
    // 3-probe query cannot cover its own neighbors; a fresh rebuild
    // gives every appended cluster its own centroid and holds it
    // together
    def driftVec(i: Long): Array[Float] = {
      val c = (i % 8).toInt
      val a = Array.tabulate(dim)(d =>
        if (d < 12) noise(i, d, c, 0.04f) else noise(i, d, c, 0.005f))
      a(16 + c) = 1.0f
      a
    }
    val frozen = (0L until 300L).map(i => (i, baseVec(i)))
    def report(appended: Seq[(Long, Array[Float])]) = {
      val emb = (frozen ++ appended).toDF("vec_id", "vec")
      val queries = appended.take(20).toDF("qid", "qvec")
      Similarity.indexStalenessReport(emb, col("vec_id") < 1000L, queries,
        centroidEvery = 25, k = 5, nprobe = 3)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        .head()
    }
    val drifted = (1000L until 1240L).map(i => (i, driftVec(i)))
    // control: appended vectors drawn from the SAME distribution as the
    // base — both arms retrieve through own-axis cells, gap ~0
    val control = (1000L until 1240L).map(i => (i, baseVec(i)))
    val (_, _, _, dMax, _, _, _, _, dFroz, dFresh, dGap) = report(drifted)
    val (_, _, _, cMax, _, _, _, _, _, _, cGap) = report(control)
    assert(dMax >= 5 * math.max(1L, cMax),
      s"planted drift summary did not fire: planted max $dMax vs control $cMax")
    assert(dGap >= 100L && dFresh > dFroz,
      s"planted staleness gap did not fire: frozen $dFroz fresh $dFresh gap $dGap")
    assert(math.abs(cGap) <= 100L,
      s"no-drift control reads a staleness gap: $cGap")
  }

  test("rebuildIvfPqIndex closes the planted-drift recall gap: the stale " +
      "index under-recalls the drifted vectors, the rebuilt one reads a " +
      "~0 gap vs a from-scratch write (the alarm's actionable fix)") {
    import spark.implicits._
    val dim = 24
    // the indexStalenessReport fixture: base clusters on axes 0..11,
    // appended drift on brand-new axes 16..23 with strong base-axis
    // noise — stale centroids scatter each appended cluster ~12 ways
    def noise(i: Long, d: Int, c: Int, amp: Float): Float =
      (((i * 31 + d * 17 + c * 7) % 13).toFloat - 6f) * amp
    def baseVec(i: Long): Array[Float] = {
      val c = (i % 12).toInt
      val a = Array.tabulate(dim)(d => noise(i, d, c, 0.01f))
      a(c) = 1.0f
      a
    }
    def driftVec(i: Long): Array[Float] = {
      val c = (i % 8).toInt
      val a = Array.tabulate(dim)(d =>
        if (d < 12) noise(i, d, c, 0.04f) else noise(i, d, c, 0.005f))
      a(16 + c) = 1.0f
      a
    }
    val frozen = (0L until 300L).map(i => (i, baseVec(i))).toDF("vec_id", "vec")
    val drifted = (1000L until 1240L).map(i => (i, driftVec(i)))
    val emb = frozen.unionByName(drifted.toDF("vec_id", "vec"))
      .checkpointed()
    val queries = drifted.take(20).toDF("qid", "qvec")
    val truth = Similarity.bruteForceTopK(queries, emb, 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    def recall(p: String, codebookSrc: org.apache.spark.sql.DataFrame): Int =
      Similarity.ivfPqTopKFromIndex(spark, queries, codebookSrc, p, k = 5,
        centroidEvery = 25, nprobe = 3, m = 4, dim = dim)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
        .intersect(truth).size

    // the lived-in index: frozen base + drifted append under the FROZEN
    // centroids/codebooks — the state indexStalenessReport alarms on
    val idx = tempDir("graft-pq-drift").toString
    Similarity.writeIvfPqIndex(frozen, idx, centroidEvery = 25, m = 4, dim = dim)
    Similarity.appendToIvfPqIndex(frozen, drifted.toDF("vec_id", "vec"), idx,
      centroidEvery = 25, m = 4, dim = dim, batchId = Some(0L))
    val stale = recall(idx, frozen)

    // the alarm's fix: rebuild over the full corpus (fresh centroids +
    // codebooks cover the drifted axes)
    Similarity.rebuildIvfPqIndex(spark, emb, idx,
      centroidEvery = 25, m = 4, dim = dim)
    val rebuilt = recall(idx, emb)
    val fresh = tempDir("graft-pq-drift-f").toString
    Similarity.writeIvfPqIndex(emb, fresh, centroidEvery = 25, m = 4, dim = dim)
    val freshRecall = recall(fresh, emb)
    assert(rebuilt === freshRecall,
      s"rebuilt recall $rebuilt != from-scratch recall $freshRecall — the gap must read 0")
    assert(rebuilt > stale,
      s"rebuild did not close the drift gap: stale $stale rebuilt $rebuilt")
  }
}
