package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Checkpoints.Owned

/** Property tests for the LLM-pipeline operators on planted inputs. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the green woods tonight"
  private val nearDup = base.replace("green", "dark") // 1-word edit
  private val unrelated =
    "completely different content about spark engines shuffling data across many executors quickly"

  lazy val docs = Seq(
    (0L, base, "s"), (1L, nearDup, "s"), (2L, unrelated, "s"), (3L, base, "s"))
    .toDF("doc_id", "text", "source")

  test("exact dedup groups identical docs") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .filter(col("n") > 1).collect()
    assert(g.length === 1)
    assert(g.head.getAs[Long]("keep_id") === 0L)
    assert(g.head.getAs[Long]("n") === 2L)
  }

  test("ngram jaccard finds the planted near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 3, 300, 50)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))   // near-dup
    assert(pairs.contains((0L, 3L)))   // exact dup (jaccard 1000)
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated never pairs
  }

  test("jaccardPrefixPairs is COMPLETE: equals naive all-pairs on random corpora") {
    // random docs assembled from a small phrase pool so shared-shingle
    // structure (and hence the full Jaccard range) actually occurs
    val phrases = Vector(
      "alpha beta gamma", "delta epsilon zeta", "eta theta iota",
      "kappa lambda mu", "nu xi omicron", "pi rho sigma")
    for (seed <- Seq(7L, 11L)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (0L until 40L).map { id =>
        val k = 2 + rnd.nextInt(4)
        (id, Seq.fill(k)(phrases(rnd.nextInt(phrases.size))).mkString(" "))
      }.toDF("doc_id", "text")
      for (t <- Seq(300, 500, 800)) {
        def key(r: org.apache.spark.sql.Row) =
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        val pruned = Dedup.jaccardPrefixPairs(corpus, "text", "doc_id", 3, t)
          .collect().map(key).toSet
        // naive oracle: exact jaccard over every pair, no pruning
        val sets = corpus.withColumn("sh",
            graft.expressions.TextExpressions.hashedShingles(col("text"), 3))
          .select(col("doc_id"), col("sh")).as[(Long, Seq[Long])]
          .collect().toMap.view.mapValues(_.toSet).toMap
        val naive = (for {
          a <- sets.keys; b <- sets.keys if a < b
          sa = sets(a); sb = sets(b) if sa.nonEmpty && sb.nonEmpty
          inter = (sa & sb).size.toLong
          uni = sa.size + sb.size - inter
          jm = math.floor(inter * 1000.0 / uni).toLong if jm >= t
        } yield (a, b, inter, uni, jm)).toSet
        assert(pruned === naive, s"seed $seed t=$t: prefix join != naive all-pairs")
      }
    }
  }

  test("jaccardPrefixPairs prefix probe is smaller than the full explode") {
    // the scale claim: candidate keys per doc shrink to ~(1-t)|S|+1
    val corpus = (0L until 30L).map(i => (i, base + s" tail$i word$i")).toDF("doc_id", "text")
    val full = Dedup.withHashedShingles(corpus, "text", 3, "sh")
      .select(explode(col("sh"))).count()
    val probed = Dedup.jaccardPrefixPairs(corpus, "text", "doc_id", 3, 800)
    probed.collect() // force
    // at t=0.8 the prefix keeps |S| - ceil(0.8|S|) + 1 ~ 0.2|S| keys
    val sh0 = Dedup.withHashedShingles(corpus.limit(1), "text", 3, "sh")
      .select(size(col("sh"))).as[Int].head()
    val plen = sh0 - math.ceil(sh0 * 0.8).toInt + 1
    assert(plen <= sh0 / 4 + 1, s"prefix $plen not << set $sh0 (full explode $full)")
  }

  test("pageRank equals the naive fixed-point iteration on random graphs") {
    for (seed <- Seq(3L, 9L)) {
      val rnd = new scala.util.Random(seed)
      // random undirected graph: symmetrize so no dangling nodes
      val raw = Seq.fill(60)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(p => p._1 != p._2).distinct
      val sym = (raw ++ raw.map(_.swap)).distinct
      val got = Graph.pageRank(sym.toDF("src", "dst"), "src", "dst",
        iterations = 4)
        .as[(Long, Long)].collect().toMap
      // naive reference: same integer fixed-point recurrence in plain Scala
      val outd = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val inEdges = sym.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      var r = outd.keys.map(_ -> 1000000L).toMap
      for (_ <- 1 to 4) {
        r = inEdges.view.mapValues { srcs =>
          150000L + 850L * srcs.map(u => r(u) / outd(u)).sum / 1000L
        }.toMap
      }
      assert(got === r, s"seed $seed: distributed != naive fixed-point")
    }
  }

  test("personalizedPageRank equals the naive seed-teleport iteration") {
    val rnd = new scala.util.Random(23L)
    val raw = Seq.fill(80)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(p => p._1 != p._2).distinct
    val sym = (raw ++ raw.map(_.swap)).distinct
    val seeds = Seq(0L, 1L)
    val got = Graph.personalizedPageRank(sym.toDF("src", "dst"), "src", "dst",
      seeds, iterations = 3)
      .as[(Long, Long)].collect().toMap
    val outd = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val inEdges = sym.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var r: Map[Long, Long] = seeds.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = inEdges.view.mapValues { srcs =>
        850L * srcs.flatMap(u => r.get(u).map(_ / outd(u))).sum / 1000L
      }.filter { case (n, c) => c > 0 || inEdges(n).exists(r.contains) }.toMap
      val nodes = (contrib.keySet ++ seeds).toSeq
      r = nodes.map(n => n ->
        ((if (seeds.contains(n)) 150000L else 0L) + contrib.getOrElse(n, 0L))).toMap
    }
    assert(got === r, "distributed PPR != naive seed-teleport iteration")
    // proximity property: mass decays away from the seed set — a node
    // adjacent to a seed outranks the global minimum
    assert(got(0L) > 0L && got.values.min >= 0L)
  }

  test("triangleCounts equals the naive enumeration on random graphs") {
    for (seed <- Seq(17L, 19L)) {
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2).distinct
      val sym = (raw ++ raw.map(_.swap)).distinct
      val got = Graph.triangleCounts(sym.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long)].collect().toMap
      // naive: count triangles by checking all node triples
      val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nodes = adj.keys.toSeq.sorted
      val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
        a = nodes(i); b = nodes(j); c = nodes(k)
        if adj(a)(b) && adj(b)(c) && adj(a)(c)
      } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
      assert(got === naive.toMap, s"seed $seed: oriented counts != naive")
      // the adjacency-intersection plan is bit-identical on the same
      // half-edge input (same orientation, wedge join replaced by
      // explode(array_intersect))
      val half = raw.map(p => if (p._1 < p._2) p else p.swap).distinct
      val gotAdj = Graph.triangleCountsAdj(half.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(gotAdj === naive.toMap, s"seed $seed: adj-intersect counts != naive")
    }
  }

  test("communityLabels: two cliques joined by a bridge settle on clique minima") {
    // cliques {0,1,2} and {10,11,12} bridged 2-10; after 3 sync LPA
    // rounds (hand-traced) the graph settles into exactly two
    // communities — the left clique on label 0, the right on label 2
    // (the label that crossed the bridge in round 1 and won the right
    // clique's majority by round 3); the bridge never flips either side
    val edges = Seq(
      (0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (2L, 10L)).toDF("a", "b")
    val got = Graph.communityLabels(edges, "a", "b", rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 2L, 11L -> 2L, 12L -> 2L), got.toString)
  }

  test("triangleCounts: K4 gives every node 3 triangles, star gives none") {
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a != b } yield (a, b)).toDF("src", "dst")
    val gotK4 = Graph.triangleCounts(k4, "src", "dst").as[(Long, Long)].collect().toMap
    assert(gotK4 === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    val star = ((1L to 5L).map(l => (0L, l)) ++ (1L to 5L).map(l => (l, 0L)))
      .toDF("src", "dst")
    assert(Graph.triangleCounts(star, "src", "dst").count() === 0L)
  }

  test("pageRank: star center out-ranks leaves, mass stays bounded") {
    val leaves = (1L to 8L)
    val edges = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L))).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iterations = 6)
      .as[(Long, Long)].collect().toMap
    assert(leaves.forall(l => r(0L) > r(l)), s"center must dominate: $r")
    assert(leaves.map(r).distinct.size === 1, "leaves are symmetric, ranks equal")
    // total mass stays near N * 1e6 (floor-division loss only shrinks it)
    val total = r.values.sum
    assert(total <= 9L * 1000000L && total > 8L * 1000000L, s"mass $total")
  }

  test("containmentPairs: embedded quote scores full containment, low jaccard") {
    // doc 10 is a strict prefix of doc 11 (a quote embedded in a longer
    // doc): containment of the short side must be 1000 while symmetric
    // jaccard stays well below — the relation this operator exists for
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val host = quote + " " + (1 to 30).map(i => s"filler$i").mkString(" ")
    val cd = Seq((10L, quote, "s"), (11L, host, "s"), (12L, unrelated, "s"))
      .toDF("doc_id", "text", "source")
    val rows = Dedup.containmentPairs(cd, "text", "doc_id",
      n = 3, minContainMilli = 300, maxShingleDf = 50)
      .select("a", "b", "inter", "na", "nb", "contain_a_milli", "contain_b_milli")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val pair = rows.find(r => r._1 == 10L && r._2 == 11L)
    assert(pair.isDefined, s"expected (10,11) in ${rows.toSeq}")
    val (_, _, inter, na, _, ca, cb) = pair.get
    assert(ca === 1000L, s"short side must be fully contained: $pair")
    assert(inter === na)
    assert(cb < 300L, s"host containment must stay low: $pair")
    // symmetric jaccard would have missed it at the same bar
    assert(inter * 1000 / (na + pair.get._5 - inter) < 300)
    assert(!rows.exists(r => r._1 == 12L || r._2 == 12L))
  }

  test("minhash LSH finds the near-dup pair and verifies its jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 300)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ab = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(ab.isDefined, s"expected (0,1) pair in ${pairs.toSeq}")
    assert(ab.get._3 > 300L && ab.get._3 < 1000L)
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 1000L))
  }

  test("crossSourceDupMatrix counts straddling pairs per unordered source pair") {
    // src0: base + exact dup (intra pair); src1: near-dup of base (cross
    // pair x2 — vs both src0 copies); src2: unrelated (no pairs)
    val d = Seq(
      (0L, base, "src0"), (1L, base, "src0"),
      (2L, nearDup, "src1"), (3L, unrelated, "src2"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.crossSourceDupMatrix(d, "text", "doc_id", "source",
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500)
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(m.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq(("src0", "src0", 1L), ("src0", "src1", 2L)))
    // the intra-src0 pair is an exact dup: mean jaccard is exactly 1000
    assert(m(0)._4 === 1000L)
    assert(m(1)._4 < 1000L && m(1)._4 >= 500L)
  }

  test("simhash: near-dups are close in hamming distance, unrelated far") {
    val fps = docs.withColumn("hs", Dedup.tokenHashes60(col("text")))
      .select(col("doc_id"), Dedup.simhash60FromHashes(col("hs")).as("f"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fps(0L) === fps(3L))
    assert(ham(fps(0L), fps(1L)) < ham(fps(0L), fps(2L)))
  }

  test("simhashPairsWide: pigeonhole-complete vs brute force; halves=1 == 60-bit") {
    // a corpus big enough for the bands to actually split work: 120 docs
    // in 2 blocks, every 10th doc a 1-token edit of its predecessor
    val wide = (0L until 120L).map { i =>
      val cid = if (i % 10 == 0 && i > 0) i - 1 else i
      val tail = if (cid == i) "" else " edited"
      (i, s"blk${i % 2}",
        (0 until 30).map(j => s"tok${(cid * 31 + j * 7) % 97}").mkString(" ") + tail)
    }.toDF("doc_id", "source", "text")

    def brute(halves: Int): Set[(Long, Long, Long)] = {
      val f = wide.withColumn("_toks", graft.functions.TextAnalysis.tokens(col("text")))
        .select(col("doc_id"), col("source"),
          Dedup.simhashWideFromTokens(col("_toks"), halves).as("shs"))
      f.as("x").join(f.as("y"),
          col("x.source") === col("y.source") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id"),
          (0 until halves).map(h => bit_count(element_at(col("x.shs"), h + 1)
            .bitwiseXOR(element_at(col("y.shs"), h + 1)))).reduce(_ + _).cast("long"))
        .as[(Long, Long, Long)].collect().filter(_._3 <= 10).toSet
    }

    for (halves <- Seq(1, 2, 3)) {
      val banded = Dedup.simhashPairsWide(wide, "text", "doc_id", "source",
        maxHamming = 10, halves = halves)
        .as[(Long, Long, Long)].collect().toSet
      assert(banded === brute(halves),
        s"banding must lose nothing vs all-pairs at halves=$halves")
      assert(banded.nonEmpty, "fixture must contain near-dups")
    }

    // halves=1 is exactly the 60-bit operator's semantics
    val h1 = Dedup.simhashPairsWide(wide, "text", "doc_id", "source",
      maxHamming = 10, halves = 1).as[(Long, Long, Long)].collect().toSet
    val h60 = Dedup.simhashPairs(wide, "text", "doc_id", "source", maxHamming = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(h1 === h60)
  }

  test("brute-force top-k: identical vector ranks first with cosine 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.9f, 0.1f, 0.0f)),
      (12L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "vec")
    val queries = vecs.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val top = Similarity.bruteForceTopK(queries, vecs, 3)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("vec_id")).toSeq === Seq(10L, 11L, 12L))
    assert(top.head.getAs[Long]("score_q4") === 10000L)
  }

  test("IVF top-k achieves full recall on small corpus with enough probes") {
    val dim = 8
    def vec(seed: Int) = Array.tabulate(dim)(i =>
      (math.sin(seed * 31 + i).toFloat))
    val corpus = (0L until 40L).map(i => (i, vec(i.toInt))).toDF("vec_id", "vec")
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val brute = Similarity.bruteForceTopK(queries, corpus, 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, corpus, 3, centroidEvery = 10, nprobe = 4)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(ivf === brute) // nprobe = all cells -> exact
  }

  test("priorityResolvedGroups keeps the most-trusted source copy, then min id") {
    val dupDocs = Seq(
      (5L, "same text", "crawl"), (3L, "same text", "wiki"),
      (9L, "same text", "crawl"),
      (7L, "other", "crawl"), (8L, "other", "crawl"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.priorityResolvedGroups(dupDocs, "text", "doc_id", "source",
      Map("wiki" -> 0), defaultRank = 9)
      .select("keep_id", "keep_source", "n")
      .as[(Long, String, Long)].collect().toSet
    // wiki beats crawl despite the larger ids present; pure-crawl group
    // falls back to min id
    assert(got === Set((3L, "wiki", 3L), (7L, "crawl", 2L)))
  }

  test("semDedupKeep prunes within-cell near-dups down to the min representative") {
    // two tight clusters around orthogonal axes + one isolated vector;
    // centroids = the axis vectors themselves, so assignment is exact
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.01f)), (2L, Array(1.0f, 0.0f, 0.02f)),
      (3L, Array(0.99f, 0.0f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.01f)), (11L, Array(0.0f, 1.0f, 0.02f)),
      (20L, Array(0.0f, 0.0f, -1.0f))).toDF("vec_id", "vec")
    val centroids = Seq(
      (100L, Seq(1.0, 0.0, 0.0), 1.0),
      (200L, Seq(0.0, 1.0, 0.0), 1.0),
      (300L, Seq(0.0, 0.0, -1.0), 1.0)).toDF("cid", "cd", "cn")
    val got = Similarity.semDedupKeep(corpus, centroids, minScoreQ4 = 9990L)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // cluster 100: 1,2,3 all mutually >0.999 cosine -> keep only min id 1
    // cluster 200: 10,11 near-dup -> keep 10; singleton 20 kept
    assert(got.map(t => t._1 -> t._3).toMap ===
      Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 10L -> 1L, 11L -> 0L, 20L -> 1L))
    assert(got.map(_._2).toSeq === Seq(100L, 100L, 100L, 200L, 200L, 300L))
  }

  test("diversitySample keeps the farthest-from-centroid half, one per cell minimum") {
    // cell 100: four vectors at decreasing cosine to the x-axis centroid;
    // cell 200: a singleton (must survive via the at-least-one rule)
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),    // proto (cos 1.0) — dropped
      (2L, Array(1.0f, 0.1f, 0.0f)),    // near-proto — dropped
      (3L, Array(1.0f, 0.4f, 0.0f)),    // diverse — kept
      (4L, Array(1.0f, 0.9f, 0.0f)),    // most diverse — kept
      (20L, Array(0.0f, 0.0f, 1.0f)))   // singleton cell — kept (rn=1)
      .toDF("vec_id", "vec")
    val centroids = Seq(
      (100L, Seq(1.0, 0.0, 0.0), 1.0),
      (200L, Seq(0.0, 0.0, 1.0), 1.0)).toDF("cid", "cd", "cn")
    val got = Similarity.diversitySample(corpus, centroids, keepPermille = 500)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(t => t._1 -> t._4).toMap ===
      Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 20L -> 1L))
    assert(got.map(_._2).toSeq === Seq(100L, 100L, 100L, 100L, 200L))
    // prototypicality is the quantized cosine to the OWN centroid,
    // descending with the planted angles
    val proto = got.map(t => t._1 -> t._3).toMap
    assert(proto(1L) > proto(2L) && proto(2L) > proto(3L) && proto(3L) > proto(4L))
  }

  test("duplicateShingleProfile separates template, half-template and unique docs") {
    val tpl = "one two three four five six seven eight"
    val docs = Seq(
      (1L, tpl),                                   // pure template (x2)
      (2L, tpl),
      (3L, tpl + " unique tail nine ten eleven twelve thirteen fourteen"),
      (4L, "wholly distinct words without any overlap whatsoever here"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateShingleProfile(docs, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(1L)._4 === 1000L)          // every shingle duplicated
    assert(byId(2L)._4 === 1000L)
    assert(byId(3L)._4 > 0L && byId(3L)._4 < 1000L) // mixed doc
    assert(byId(4L)._4 === 0L)             // fully unique
    // doc 3 shares exactly the 6 template trigrams of an 8-token prefix
    assert(byId(3L)._3 === 6L)
  }

  test("removeDuplicateSpans cuts shared spans everywhere but the min-id doc") {
    val docs = Seq(
      (1L, "a b c d e"),            // keeper of the shared span
      (2L, "x y a b c d z"),        // loses tokens covered by dup windows
      (3L, "p q"))                  // shorter than n: untouched
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    // doc 2's dup windows are "a b c" (start 3) and "b c d" (start 4),
    // covering tokens 3..6 ("a b c d"); doc 1 keeps its copy intact.
    assert(got === Seq(
      (1L, 5L, 5L, "a b c d e"),
      (2L, 7L, 3L, "x y z"),
      (3L, 2L, 2L, "p q")))
  }

  test("removeDuplicateSpans keeps exactly one copy among identical docs") {
    val tpl = "one two three four five"
    val docs = Seq((7L, tpl), (8L, tpl), (9L, tpl)).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (7L, 5L, 5L, tpl),
      (8L, 5L, 0L, ""),
      (9L, 5L, 0L, "")))
  }

  test("bm25Search: rare terms dominate, tf saturates, non-matches absent") {
    val dd = (Seq(
      (1L, "alpha alpha alpha alpha"),                       // common term only
      (2L, "zeta one two three"),                            // single rare term
      (3L, "zeta zeta zeta zeta zeta zeta zeta zeta"),       // rare term spammed
      (4L, "gamma delta")) ++                                // no query terms
      (10L to 29L).map(i => (i, "alpha filler words here"))) // alpha is common
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(dd, "text", "doc_id",
      Seq("alpha", "zeta"), topK = 30).as[(Long, Long)].collect()
    val score = got.toMap
    val order = got.map(_._1)
    assert(!score.contains(4L), "docs without query terms never appear")
    assert(order.indexOf(2L) < order.indexOf(1L),
      "one rare zeta outranks a doc of common alphas (idf dominance)")
    // tf saturation: 8x the term must score more than 1x, but nowhere
    // near 8x more (k1 caps the tf contribution)
    assert(score(3L) > score(2L))
    assert(score(3L) < 3 * score(2L), s"saturation: ${score(3L)} vs ${score(2L)}")
  }

  test("bm25SearchFromIndex: identical ranking, bucket-pruned postings read") {
    val dd = (0L until 200L).map { i =>
      val rare = if (i % 40 == 0) " zeta" else ""
      (i, s"alpha filler words w${i % 7} w${i % 13} here$rare")
    }.toDF("doc_id", "text")
    val direct = TextAnalysis.bm25Search(dd, "text", "doc_id",
      Seq("alpha", "zeta"), topK = 25).as[(Long, Long)].collect().toSeq

    val idx = tempDir("graft-inv").toString
    TextAnalysis.writeInvertedIndex(dd, "text", "doc_id", idx, buckets = 16)
    val fromIndex = TextAnalysis.bm25SearchFromIndex(spark, idx,
      Seq("alpha", "zeta"), topK = 25)
    assert(fromIndex.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === direct)

    // the two query terms' buckets prune the postings partitions — inspect
    // a fresh (unexecuted) plan: AQE stage-wraps scans after execution
    val probe = TextAnalysis.bm25SearchFromIndex(spark, idx,
      Seq("alpha", "zeta"), topK = 25)
    val phys = probe.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = phys.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("postings")) => f
    }.getOrElse(fail("no postings scan in plan"))
    assert(scan.partitionFilters.nonEmpty,
      "query-term buckets must prune index partitions at the scan")
    val totalBuckets = new java.io.File(s"$idx/postings").listFiles()
      .count(_.getName.startsWith("bucket="))
    val readBuckets = scan.selectedPartitions.partitionCount
    assert(readBuckets > 0 && readBuckets <= 2 && totalBuckets > 4,
      s"read $readBuckets of $totalBuckets buckets")
  }

  test("appendToInvertedIndex: ranking after appends is identical to the " +
      "one-shot rebuild; a replayed batch is a no-op; a bucket mismatch " +
      "fails fast") {
    val all = (0L until 300L).map { i =>
      val rare = if (i % 40 == 0) " zeta" else ""
      (i, s"alpha filler words w${i % 7} w${i % 13} here$rare")
    }.toDF("doc_id", "text")
    val base = all.filter(col("doc_id") < 200)
    val b1 = all.filter(col("doc_id") >= 200 && col("doc_id") < 250)
    val b2 = all.filter(col("doc_id") >= 250)
    val q = Seq("alpha", "zeta")
    def rank(path: String) = TextAnalysis.bm25SearchFromIndex(spark, path, q,
      topK = 25).as[(Long, Long)].collect().toSeq
    // one-shot rebuild over everything = the reference ranking
    val full = tempDir("graft-inv-full").toString
    TextAnalysis.writeInvertedIndex(all, "text", "doc_id", full, buckets = 16)
    val idx = tempDir("graft-inv-app").toString
    TextAnalysis.writeInvertedIndex(base, "text", "doc_id", idx, buckets = 16)
    TextAnalysis.appendToInvertedIndex(b1, "text", "doc_id", idx, buckets = 16,
      batchId = Some(0L))
    TextAnalysis.appendToInvertedIndex(b2, "text", "doc_id", idx, buckets = 16,
      batchId = Some(1L))
    // nothing is frozen: df recomputes live from the unioned postings and
    // the stats rows SUM to the exact corpus (n, tot) — appended ranking
    // must equal the rebuild bit-for-bit, not merely approximately
    assert(TextAnalysis.readIndexStats(spark, idx) ===
      TextAnalysis.readIndexStats(spark, full))
    assert(rank(idx) === rank(full),
      "appended-index ranking diverges from the one-shot rebuild")
    // replay batch 1 (foreachBatch at-least-once): overwrites its own
    // batch partitions — ranking and stats unchanged
    TextAnalysis.appendToInvertedIndex(b2, "text", "doc_id", idx, buckets = 16,
      batchId = Some(1L))
    assert(rank(idx) === rank(full), "replayed append changed the ranking")
    assert(TextAnalysis.readIndexStats(spark, idx) ===
      TextAnalysis.readIndexStats(spark, full),
      "replayed append double-counted the stats")
    // an append with a different bucket count would route postings where
    // query-time pruning never looks — must fail loudly, not corrupt
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.appendToInvertedIndex(b2, "text", "doc_id", idx, buckets = 32,
        batchId = Some(2L))
    }
    assert(ex.getMessage.contains("buckets"))
  }

  test("one-pass index builds land exactly the reference tables — " +
      "postings+stats vs a plain tokenize, bands+shingles vs bandKeys / " +
      "withHashedShingles, base build AND append, including token-less " +
      "docs (count toward n, hold no postings)") {
    val docs = (0L until 120L).map { i =>
      val rare = if (i % 20 == 0) " zeta" else ""
      // every 37th doc tokenizes to NOTHING — the n-vs-postings edge
      val text = if (i % 37 == 0) ""
        else s"alpha filler words w${i % 7} w${i % 11} here$rare"
      (i, text)
    }
    val all = docs.toDF("doc_id", "text")
    val base = all.filter(col("doc_id") < 80)
    val b1 = all.filter(col("doc_id") >= 80)
    def batchOf(id: Long): Long = if (id < 80) IndexLayout.BaseBatch else 0L
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def read(path: String, cols: Seq[String]): Seq[String] =
      rows(spark.read.parquet(path).select(cols.map(col): _*))
    // bucket of a 12-hex-digit hash prefix, computed outside Spark
    def bucketOfHex(hex: String): Long = java.lang.Long.parseLong(hex.take(12), 16) % 8
    def md5Hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

    // inverted index vs a plain-Scala tokenize of the same 120 docs
    val inv = tempDir("graft-op-inv").toString
    TextAnalysis.writeInvertedIndex(base, "text", "doc_id", inv, buckets = 8)
    TextAnalysis.appendToInvertedIndex(b1, "text", "doc_id", inv,
      buckets = 8, batchId = Some(0L))
    val toks = docs.map { case (id, text) =>
      id -> text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
    assert(toks.count(_._2.isEmpty) === 4, "fixture lost its token-less docs")
    val refPostings = toks.flatMap { case (id, ts) =>
      ts.groupBy(identity).toSeq.map { case (t, occ) =>
        (id, t, occ.size.toLong, ts.size.toLong, bucketOfHex(md5Hex(t)), batchOf(id))
      }
    }.toDF("doc_id", "t", "tf", "len", "bucket", "batch")
    val postingCols = Seq("doc_id", "t", "tf", "len", "bucket", "batch")
    assert(read(s"$inv/postings", postingCols) ===
      rows(refPostings.select(postingCols.map(col): _*)),
      "postings diverged from the plain tokenize")
    val refStats = toks.groupBy { case (id, _) => batchOf(id) }.toSeq
      .map { case (b, ds) => (ds.size.toLong, ds.map(_._2.size.toLong).sum, 8L, b) }
      .toDF("n", "tot", "buckets", "batch")
    assert(read(s"$inv/stats", Seq("n", "tot", "buckets", "batch")) === rows(refStats),
      "stats diverged from the plain tokenize (token-less docs count toward n)")

    // LSH index vs bandKeys / withHashedShingles over the same docs
    val lsh = tempDir("graft-op-lsh").toString
    Dedup.writeLshIndex(base, "text", "doc_id", lsh,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 8)
    Dedup.appendToLshIndex(b1, "text", "doc_id", lsh,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 8, batchId = Some(0L))
    val slices = Seq(base -> IndexLayout.BaseBatch, b1 -> 0L)
    val refBands = slices.map { case (df, b) =>
      Dedup.bandKeys(df, "text", "doc_id", n = 3, bands = 4, rowsPerBand = 4)
        .select(col("doc"), col("band"), col("bh"), lit(b).as("batch"))
    }.reduce(_ unionAll _)
    assert(read(s"$lsh/bands", Seq("doc", "band", "bh", "batch")) === rows(refBands),
      "bands diverged from bandKeys")
    val bucketed = spark.read.parquet(s"$lsh/bands")
      .select(col("bh"), col("bucket").cast("long")).as[(String, Long)].collect()
    assert(bucketed.nonEmpty && bucketed.forall { case (bh, k) => k == bucketOfHex(bh) },
      "a band row landed outside its bh-prefix bucket")
    val refShingles = slices.map { case (df, b) =>
      Dedup.withHashedShingles(df, "text", 3, "sh")
        .select(col("doc_id").as("doc"), col("sh"), lit(b).as("batch"))
        .filter(size(col("sh")) > 0)
    }.reduce(_ unionAll _)
    assert(read(s"$lsh/shingles", Seq("doc", "sh", "batch")) === rows(refShingles),
      "shingles diverged from withHashedShingles")
  }

  test("appendToInvertedIndex crash window: orphan postings (no stats " +
      "commit marker) are invisible to search; replaying the batch id " +
      "heals; a pre-batch flat layout fails fast instead of corrupting") {
    val all = (0L until 120L).map { i =>
      val rare = if (i % 30 == 0) " zeta" else ""
      (i, s"alpha filler words w${i % 7} here$rare")
    }.toDF("doc_id", "text")
    val base = all.filter(col("doc_id") < 100)
    val b1 = all.filter(col("doc_id") >= 100)
    val q = Seq("alpha", "zeta")
    def rank(path: String) = TextAnalysis.bm25SearchFromIndex(spark, path, q,
      topK = 20).as[(Long, Long)].collect().toSeq
    val baseOnly = tempDir("graft-inv-b").toString
    TextAnalysis.writeInvertedIndex(base, "text", "doc_id", baseOnly, buckets = 16)
    val full = tempDir("graft-inv-f").toString
    TextAnalysis.writeInvertedIndex(all, "text", "doc_id", full, buckets = 16)

    val idx = tempDir("graft-inv-c").toString
    TextAnalysis.writeInvertedIndex(base, "text", "doc_id", idx, buckets = 16)
    TextAnalysis.appendToInvertedIndex(b1, "text", "doc_id", idx, buckets = 16,
      batchId = Some(5L))
    // simulate the crash between the postings write and the stats write:
    // batch 5's postings are live on disk but its commit marker is gone
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$idx/stats/batch=5"))
    assert(TextAnalysis.committedBatchIds(spark, idx).sorted === Seq(-1L))
    assert(rank(idx) === rank(baseOnly),
      "orphan postings leaked into scoring: tf/df counted docs the " +
        "corpus stats exclude")
    // at-least-once replay of the same batch id replaces the orphans and
    // commits — the index now equals the one-shot rebuild
    TextAnalysis.appendToInvertedIndex(b1, "text", "doc_id", idx, buckets = 16,
      batchId = Some(5L))
    assert(rank(idx) === rank(full), "replayed batch did not heal the orphan")
    assert(TextAnalysis.readIndexStats(spark, idx) ===
      TextAnalysis.readIndexStats(spark, full))

    // pre-batch-convention layout: postings under flat bucket=K/ with no
    // batch level — an append would write a mixed-depth partition tree
    // that bricks partition discovery for the whole index. Must refuse.
    val old = tempDir("graft-inv-old").toString
    base.select(col("doc_id"), lit("alpha").as("t"), lit(1L).as("tf"),
        lit(5L).as("len"), pmod(col("doc_id"), lit(16)).as("bucket"))
      .write.partitionBy("bucket").parquet(s"$old/postings")
    val ex2 = intercept[IllegalArgumentException] {
      TextAnalysis.appendToInvertedIndex(b1, "text", "doc_id", old, buckets = 16,
        batchId = Some(0L))
    }
    assert(ex2.getMessage.contains("predates"))
    Seq(baseOnly, full, idx, old).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("compactInvertedIndex refuses an orphan postings batch; " +
      "reclaimOrphans = true drops it and search equals a clean index") {
    val all = (0L until 120L).map { i =>
      val rare = if (i % 30 == 0) " zeta" else ""
      (i, s"alpha filler words w${i % 7} here$rare")
    }.toDF("doc_id", "text")
    val base = all.filter(col("doc_id") < 100)
    val q = Seq("alpha", "zeta")
    def rank(path: String) = TextAnalysis.bm25SearchFromIndex(spark, path, q,
      topK = 20).as[(Long, Long)].collect().toSeq
    val clean = tempDir("graft-inv-cl").toString
    TextAnalysis.writeInvertedIndex(base, "text", "doc_id", clean, buckets = 16)
    val idx = tempDir("graft-inv-or").toString
    TextAnalysis.writeInvertedIndex(base, "text", "doc_id", idx, buckets = 16)
    TextAnalysis.appendToInvertedIndex(all.filter(col("doc_id") >= 100),
      "text", "doc_id", idx, buckets = 16, batchId = Some(5L))
    // a crashed append: batch 5's postings are on disk, its commit is not
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$idx/stats/batch=5"))
    def orphanDirs(): Int = new java.io.File(s"$idx/postings").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).count(_.getName == "batch=5")
    assert(orphanDirs() > 0)
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.compactInvertedIndex(spark, idx)
    }
    assert(ex.getMessage.contains("UNCOMMITTED postings batches 5"), ex.getMessage)
    assert(orphanDirs() > 0, "the refused compaction touched the orphan batch")
    TextAnalysis.compactInvertedIndex(spark, idx, reclaimOrphans = true)
    assert(orphanDirs() === 0, "the reclaiming compaction kept the orphan batch")
    assert(rank(idx) === rank(clean))
    Seq(clean, idx).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("nearDupsAgainstIndex finds new-vs-corpus near-dups from the index alone") {
    val tpl = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, tpl),
      (2L, "completely different text with other words entirely disjoint tokens here"),
      (3L, "yet another unrelated document about mountains rivers and weather"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-lsh-idx").toString
    Dedup.writeLshIndex(corpus, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16)

    val fresh = Seq(
      (10L, tpl.replace("today", "tonight")),  // near-dup of corpus doc 1
      (11L, "brand new content sharing nothing with the indexed corpus at all"))
      .toDF("doc_id", "text")
    val got = Dedup.nearDupsAgainstIndex(spark, fresh, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500, buckets = 16)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) === Seq((10L, 1L)),
      s"expected exactly the planted near-dup, got $got")
    assert(got.head._3 >= 700L, s"1-word-edit jaccard, got ${got.head._3}")

    // the expected pairing matches the pure-batch operator on the union
    val unionPairs = Dedup.minhashLshPairs(corpus.union(fresh), "text", "doc_id",
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500)
      .as[(Long, Long, Long)].collect().toSeq
    assert(unionPairs.map(t => (t._1, t._2)) === Seq((1L, 10L)))
    assert(unionPairs.head._3 === got.head._3, "identical exact-Jaccard verdict")
  }

  test("index appends are idempotent per batch id (foreachBatch replay)") {
    // LSH: replaying the same batch id must not duplicate band/shingle
    // rows (a duplicate shingle row would yield duplicate near-dup pairs)
    val corpus = Seq(
      (1L, "seed corpus document about entirely unrelated matters and topics"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-lsh-replay").toString
    Dedup.writeLshIndex(corpus, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    Dedup.appendToLshIndex(batch, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16, batchId = Some(0L))
    val once = spark.read.parquet(s"$idx/bands").orderBy("doc", "band")
      .select("doc", "band", "bh").as[(Long, Long, String)].collect().toSeq
    val shOnce = spark.read.parquet(s"$idx/shingles").count()
    // the at-least-once retry: same batch id, same (re-derived) rows
    Dedup.appendToLshIndex(batch, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16, batchId = Some(0L))
    val twice = spark.read.parquet(s"$idx/bands").orderBy("doc", "band")
      .select("doc", "band", "bh").as[(Long, Long, String)].collect().toSeq
    assert(twice === once, "replayed batch must not duplicate band rows")
    assert(spark.read.parquet(s"$idx/shingles").count() === shOnce)
    // ...and a DISTINCT batch id still accumulates (it is an append)
    Dedup.appendToLshIndex(
      Seq((11L, "wholly new content sharing nothing with anything indexed before"))
        .toDF("doc_id", "text"),
      "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16, batchId = Some(1L))
    assert(spark.read.parquet(s"$idx/shingles").select("doc")
      .as[Long].collect().toSet === Set(1L, 10L, 11L))

    // IVF+PQ: duplicate codes would distort ADC top-k the same way
    val vecs = (0L until 40L).map { id =>
      (id, Array.tabulate(16)(i => (if (i / 4 == (id % 4).toInt) 5.0f else 0.1f)
        + ((id * 37 + i * 13) % 29) / 40.0f))
    }
    val base = vecs.filter(_._1 < 30).toDF("vec_id", "vec")
    val later = vecs.filter(_._1 >= 30).toDF("vec_id", "vec")
    val pqIdx = tempDir("graft-pq-replay").toString
    Similarity.writeIvfPqIndex(base, pqIdx, centroidEvery = 10, m = 4, dim = 16)
    Similarity.appendToIvfPqIndex(base, later, pqIdx,
      centroidEvery = 10, m = 4, dim = 16, batchId = Some(0L))
    val pqOnce = spark.read.parquet(pqIdx)
      .select("cell", "vec_id", "j", "code")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    Similarity.appendToIvfPqIndex(base, later, pqIdx,
      centroidEvery = 10, m = 4, dim = 16, batchId = Some(0L))
    val pqTwice = spark.read.parquet(pqIdx)
      .select("cell", "vec_id", "j", "code")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(pqTwice === pqOnce, "replayed append must not duplicate PQ codes")
  }

  test("nearDupsAgainstIndex replay is deterministic when excluding the own batch") {
    // the at-least-once hazard: attempt 1 commits its index append but the
    // checkpoint is lost; the replay re-derives the dup verdicts — if it
    // can see the batch's OWN index rows, an intra-batch near-dup pair is
    // suddenly flagged against its indexed copy and the verdicts diverge
    val tpl = "the quick brown fox jumps over the lazy dog again and again today"
    val idx = tempDir("graft-lsh-det").toString
    Dedup.writeLshIndex(
      Seq((1L, "seed corpus document about entirely unrelated matters and topics"))
        .toDF("doc_id", "text"),
      "text", "doc_id", idx, n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    // docs 30/31 are intra-batch near-dups (clean vs the pre-batch index:
    // both enter — the documented batch-tier responsibility); 32 is fresh
    val batch = Seq(
      (30L, tpl), (31L, tpl.replace("today", "tonight")),
      (32L, "wholly new content sharing nothing with anything indexed before"))
      .toDF("doc_id", "text")

    def verdicts(exclude: Option[Long]) =
      Dedup.nearDupsAgainstIndex(spark, batch, "text", "doc_id", idx,
        n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500, buckets = 16,
        excludeBatchId = exclude)
        .as[(Long, Long, Long)].collect().toSeq.sorted

    val attempt1 = verdicts(Some(7L))
    assert(attempt1.isEmpty, s"clean vs the seed index, got $attempt1")
    Dedup.appendToLshIndex(batch, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16, batchId = Some(7L))

    // replay AFTER the append committed: same verdicts as attempt 1
    assert(verdicts(Some(7L)) === attempt1,
      "replay must score against exactly the index attempt 1 saw")
    // ...and the hazard is real: without the exclusion the replay would
    // flag 30/31 against their own indexed copies
    assert(verdicts(None).nonEmpty,
      "fixture must actually exercise the own-rows hazard")

    // the replayed append then reproduces identical index contents
    val once = spark.read.parquet(s"$idx/shingles").select("doc")
      .as[Long].collect().toSet
    Dedup.appendToLshIndex(batch, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16, batchId = Some(7L))
    assert(spark.read.parquet(s"$idx/shingles").select("doc")
      .as[Long].collect().toSet === once)
    assert(once === Set(1L, 30L, 31L, 32L))
  }

  test("int8 index: from-index ranking == one-shot; appends idempotent; codes smaller") {
    // near-unique float values (realistic embeddings don't dictionary-
    // encode; a handful of repeated values would, and the size claim is
    // about real float payloads)
    val vecs = (0L until 1000L).map { id =>
      (id, Array.tabulate(64)(i =>
        (((id * 2654435761L + i * 40503L) % 100003L) / 50000.0f) - 1.0f))
    }
    val corpus = vecs.filter(_._1 < 800L).toDF("vec_id", "vec").coalesce(1)
    val later = vecs.filter(_._1 >= 800L).toDF("vec_id", "vec").coalesce(1)
    val all = vecs.toDF("vec_id", "vec").coalesce(1)
    val queries = vecs.take(5).toDF("qid", "qvec")
    val idx = tempDir("graft-int8").toString

    Similarity.writeInt8Index(corpus, idx)
    Similarity.appendToInt8Index(later, idx, batchId = Some(0L))
    // replay must not duplicate codes (duplicates distort every top-k)
    Similarity.appendToInt8Index(later, idx, batchId = Some(0L))
    assert(spark.read.parquet(idx).count() === 1000L)

    val fromIdx = Similarity.int8TopKFromIndex(spark, queries, idx, k = 5)
      .select("qid", "vec_id", "score_q", "rank")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val oneShot = Similarity.int8TopK(queries, all, k = 5)
      .select("qid", "vec_id", "score_q", "rank")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(fromIdx === oneShot && fromIdx.nonEmpty,
      "materialized-index search must rank identically to the one-shot form")

    // the compressed-scan claim, measured: the codes layout bit-packs
    // below the float bytes it replaces
    val floats = tempDir("graft-int8f").toString
    all.write.mode("overwrite").parquet(floats)
    def bytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(p))
    }
    assert(bytes(idx) < bytes(floats),
      s"codes ${bytes(idx)}B must scan smaller than floats ${bytes(floats)}B")
  }

  test("bpeTrain learns the textbook merges on the low/lower corpus") {
    // Sennrich et al.'s classic example: low x3, lower x2, newest x1
    val docs = Seq((1L, "low low low"), (2L, "lower lower newest"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, "text", merges = 4)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "l", "o", "lo", 5L),        // (l,o) ties (o,w) at 5 -> lhs asc
      (2L, "lo", "w", "low", 5L),
      (3L, "low", "</w>", "low</w>", 3L),
      (4L, "e", "r", "er", 2L)))       // 3-way tie at 2 -> "e" smallest
  }

  test("bpeTrain merges consecutive occurrences within one round") {
    // "x x x x" pairs (x,x): the two-pass padded replace must fuse BOTH
    // disjoint occurrences in the round that picks (x,x)
    val docs = Seq((1L, "xxxx xxxx")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, "text", merges = 2)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // round 1: (x,x) count 6 (3 overlapping adjacencies x 2 occurrences)
    assert(got.head === ((1L, "x", "x", "xx", 6L)))
    // round 2 must see "xx xx </w>" per word (BOTH disjoint pairs fused;
    // a one-pass replace would leave "xx x x </w>" and a (x,*) pair
    // would win): (xx,xx) ties (xx,</w>) at 2, "</w>" < "xx" binary
    assert((got(1)._2, got(1)._3) === (("xx", "</w>")))
  }

  test("bpeEncode applies the trained merges; train+encode round-trip") {
    val docs = Seq((1L, "low low low"), (2L, "lower lower newest"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, "text", merges = 4)
      .as[(Long, String, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    val enc = TextAnalysis.bpeEncode(
      Seq((1L, "low lower")).toDF("doc_id", "text"), "text", merges)
      .select("bpe_syms").as[Seq[String]].head()
    // "low" -> low</w>; "lower" -> low er </w> under merges
    // (l,o)(lo,w)(low,</w>)(e,r)
    assert(enc === Seq("low</w>", "low", "er", "</w>"))
    // unseen characters fall back to char symbols
    val enc2 = TextAnalysis.bpeEncode(
      Seq((1L, "zq")).toDF("doc_id", "text"), "text", merges)
      .select("bpe_syms").as[Seq[String]].head()
    assert(enc2 === Seq("z", "q", "</w>"))
  }

  test("collocationsPmi: bound pairs beat chance pairs, log identity holds") {
    // "new" and "york" ONLY occur together; "the" pairs with everything
    val docs = (0L until 40L).map { i =>
      (i, s"the w${i % 8} new york the w${(i + 3) % 8} visited")
    }.toDF("doc_id", "text")
    val got = TextAnalysis.collocationsPmi(docs, "text", "doc_id",
      minCount = 5L, topK = 50)
      .as[(String, String, Long, Long)].collect()
    val byPair = got.map(r => (r._1, r._2) -> r._4).toMap
    assert(byPair.contains(("new", "york")))
    // perfectly-bound pair: p(ab)=p(a)=p(b) -> pmi = log2(tu^2/(tb*cab));
    // with 40 docs x 7 tokens: tu=280, tb=240, cab=40 -> pmi ~ log2(8.17)
    val pmiNy = byPair(("new", "york"))
    assert(pmiNy > 3L * 1024L && pmiNy < 3200L, s"got $pmiNy")
    // "the"->"w*" pairs are chance-level: strictly below the bound pair
    assert(got.filter(_._1 == "the").forall(_._4 < pmiNy))
    // ranked first
    assert((got.head._1, got.head._2) === ("new", "york"))
  }

  test("lmSurprisalScore: corpus-common text scores low, gibberish high") {
    // 9 docs of ordinary repeated English fix the trigram model; one doc
    // of rare-character junk must stand out with a higher avg surprisal
    val common = "the cat sat on the mat and the dog sat on the log"
    val docs = ((1L to 9L).map(i => (i, common + " round " + i)) :+
      (10L, "zqxj#7 vkw@9 qzp!3 xjq%5 wvk^1")).toDF("doc_id", "text")
    val got = TextAnalysis.lmSurprisalScore(docs, "text", "doc_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length === 10)
    val commonAvg = got.filter(_._1 <= 9).map(_._3)
    val junk = got.find(_._1 === 10L).get._3
    // all junk trigrams are singletons -> ~log2(total) bits each; the
    // common docs sit several bits lower. 3 bits = 3072 q10 of headroom.
    assert(junk > commonAvg.max + 3072,
      s"junk surprisal $junk should dominate common ${commonAvg.max}")
    // short docs (<3 chars) drop out instead of crashing sequence(1, 0)
    val tiny = Seq((1L, "ab"), (2L, "abcd")).toDF("doc_id", "text")
    val t = TextAnalysis.lmSurprisalScore(tiny, "text", "doc_id")
      .as[(Long, Long, Long)].collect()
    assert(t.map(_._1).toSeq === Seq(2L))
    assert(t.head._2 === 2L) // "abc", "bcd"
  }

  test("text analysis: langid picks stopword-dominant language, quality bounded") {
    val t = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "le chat et le chien de la maison est pour"),
      (3L, "der hund und die katze ist ein mit von nicht"))
      .toDF("doc_id", "text")
    val got = t.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "fr", 3L -> "de"))
    val q = t.select(TextAnalysis.qualityMilli(col("text"))).as[Long].collect()
    assert(q.forall(v => v >= 0 && v <= 1000))
  }

  test("multimodal: stub decode is deterministic and frame sampling explodes") {
    val media = Multimodal.asMediaCorpus(docs, "doc_id", "text")
      .join(docs.select(col("doc_id").as("media_id"), col("text")), "media_id")
    val dec = Multimodal.stubDecode(media, col("text"))
    val d1 = dec.select("media_id", "width", "height", "n_frames").collect().toSet
    val d2 = dec.select("media_id", "width", "height", "n_frames").collect().toSet
    assert(d1 === d2)
    assert(dec.filter(col("width") < 64 || col("width") >= 512).count() === 0)
    val frames = Multimodal.sampleFrames(dec, everyN = 2)
    val nf = dec.select(sum(((col("n_frames") - 1) / 2).cast("long") + 1)).collect().head.getLong(0)
    assert(frames.count() === nf)
    // identical payloads (doc 0 and 3) decode identically
    val byId = dec.select("media_id", "width").as[(Long, Long)].collect().toMap
    assert(byId(0L) === byId(3L))
  }

  test("minhashEstimatedPairs: exact dup estimates 1000, near-dup tracks exact") {
    val pairs = Dedup.minhashEstimatedPairs(docs, "text", "doc_id",
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 300)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("est_milli"), r.getAs[Long]("jaccard_milli"))).toMap
    val (estDup, exactDup) = pairs((0L, 3L)) // identical docs
    assert(estDup === 1000L && exactDup === 1000L)
    val (estNear, exactNear) = pairs((0L, 1L)) // 1-word edit
    assert(exactNear >= 300L && exactNear < 1000L)
    // a 16-hash estimator has ~sigma 125 milli; 400 is a >3-sigma bound
    assert(math.abs(estNear - exactNear) <= 400L)
  }

  test("pqEncode/adcTopK: seeds self-encode at zero residual, ADC finds clusters") {
    // 4 well-separated clusters in 16 dims, 100 vectors; the jitter
    // period (29) is coprime with the seed stride so no two seeds are
    // identical (identical seeds would tie at d=0 and the lower cid wins)
    val vecs = (0L until 100L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(16) { i =>
        val base = if (i / 4 == c) 5.0f else 0.1f
        base + ((id * 37 + i * 13) % 29) / 40.0f
      }
      (id, v)
    }
    val corpus = vecs.toDF("vec_id", "vec")
    val codes = Similarity.pqEncode(corpus, centroidEvery = 10, m = 4, dim = 16)
    assert(codes.count() === 100L * 4)
    // a seed vector's subvectors are IN the codebook: code = own id, d = 0
    val selfRows = codes.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "code", "d_q6").as[(Long, Long, Long)].collect()
    assert(selfRows.forall { case (id, code, d) => code === id && d === 0L })
    // ADC search: exact L2 top-5 per query (excluding self) vs ADC top-5
    val queries = vecs.take(8).toDF("qid", "qvec")
    val exact = (for {
      (qid, qv) <- vecs.take(8)
      top = vecs.filter(_._1 != qid)
        .map { case (id, v) =>
          (id, v.zip(qv).map { case (a, b) =>
            (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble) }.sum)
        }
        .sortBy { case (id, d2) => (d2, id) }.take(5)
      (id, _) <- top
    } yield (qid, id)).toSet
    val adc = Similarity.adcTopK(queries, corpus, k = 5,
      centroidEvery = 10, m = 4, dim = 16)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(adc.size === 8 * 5)
    // PQ keeps >= 60% of the exact-L2 top-k on clustered data (codes
    // collapse within-cluster detail by design; clusters never confuse)
    assert((exact intersect adc).size >= (0.6 * exact.size).toInt)
    // probing EVERY cell degenerates the IVF+PQ composite to pure ADC —
    // the cell pruning is the only difference between the two operators
    val ivfpqAll = Similarity.ivfPqTopK(queries, corpus, k = 5,
      centroidEvery = 10, nprobe = 10, m = 4, dim = 16)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(ivfpqAll === adc)
    // with few probes it returns a (possibly smaller) subset per query
    val ivfpq1 = Similarity.ivfPqTopK(queries, corpus, k = 5,
      centroidEvery = 10, nprobe = 2, m = 4, dim = 16)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(ivfpq1.nonEmpty && ivfpq1.length <= 8 * 5)

    // materialized index: same ranking, and the probe becomes a
    // partition filter on the codes read (unprobed cells never opened)
    val idx = tempDir("graft-ivfpq").toString
    Similarity.writeIvfPqIndex(corpus, idx, centroidEvery = 10, m = 4, dim = 16)
    val fromIndex = Similarity.ivfPqTopKFromIndex(spark, queries, corpus, idx,
      k = 5, centroidEvery = 10, nprobe = 2, m = 4, dim = 16)
    assert(fromIndex.select("qid", "vec_id", "adc_q6", "rank")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq ===
      Similarity.ivfPqTopK(queries, corpus, k = 5,
        centroidEvery = 10, nprobe = 2, m = 4, dim = 16)
        .select("qid", "vec_id", "adc_q6", "rank")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq)
    val phys = fromIndex.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = phys.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft-ivfpq")) => f
    }.getOrElse(fail("no index scan in plan"))
    assert(scan.partitionFilters.nonEmpty,
      "probed cells must prune index partitions at the scan")
  }

  test("int8TopK: searches the quantized index with high recall vs float") {
    // deterministic corpus: 100 vectors in 4 well-separated clusters
    val vecs = (0L until 100L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(16) { i =>
        val base = if (i / 4 == c) 5.0f else 0.1f
        base + ((id * 31 + i * 7) % 10) / 20.0f
      }
      (id, v)
    }
    val corpus = vecs.toDF("vec_id", "vec")
    val queries = vecs.take(8).map { case (id, v) => (id, v) }
      .toDF("qid", "qvec")
    // exact float INNER-PRODUCT top-5 (int8TopK is a MIPS index, so the
    // like-for-like baseline is IP ranking, not bruteForceTopK's cosine)
    val float = (for {
      (qid, qv) <- vecs.take(8)
      top = vecs.filter(_._1 != qid)
        .map { case (id, v) =>
          (id, v.zip(qv).map { case (a, b) => a.toDouble * b.toDouble }.sum)
        }
        .sortBy { case (id, ip) => (-ip, id) }.take(5)
      (id, _) <- top
    } yield (qid, id)).toSet
    val int8 = Similarity.int8TopK(queries, corpus, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(int8.size === 8 * 5)
    // quantized search keeps >= 80% of the exact-IP top-k on clustered data
    assert((float intersect int8).size >= (0.8 * float.size).toInt)
    // determinism across evaluations
    assert(Similarity.int8TopK(queries, corpus, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet === int8)
  }

  test("chunkTokenWindows: strides, truncated tail, empty doc, dedup digests") {
    val df = Seq(
      (0L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (1L, "a b c"),                                  // shorter than a window
      (2L, "   "),                                    // empty after tokenize
      (3L, (1 to 10).map(i => s"t$i").mkString(" "))) // duplicate of doc 0
      .toDF("doc_id", "text")
    val out = Curation.chunkTokenWindows(df, "text", "doc_id", window = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_tokens", "chunk_fp48")
      .as[(Long, Long, Long, Long, Long)].collect()
    // doc 0: starts 1,4,7,10 -> lengths 4,4,4,1 ; doc 1: starts 1 -> 3 tokens
    assert(out.filter(_._1 == 0L).map(r => (r._3, r._4)).toSeq ===
      Seq((1L, 4L), (4L, 4L), (7L, 4L), (10L, 1L)))
    assert(out.filter(_._1 == 1L).map(r => (r._3, r._4)).toSeq === Seq((1L, 3L)))
    assert(!out.exists(_._1 == 2L)) // empty doc yields no chunks
    // identical docs produce identical per-chunk digests (chunk-level dedup key)
    assert(out.filter(_._1 == 0L).map(_._5).toSeq ===
      out.filter(_._1 == 3L).map(_._5).toSeq)
    // distinct windows hash differently
    assert(out.filter(_._1 == 0L).map(_._5).distinct.length === 4)
  }

  test("randomProjectionQ4: deterministic, matches a hand-folded component") {
    val vec = Array(0.5f, -1.25f, 2.0f)
    val df = Seq((0L, vec)).toDF("vec_id", "embedding")
    val comps = Similarity.randomProjectionQ4(col("embedding"), inDim = 3, outDim = 2)
    val row = df.select(col("vec_id") +: comps: _*).collect().head
    def expected(j: Int): Long =
      vec.zipWithIndex.map { case (v, i) =>
        math.floor(v.toDouble * 10000).toLong * Similarity.planeSign(j, i).toLong
      }.sum
    assert(row.getLong(1) === expected(0))
    assert(row.getLong(2) === expected(1))
    // stable across evaluations (plan-literal sign matrix, no RNG)
    assert(df.select(col("vec_id") +: comps: _*).collect().head === row)
  }

  /** Per-file CRC32 of every parquet data file under `root`, keyed by
    * root-relative path — the untouched-partition byte-identity probe
    * for the index-deletion family (the GraphOpsSpec count-table probe).
    */
  private def dirCrcs(root: String): Map[String, Long] = {
    val r = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(r)) Map.empty
    else {
      val it = java.nio.file.Files.walk(r).iterator()
      val out = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet")) {
          val crc = new java.util.zip.CRC32()
          crc.update(java.nio.file.Files.readAllBytes(p))
          out(r.relativize(p).toString) = crc.getValue
        }
      }
      out.toMap
    }
  }

  test("deleteFromInvertedIndex: post-delete ranking and stats equal a " +
      "one-shot rebuild without the deleted docs; untouched partitions " +
      "byte-identical; replay is a no-op; a later append still lands") {
    val all = (0L until 300L).map { i =>
      val rare = if (i % 40 == 0) " zeta" else ""
      (i, s"alpha filler words w${i % 7} w${i % 13} here$rare")
    }.toDF("doc_id", "text")
    val deadIds = Seq(10L, 40L, 205L, 260L) // span base + both appends; 40 has zeta
    val b3 = (300L until 330L).map(i => (i, s"alpha extra w${i % 5} here"))
      .toDF("doc_id", "text")
    val q = Seq("alpha", "zeta")
    def rank(path: String) = TextAnalysis.bm25SearchFromIndex(spark, path, q,
      topK = 25).as[(Long, Long)].collect().toSeq

    val idx = tempDir("graft-inv-del").toString
    TextAnalysis.writeInvertedIndex(all.filter(col("doc_id") < 200),
      "text", "doc_id", idx, buckets = 16)
    TextAnalysis.appendToInvertedIndex(
      all.filter(col("doc_id") >= 200 && col("doc_id") < 250),
      "text", "doc_id", idx, buckets = 16, batchId = Some(0L))
    TextAnalysis.appendToInvertedIndex(all.filter(col("doc_id") >= 250),
      "text", "doc_id", idx, buckets = 16, batchId = Some(1L))

    val before = dirCrcs(s"$idx/postings")
    val st = TextAnalysis.deleteFromInvertedIndex(spark, deadIds, idx)
    assert(st.rowsDeleted > 0 && st.partitionsRewritten > 0)
    assert(st.partitionsUntouched > 0, "a 4-doc delete must not touch every partition")

    // the reference: a one-shot rebuild over exactly the survivors
    val rebuilt = tempDir("graft-inv-del-rb").toString
    TextAnalysis.writeInvertedIndex(all.filter(!col("doc_id").isin(deadIds: _*)),
      "text", "doc_id", rebuilt, buckets = 16)
    assert(TextAnalysis.readIndexStats(spark, idx) ===
      TextAnalysis.readIndexStats(spark, rebuilt),
      "negated stats row must sum to the survivors' exact (n, tot)")
    assert(rank(idx) === rank(rebuilt),
      "post-delete ranking diverges from the rebuild without the docs")

    // untouched partitions byte-identical: every file surviving the
    // delete is bit-for-bit the file it was, and the number of partition
    // dirs whose files changed is exactly the rewritten count
    val after = dirCrcs(s"$idx/postings")
    val shared = before.keySet.intersect(after.keySet)
    assert(shared.forall(k => before(k) == after(k)),
      "a file in an untouched partition changed bytes")
    val changedDirs = (before.keySet -- after.keySet)
      .map(k => k.substring(0, k.lastIndexOf('/')))
    assert(changedDirs.size.toLong ===
      st.partitionsRewritten,
      s"dirs with removed files $changedDirs vs rewritten ${st.partitionsRewritten}")

    // replay (same auto-allocated id 0 -> internal -2 marker exists):
    // detected, returns zeros, touches NOTHING (stats files included)
    val allBefore = dirCrcs(idx)
    val replay = TextAnalysis.deleteFromInvertedIndex(
      spark, Seq(10L, 40L, 205L, 260L).toDF("doc_id"), idx,
      batchId = Some(0L))
    assert(replay === graft.sinks.Lake.DeleteStats(0L, 0L, 0L, 0L))
    assert(dirCrcs(idx) === allBefore, "replay touched the index")
    assert(TextAnalysis.pendingDeletes(spark, idx).isEmpty)

    // crash window: marker vanished after the rewrite -> pendingDeletes
    // names the batch; replaying it heals to the same committed state
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/stats/batch=-2"), true)
    assert(TextAnalysis.pendingDeletes(spark, idx) === Seq(0L))
    TextAnalysis.deleteFromInvertedIndex(spark, deadIds.toDF("doc_id"), idx,
      batchId = Some(0L))
    assert(TextAnalysis.readIndexStats(spark, idx) ===
      TextAnalysis.readIndexStats(spark, rebuilt),
      "healed delete diverges from the rebuild")

    // delete ids live below BaseBatch: a later append still allocates
    // from the append namespace and the index keeps ranking exactly
    TextAnalysis.appendToInvertedIndex(b3, "text", "doc_id", idx, buckets = 16)
    val rebuilt2 = tempDir("graft-inv-del-r2").toString
    TextAnalysis.writeInvertedIndex(
      all.filter(!col("doc_id").isin(deadIds: _*)).unionByName(b3),
      "text", "doc_id", rebuilt2, buckets = 16)
    assert(rank(idx) === rank(rebuilt2),
      "append-after-delete diverges from the rebuild")
    // the append param guard stays loud after deletes
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.appendToInvertedIndex(b3, "text", "doc_id", idx, buckets = 32,
        batchId = Some(9L))
    }
    assert(ex.getMessage.contains("buckets"))
  }

  test("deleteFromInvertedIndex protocol edges: a matched-nothing delete " +
      "still commits its marker; auto ids never reuse an uncommitted " +
      "predecessor's resolution; healing a crashed batch restores exact stats") {
    val all = (0L until 80L).map(i => (i, s"alpha words w${i % 5} here"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-inv-proto").toString
    TextAnalysis.writeInvertedIndex(all, "text", "doc_id", idx, buckets = 8)
    // matched-nothing AD-HOC delete (auto id): leaves NO trace — no
    // pending batch, no committed slot, no stats-table growth
    val st0 = TextAnalysis.deleteFromInvertedIndex(spark, Seq(9999L), idx)
    assert(st0 === graft.sinks.Lake.DeleteStats(0L, 0L, 0L, 0L))
    assert(TextAnalysis.pendingDeletes(spark, idx).isEmpty,
      "a matched-nothing delete left a forever-pending batch")
    assert(!new java.io.File(s"$idx/deletes/0").exists,
      "a matched-nothing ad-hoc delete left a permanent slot")
    // a real delete (auto slot 0 — the ad-hoc no-op above left no slot),
    // then simulate the crash window by removing its stats marker:
    // resolution persisted, commit missing
    TextAnalysis.deleteFromInvertedIndex(spark, Seq(10L), idx)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/stats/batch=-2"), true)
    assert(TextAnalysis.pendingDeletes(spark, idx) === Seq(0L))
    // a NEW auto-id delete with different ids must claim a FRESH slot,
    // not silently replay slot 0's persisted resolution
    val stB = TextAnalysis.deleteFromInvertedIndex(spark, Seq(20L), idx)
    assert(stB.rowsDeleted > 0L, "fresh auto-id delete resolved nothing " +
      "(it reused a stale resolution slot)")
    assert(TextAnalysis.pendingDeletes(spark, idx) === Seq(0L),
      "the crashed batch must stay pending until ITS id replays")
    // heal the crashed batch by replaying its id, then exact-stats check
    TextAnalysis.deleteFromInvertedIndex(spark, Seq(10L).toDF("doc_id"), idx,
      batchId = Some(0L))
    assert(TextAnalysis.pendingDeletes(spark, idx).isEmpty)
    // matched-nothing STREAM batch (explicit id): must COMMIT a zero
    // stats row so its replay protocol stays marker-complete
    TextAnalysis.deleteFromInvertedIndex(spark,
      Seq(9999L).toDF("doc_id"), idx, batchId = Some(7L))
    assert(TextAnalysis.pendingDeletes(spark, idx).isEmpty,
      "a matched-nothing stream batch must commit, not dangle")
    val rebuilt = tempDir("graft-inv-proto-rb").toString
    TextAnalysis.writeInvertedIndex(
      all.filter(!col("doc_id").isin(10L, 20L)), "text", "doc_id", rebuilt,
      buckets = 8)
    assert(TextAnalysis.readIndexStats(spark, idx) ===
      TextAnalysis.readIndexStats(spark, rebuilt),
      "healed + fresh deletes diverge from the survivors rebuild")
  }

  test("deleteFromInvertedIndex: a doc_id present in TWO committed batches " +
      "subtracts stats per (doc_id, batch) — post-delete stats and ranking " +
      "equal the survivors rebuild") {
    // the r16 ADVICE scenario: identical (doc_id, len) rows in two
    // committed batches collapse to ONE negated row under a doc_id-only
    // distinct, under-subtracting n/tot while the COW rewrite removes
    // both posting copies
    val base = (0L until 60L).map(i => (i, s"alpha words w${i % 5} here"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-inv-dup").toString
    TextAnalysis.writeInvertedIndex(base, "text", "doc_id", idx, buckets = 8)
    // doc 50 re-ingested verbatim (identical len) in a second committed batch
    TextAnalysis.appendToInvertedIndex(base.filter(col("doc_id") === 50L),
      "text", "doc_id", idx, buckets = 8, batchId = Some(0L))
    val st = TextAnalysis.deleteFromInvertedIndex(spark, Seq(50L), idx)
    assert(st.rowsDeleted > 0L)
    val rebuilt = tempDir("graft-inv-dup-rb").toString
    TextAnalysis.writeInvertedIndex(base.filter(col("doc_id") =!= 50L),
      "text", "doc_id", rebuilt, buckets = 8)
    assert(TextAnalysis.readIndexStats(spark, idx) ===
      TextAnalysis.readIndexStats(spark, rebuilt),
      "a doc committed in two batches must subtract from BOTH batches' stats")
    val q = Seq("alpha", "here")
    def rank(path: String) = TextAnalysis.bm25SearchFromIndex(spark, path, q,
      topK = 20).as[(Long, Long)].collect().toSeq
    assert(rank(idx) === rank(rebuilt))
  }

  test("deleteFromLshIndex: post-delete near-dup verdicts equal a rebuild " +
      "without the deleted docs; re-delete is a no-op") {
    val corpus = (0L until 60L).map { i =>
      (i, if (i % 20 == 5) base else s"doc number $i with its own words ${i * 7}")
    }.toDF("doc_id", "text")
    val probe = Seq((1000L, base), (1001L, unrelated)).toDF("doc_id", "text")
    val dead = Seq(5L, 25L) // two of the three planted near-dup sources
    def verdicts(path: String) = Dedup.nearDupsAgainstIndex(
      spark, probe, "text", "doc_id", path,
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500, buckets = 16)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet

    val idx = tempDir("graft-lsh-del").toString
    Dedup.writeLshIndex(corpus, "text", "doc_id", idx,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    assert(verdicts(idx) === Set((1000L, 5L), (1000L, 25L), (1000L, 45L)))

    val st = Dedup.deleteFromLshIndex(spark, dead, idx)
    assert(st.bands.rowsDeleted > 0 && st.shingles.rowsDeleted > 0)
    val rebuilt = tempDir("graft-lsh-del-rb").toString
    Dedup.writeLshIndex(corpus.filter(!col("doc_id").isin(dead: _*)),
      "text", "doc_id", rebuilt, n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    assert(verdicts(idx) === verdicts(rebuilt))
    assert(verdicts(idx) === Set((1000L, 45L)), "deleted docs still matched")

    // re-delete: natural no-op, nothing rewritten, bytes untouched
    val before = dirCrcs(idx)
    val again = Dedup.deleteFromLshIndex(spark, dead, idx)
    assert(again.bands.rowsDeleted === 0L &&
      again.bands.partitionsRewritten === 0L &&
      again.shingles.partitionsRewritten === 0L)
    assert(dirCrcs(idx) === before, "no-op re-delete touched files")
  }

  test("compactInvertedIndex: searches and stats bit-identical across the " +
      "collapse; batch dirs fold to one; consumed append AND delete ids " +
      "replay loudly; new appends/deletes continue; a crashed swap resumes") {
    val all = (0L until 240L).map { i =>
      val rare = if (i % 40 == 0) " zeta" else ""
      (i, s"alpha filler words w${i % 7} here$rare")
    }.toDF("doc_id", "text")
    val q = Seq("alpha", "zeta")
    def rank(p: String) = TextAnalysis.bm25SearchFromIndex(spark, p, q,
      topK = 25).as[(Long, Long)].collect().toSeq
    val idx = tempDir("graft-inv-cmp").toString
    TextAnalysis.writeInvertedIndex(all.filter(col("doc_id") < 120),
      "text", "doc_id", idx, buckets = 16)
    TextAnalysis.appendToInvertedIndex(
      all.filter(col("doc_id") >= 120 && col("doc_id") < 180),
      "text", "doc_id", idx, buckets = 16, batchId = Some(0L))
    TextAnalysis.appendToInvertedIndex(all.filter(col("doc_id") >= 180),
      "text", "doc_id", idx, buckets = 16, batchId = Some(1L))
    TextAnalysis.deleteFromInvertedIndex(spark, Seq(30L, 150L).toDF("doc_id"),
      idx, batchId = Some(0L))
    val before = rank(idx)
    val statsBefore = TextAnalysis.readIndexStats(spark, idx)
    TextAnalysis.compactInvertedIndex(spark, idx)
    assert(rank(idx) === before, "compaction changed the ranking")
    assert(TextAnalysis.readIndexStats(spark, idx) === statsBefore,
      "compaction changed the summed stats")
    // structure: every bucket folded to ONE batch dir; stats one row
    val bucketDirs = new java.io.File(s"$idx/postings").listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty && bucketDirs.forall(
      _.listFiles().count(_.getName.startsWith("batch=")) == 1),
      "a bucket still holds multiple batch dirs after compaction")
    assert(new java.io.File(s"$idx/stats").listFiles()
      .count(_.getName.startsWith("batch=")) === 1)
    assert(new java.io.File(s"$idx/deletes").listFiles() === null ||
      new java.io.File(s"$idx/deletes").listFiles().isEmpty,
      "consumed delete resolutions not reclaimed")
    // consumed ids replay LOUDLY (silent duplication otherwise)
    val exA = intercept[IllegalArgumentException] {
      TextAnalysis.appendToInvertedIndex(all.filter(col("doc_id") >= 180),
        "text", "doc_id", idx, buckets = 16, batchId = Some(1L))
    }
    assert(exA.getMessage.contains("consumed by a compaction"))
    val exD = intercept[IllegalArgumentException] {
      TextAnalysis.deleteFromInvertedIndex(spark, Seq(31L).toDF("doc_id"),
        idx, batchId = Some(0L))
    }
    assert(exD.getMessage.contains("consumed by a compaction"))
    // life continues above the bounds: new append + new delete still
    // land on the survivors rebuild exactly
    val b2 = (300L until 330L).map(i => (i, s"alpha extra w${i % 5} here"))
      .toDF("doc_id", "text")
    TextAnalysis.appendToInvertedIndex(b2, "text", "doc_id", idx,
      buckets = 16, batchId = Some(5L))
    TextAnalysis.deleteFromInvertedIndex(spark, Seq(80L).toDF("doc_id"),
      idx, batchId = Some(3L))
    val rebuilt = tempDir("graft-inv-cmp-rb").toString
    TextAnalysis.writeInvertedIndex(
      all.filter(!col("doc_id").isin(30L, 150L, 80L)).unionByName(b2),
      "text", "doc_id", rebuilt, buckets = 16)
    assert(rank(idx) === rank(rebuilt),
      "post-compaction maintenance diverges from the survivors rebuild")
    assert(TextAnalysis.readIndexStats(spark, idx) ===
      TextAnalysis.readIndexStats(spark, rebuilt))
    // crash window between the swap's delete and rename: live dir gone,
    // staging complete — rerunning the compaction resumes and finishes
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val preCrash = rank(idx)
    TextAnalysis.compactInvertedIndex(spark, idx) // fold the new batches
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/postings"),
      new org.apache.hadoop.fs.Path(s"$idx/postings.compacting")))
    assert(IndexLayout.resumeCompaction(spark, s"$idx/postings"),
      "resume did not detect the half-done swap")
    assert(rank(idx) === preCrash, "resumed swap lost rows")
  }

  test("compactLshIndex / compactInt8Index / compactIvfPqIndex: results " +
      "bit-identical across the collapse; consumed ids replay loudly; " +
      "appends continue") {
    // LSH
    val corpus = (0L until 60L).map { i =>
      (i, if (i % 20 == 5) base else s"doc number $i with its own words ${i * 7}")
    }.toDF("doc_id", "text")
    val probe = Seq((1000L, base)).toDF("doc_id", "text")
    def verdicts(path: String) = Dedup.nearDupsAgainstIndex(
      spark, probe, "text", "doc_id", path,
      n = 3, bands = 4, rowsPerBand = 4, minJaccardMilli = 500, buckets = 16)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    val lsh = tempDir("graft-lsh-cmp").toString
    Dedup.writeLshIndex(corpus.filter(col("doc_id") < 40), "text", "doc_id",
      lsh, n = 3, bands = 4, rowsPerBand = 4, buckets = 16)
    Dedup.appendToLshIndex(corpus.filter(col("doc_id") >= 40), "text",
      "doc_id", lsh, n = 3, bands = 4, rowsPerBand = 4, buckets = 16,
      batchId = Some(0L))
    val vBefore = verdicts(lsh)
    assert(vBefore === Set((1000L, 5L), (1000L, 25L), (1000L, 45L)))
    Dedup.compactLshIndex(spark, lsh) // buckets read from the params table
    assert(verdicts(lsh) === vBefore, "LSH compaction changed verdicts")
    val exL = intercept[IllegalArgumentException] {
      Dedup.appendToLshIndex(probe, "text", "doc_id", lsh,
        n = 3, bands = 4, rowsPerBand = 4, buckets = 16, batchId = Some(0L))
    }
    assert(exL.getMessage.contains("consumed by a compaction"))
    Dedup.appendToLshIndex(
      Seq((2000L, unrelated)).toDF("doc_id", "text"), "text", "doc_id", lsh,
      n = 3, bands = 4, rowsPerBand = 4, buckets = 16) // auto id resumes above
    assert(verdicts(lsh) === vBefore)

    // int8 + IVF+PQ
    val dim = 16
    val vecs = (0L until 120L).map { i =>
      (i, Array.tabulate(dim)(j => (((i * 31 + j * 17) % 23).toFloat - 11f) / 7f))
    }.toDF("vec_id", "vec")
    val queries = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val i8 = tempDir("graft-i8-cmp").toString
    Similarity.writeInt8Index(vecs.filter(col("vec_id") < 100), i8)
    Similarity.appendToInt8Index(vecs.filter(col("vec_id") >= 100), i8,
      batchId = Some(0L))
    def r8(p: String) = Similarity.int8TopKFromIndex(spark, queries, p, k = 5)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    val r8Before = r8(i8)
    Similarity.compactInt8Index(spark, i8, targetFiles = 4)
    assert(r8(i8) === r8Before, "int8 compaction changed the ranking")
    assert(new java.io.File(i8).listFiles()
      .count(_.getName.startsWith("batch=")) === 1)
    intercept[IllegalArgumentException] {
      Similarity.appendToInt8Index(vecs.filter(col("vec_id") >= 100), i8,
        batchId = Some(0L))
    }

    val pq = tempDir("graft-pq-cmp").toString
    Similarity.writeIvfPqIndex(vecs.filter(col("vec_id") < 100), pq,
      centroidEvery = 10, m = 4, dim = dim)
    Similarity.appendToIvfPqIndex(vecs.filter(col("vec_id") < 100),
      vecs.filter(col("vec_id") >= 100), pq,
      centroidEvery = 10, m = 4, dim = dim, batchId = Some(0L))
    def rPq(p: String) = Similarity.ivfPqTopKFromIndex(spark, queries,
      vecs.filter(col("vec_id") < 100), p, k = 5,
      centroidEvery = 10, nprobe = 3, m = 4, dim = dim)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    val rPqBefore = rPq(pq)
    Similarity.compactIvfPqIndex(spark, pq)
    assert(rPq(pq) === rPqBefore, "IVF+PQ compaction changed the ranking")
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(vecs.filter(col("vec_id") < 100),
        vecs.filter(col("vec_id") >= 100), pq,
        centroidEvery = 10, m = 4, dim = dim, batchId = Some(0L))
    }
  }

  test("deleteFromInt8Index / deleteFromIvfPqIndex: post-delete rankings " +
      "equal an index built without the deleted vectors") {
    val dim = 16
    val vecs = (0L until 120L).map { i =>
      (i, Array.tabulate(dim)(j => (((i * 31 + j * 17) % 23).toFloat - 11f) / 7f))
    }.toDF("vec_id", "vec")
    val queries = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    // non-seed ids (centroidEvery = 10): frozen centroids/codebooks are
    // identical between the deleted index and the survivors-only rebuild
    val dead = Seq(13L, 57L, 88L)
    val survivors = vecs.filter(!col("vec_id").isin(dead: _*))

    val i8 = tempDir("graft-i8-del").toString
    Similarity.writeInt8Index(vecs.filter(col("vec_id") < 100), i8)
    Similarity.appendToInt8Index(vecs.filter(col("vec_id") >= 100), i8,
      batchId = Some(0L))
    val st8 = Similarity.deleteFromInt8Index(spark, dead, i8)
    assert(st8.rowsDeleted === 3L)
    val i8rb = tempDir("graft-i8-del-rb").toString
    Similarity.writeInt8Index(survivors, i8rb)
    def r8(p: String) = Similarity.int8TopKFromIndex(spark, queries, p, k = 5)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(r8(i8) === r8(i8rb))
    assert(!r8(i8).exists(r => dead.contains(r._2)), "a deleted vector ranked")

    val pq = tempDir("graft-pq-del").toString
    Similarity.writeIvfPqIndex(vecs.filter(col("vec_id") < 100), pq,
      centroidEvery = 10, m = 4, dim = dim)
    Similarity.appendToIvfPqIndex(vecs.filter(col("vec_id") < 100),
      vecs.filter(col("vec_id") >= 100), pq,
      centroidEvery = 10, m = 4, dim = dim, batchId = Some(0L))
    val stPq = Similarity.deleteFromIvfPqIndex(spark, dead, pq)
    assert(stPq.rowsDeleted === 3L * 4L, "one code row per subspace per vector")
    assert(stPq.partitionsUntouched > 0)
    val pqRb = tempDir("graft-pq-del-rb").toString
    Similarity.writeIvfPqIndex(survivors.filter(col("vec_id") < 100), pqRb,
      centroidEvery = 10, m = 4, dim = dim)
    Similarity.appendToIvfPqIndex(vecs.filter(col("vec_id") < 100),
      vecs.filter(col("vec_id") >= 100), pqRb,
      centroidEvery = 10, m = 4, dim = dim, batchId = Some(0L))
    // both arms search with the SAME frozen codebook source (the base
    // corpus) — the rebuild differs only by the deleted vectors' rows
    def rPq(p: String) = Similarity.ivfPqTopKFromIndex(spark, queries,
      vecs.filter(col("vec_id") < 100), p, k = 5,
      centroidEvery = 10, nprobe = 3, m = 4, dim = dim)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rPq(pq) === rPq(pqRb))
    assert(!rPq(pq).exists(r => dead.contains(r._2)), "a deleted vector ranked")
  }

  test("rebuildIvfPqIndex / rebuildInt8Index: post-rebuild search equals a " +
      "from-scratch write bit-for-bit; pre-rebuild appends replay loudly; " +
      "fresh appends resume; a crash in the swap window resumes byte-equal") {
    val dim = 16
    val vecs = (0L until 120L).map { i =>
      (i, Array.tabulate(dim)(j => (((i * 31 + j * 17) % 23).toFloat - 11f) / 7f))
    }.toDF("vec_id", "vec")
    val queries = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val dead = Seq(13L, 57L, 88L)
    val survivors = vecs.filter(!col("vec_id").isin(dead: _*))
      .checkpointed()

    // a lived-in index: base + append + delete, then the staleness alarm
    // fires and the operator rebuilds over the survivors
    val pq = tempDir("graft-pq-rb").toString
    Similarity.writeIvfPqIndex(vecs.filter(col("vec_id") < 100), pq,
      centroidEvery = 10, m = 4, dim = dim)
    Similarity.appendToIvfPqIndex(vecs.filter(col("vec_id") < 100),
      vecs.filter(col("vec_id") >= 100), pq,
      centroidEvery = 10, m = 4, dim = dim, batchId = Some(0L))
    Similarity.deleteFromIvfPqIndex(spark, dead, pq)
    Similarity.rebuildIvfPqIndex(spark, survivors, pq,
      centroidEvery = 10, m = 4, dim = dim)
    // the reference: writeIvfPqIndex from scratch over the same corpus;
    // BOTH arms search with the rebuild corpus as codebook source
    val pqFresh = tempDir("graft-pq-rb-f").toString
    Similarity.writeIvfPqIndex(survivors, pqFresh,
      centroidEvery = 10, m = 4, dim = dim)
    def rPq(p: String) = Similarity.ivfPqTopKFromIndex(spark, queries,
      survivors, p, k = 5, centroidEvery = 10, nprobe = 3, m = 4, dim = dim)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(rPq(pq) === rPq(pqFresh),
      "rebuilt index ranks differently from a from-scratch write")

    // crash window: live deleted, staging complete (the exact state
    // between stageAndSwap's delete and rename) — rerunning the rebuild
    // resumes the swap, then reproduces byte-equal rankings (contents
    // deterministic in (corpus, params))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(pq),
      new org.apache.hadoop.fs.Path(pq + ".compacting")))
    Similarity.rebuildIvfPqIndex(spark, survivors, pq,
      centroidEvery = 10, m = 4, dim = dim)
    assert(rPq(pq) === rPq(pqFresh),
      "crash-window resume + rebuild changed the ranking")

    // the rebuild consumed every stored batch: a replayed pre-rebuild
    // append (which would encode against the OLD codebooks) fails loudly
    val exPq = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(survivors,
        vecs.filter(col("vec_id") >= 100), pq,
        centroidEvery = 10, m = 4, dim = dim, batchId = Some(0L))
    }
    assert(exPq.getMessage.contains("consumed by a compaction"))
    // fresh appends resume above the bound, encoding against the NEW
    // corpus — still equal to the same append on the from-scratch twin
    val extra = (200L until 210L).map { i =>
      (i, Array.tabulate(dim)(j => (((i * 13 + j * 29) % 19).toFloat - 9f) / 5f))
    }.toDF("vec_id", "vec")
    Similarity.appendToIvfPqIndex(survivors, extra, pq,
      centroidEvery = 10, m = 4, dim = dim)
    Similarity.appendToIvfPqIndex(survivors, extra, pqFresh,
      centroidEvery = 10, m = 4, dim = dim)
    assert(rPq(pq) === rPq(pqFresh), "post-rebuild append diverged")

    // int8: same protocol, self-contained codes
    val i8 = tempDir("graft-i8-rb").toString
    Similarity.writeInt8Index(vecs.filter(col("vec_id") < 100), i8)
    Similarity.appendToInt8Index(vecs.filter(col("vec_id") >= 100), i8,
      batchId = Some(0L))
    Similarity.deleteFromInt8Index(spark, dead, i8)
    Similarity.rebuildInt8Index(spark, survivors, i8, targetFiles = 4)
    val i8Fresh = tempDir("graft-i8-rb-f").toString
    Similarity.writeInt8Index(survivors, i8Fresh)
    def r8(p: String) = Similarity.int8TopKFromIndex(spark, queries, p, k = 5)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(r8(i8) === r8(i8Fresh))
    assert(new java.io.File(i8).listFiles()
      .count(_.getName.startsWith("batch=")) === 1,
      "rebuild must leave ONE batch dir")
    intercept[IllegalArgumentException] {
      Similarity.appendToInt8Index(vecs.filter(col("vec_id") >= 100), i8,
        batchId = Some(0L))
    }
    Similarity.appendToInt8Index(extra, i8) // auto id resumes above
    Similarity.appendToInt8Index(extra, i8Fresh)
    assert(r8(i8) === r8(i8Fresh))
  }
}
