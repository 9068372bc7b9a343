package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Checkpoints.Owned

/** Unit coverage for the curation operators whose corpus queries can't
  * exercise every path (the synthetic documents contain no PII) plus
  * fixture-level checks of the oracle-gated ones.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("piiScrub redacts emails, urls and id runs in order, with counts") {
    val df = Seq(
      (1L, "contact bob.smith+x@corp.example.org or visit https://ex.org/a?id=1234567 ref 99887766"),
      (2L, "clean text, short digits 12345 stay"),
      (3L, "two mails a@b.co c@d.io and http://u.v/w")).toDF("id", "text")
    val out = Curation.piiScrub(df, "text")
      .select("id", "scrubbed", "n_emails", "n_urls", "n_ids")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) === ((1L, "contact <EMAIL> or visit <URL> ref <ID>", 1L, 1L, 1L)))
    assert(out(1) === ((2L, "clean text, short digits 12345 stay", 0L, 0L, 0L)))
    assert(out(2) === ((3L, "two mails <EMAIL> <EMAIL> and <URL>", 2L, 1L, 0L)))
  }

  test("gopherRules fails exactly the planted rule per document") {
    // one doc per rule, each violating ONLY its target rule; the base
    // vocabulary is 60 distinct 4-6 char alpha words incl. 2 stopwords
    def goodWords(n: Int): String =
      (Seq("the", "with") ++ (0 until n - 2).map(i => s"word${('a' + i % 26).toChar}${i / 26}"))
        .mkString(" ")
    val df = Seq(
      (1L, goodWords(60)),                                     // all pass
      (2L, goodWords(10)),                                     // too few words
      (3L, (Seq("to", "of") ++ (0 until 58).map(i => s"${('a' + i % 26).toChar}${i % 10}")).mkString(" ")), // mean len < 3
      (4L, (Seq("the", "with") ++ (0 until 58).map(i => (1000 + i).toString)).mkString(" ")), // digits: alpha < 80%
      (5L, (0 until 60).map(i => s"word${('a' + i % 26).toChar}${i / 26}").mkString(" ")), // no stopwords
      (6L, (Seq.fill(20)("the") ++ Seq("with") ++ (0 until 39).map(i => s"word${('a' + i % 26).toChar}${i / 26}")).mkString(" ")), // top word 20/60 > 20%
      // capitalized stopwords + mixed-case repeats: the rules are
      // case-insensitive ("The" counts as "the", and "The"+"the" repeats
      // pool into one top word: 7+6 = 13/60 > 20% -> r_rep fails)
      (7L, (Seq("The", "With") ++ (0 until 58).map(i => s"word${('a' + i % 26).toChar}${i / 26}")).mkString(" ")),
      (8L, (Seq.fill(7)("The") ++ Seq.fill(6)("the") ++ Seq("with") ++ (0 until 46).map(i => s"word${('a' + i % 26).toChar}${i / 26}")).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.gopherRules(df, "text", "doc_id")
      .select("doc_id", "r_nwords", "r_wordlen", "r_alpha", "r_stop", "r_rep", "keep")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 1L, 1L, 1L, 1L, 1L, 1L)))
    assert(out(1) === ((2L, 0L, 1L, 1L, 1L, 1L, 0L)))
    assert(out(2) === ((3L, 1L, 0L, 1L, 1L, 1L, 0L)))
    assert(out(3) === ((4L, 1L, 1L, 0L, 1L, 1L, 0L)))
    assert(out(4) === ((5L, 1L, 1L, 1L, 0L, 1L, 0L)))
    assert(out(5) === ((6L, 1L, 1L, 1L, 1L, 0L, 0L)))
    assert(out(6) === ((7L, 1L, 1L, 1L, 1L, 1L, 1L)))
    assert(out(7) === ((8L, 1L, 1L, 1L, 1L, 0L, 0L)))
  }

  test("ccnetBuckets thresholds are minimal value-cuts and buckets are ordered") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Curation.ccnetBuckets(docs, "text", "doc_id", "source")
      .select("doc_id", "source", "avg_surprisal_q10", "ppl_bucket")
      .as[(Long, String, Long, String)].collect()
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.length === out.length, "one bucket per doc")
    for ((_, group) <- out.groupBy(_._2)) {
      val n = group.length
      val byBucket = group.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      val head = byBucket.getOrElse("head", Array.empty[Long])
      val mid = byBucket.getOrElse("middle", Array.empty[Long])
      val tail = byBucket.getOrElse("tail", Array.empty[Long])
      // buckets are value-ordered: every head surprisal < every middle
      // < every tail (value thresholds make the ranges disjoint)
      if (head.nonEmpty && mid.nonEmpty) assert(head.max < mid.min)
      if (mid.nonEmpty && tail.nonEmpty) assert(mid.max < tail.min)
      if (head.nonEmpty && tail.nonEmpty) assert(head.max < tail.min)
      // threshold minimality: head holds at least n/3 docs (ties may
      // overfill), but strictly fewer than n/3 sit BELOW the cut value
      val h1 = n / 3
      assert(head.length >= h1, s"head ${head.length} < $h1 of $n")
      if (head.nonEmpty)
        assert(head.count(_ < head.max) < math.max(h1, 1),
          "t1 is not the minimal value reaching the tercile")
      assert(head.length + mid.length >= 2 * n / 3)
    }
  }

  test("temperatureMixtureSample up-weights small sources by sqrt of token mass") {
    // src_big: 100 docs x 10 tokens (t=1000, w=31); src_small: 4 docs x
    // 10 tokens (t=40, w=6); sw=37, budget=200:
    //   rate_big   = floor(200e6 * 31 / (37 * 1000)) = 167567
    //   rate_small = floor(200e6 *  6 / (37 *   40)) = 810810
    val ten = (1 to 10).map(i => s"tok$i").mkString(" ")
    val d = ((0L until 100L).map(i => (i, "src_big", ten)) ++
      (100L until 104L).map(i => (i, "src_small", ten)))
      .toDF("doc_id", "source", "text")
    val out = Curation.temperatureMixtureSample(d, "doc_id", "source", "text",
      budgetTokens = 200L)
      .as[(Long, String, Long, Long)].collect()
    val rates = out.map(r => (r._2, r._4)).distinct.toMap
    assert(rates.get("src_big").forall(_ === 167567L))
    assert(rates.get("src_small").forall(_ === 810810L))
    // keep rule is exactly the content-hash threshold
    val expected = d.select(col("doc_id"), col("source"))
      .withColumn("h", pmod(Curation.hash48(col("doc_id")), lit(1000000L)))
      .as[(Long, String, Long)].collect()
      .filter { case (_, src, h) =>
        h < (if (src == "src_big") 167567L else 810810L) }
      .map(_._1).sorted
    assert(out.map(_._1).sorted === expected)
    // temperature up-weighting: the small source's keep RATE is higher
    assert(810810L > 167567L * 4)
  }

  test("connectedComponents labels a chain, a clique and a singleton pair") {
    // chain 1-2-3-4, clique 10-11-12, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("a", "b")
    val got = Curation.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents converges on a 60-node chain within the default cap") {
    // a 60-edge path has diameter 60: plain hash-min needs 60 rounds and
    // would blow the maxIters=20 cap; pointer-jumping must close it in
    // ~3 + log2(60) rounds. Convergence (not throwing) IS the assertion.
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Curation.connectedComponents(chain, "a", "b")
      .as[(Long, Long)].collect()
    assert(got.length === 61)
    assert(got.forall(_._2 === 0L), "every chain node labels to the min id 0")
  }

  test("contaminationPairsBloom: bit-identical to the exact operator, bloom in plan") {
    // 40 docs, every 10th is "bench"; half the corpus shares the bench
    // trigrams, half is disjoint — the bloom must pass exactly the sharers.
    val docs = spark.range(40).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(2)) === 0,
        concat(lit("alpha beta gamma delta epsilon zeta seq "), col("id")))
        .otherwise(concat(lit("omega psi chi phi upsilon tau seq "), col("id")))
        .as("text"))
    val isBench = pmod(col("doc_id"), lit(10)) === 0
    val exact = Curation.contaminationPairs(docs, "text", "doc_id", isBench,
      n = 3, maxShingleDf = 50, minContainMilli = 100)
    val bloom = Curation.contaminationPairsBloom(docs, "text", "doc_id", isBench,
      n = 3, maxShingleDf = 50, minContainMilli = 100)
    assert(bloom.exceptAll(exact).count() === 0L)
    assert(exact.exceptAll(bloom).count() === 0L)
    assert(exact.count() > 0L) // non-vacuous: bench trigrams do hit the corpus
    assert(bloom.queryExecution.executedPlan.toString.contains("might_contain"))
  }

  test("stratifiedSample keeps strata at their configured rates") {
    val df = spark.range(20000).select(col("id"),
      concat(lit("s"), pmod(col("id"), lit(4))).as("grp"))
    val out = Curation.stratifiedSample(df, "id", "grp",
      Map("s0" -> 0, "s1" -> 1000, "s2" -> 500), defaultMilli = 100)
    val counts = out.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(!counts.contains("s0"))                     // rate 0 drops all
    assert(counts("s1") === 5000L)                     // rate 1000 keeps all
    assert(math.abs(counts("s2") - 2500L) < 300,       // ~50%
      s"s2 kept ${counts("s2")}")
    assert(math.abs(counts("s3") - 500L) < 150,        // default ~10%
      s"s3 kept ${counts("s3")}")
    // determinism: same input -> identical sample
    val again = Curation.stratifiedSample(df, "id", "grp",
      Map("s0" -> 0, "s1" -> 1000, "s2" -> 500), defaultMilli = 100)
    assert(out.exceptAll(again).count() === 0L)
  }

  test("packSequences: bins respect the budget and offsets are consistent") {
    val docs = Seq(
      (1L, "s", "a b c"), (2L, "s", "d e"), (3L, "s", "f g h i"),
      (4L, "t", "x y z w v")).toDF("doc_id", "source", "text")
    val out = Curation.packSequences(docs, "doc_id", "source", "text", 4)
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    // source s: cum_before 0, 3, 5 -> bins 0, 0, 1; offsets 0, 3, 1
    assert(out.toSeq === Seq(
      (1L, "s", 3L, 0L, 0L), (2L, "s", 2L, 0L, 3L), (3L, "s", 4L, 1L, 1L),
      (4L, "t", 5L, 0L, 0L)))
  }

  test("packSequencesDedupAware: no bin holds two members of one cluster, " +
      "and the naive pack does on the same corpus") {
    // four near-dup cluster members (cluster 10) interleaved with
    // singletons, token counts sized so the NAIVE pack puts members
    // 1 and 2 into bin 0 together (2+2 <= budget 6)
    val docs = Seq(
      (1L, "s", "a b"), (2L, "s", "a c"),        // cluster 10 members
      (3L, "s", "x y z"), (4L, "s", "p q"),      // singletons
      (5L, "s", "a d"), (6L, "t", "a e")).toDF("doc_id", "source", "text")
    val clusters = Seq((1L, 10L), (2L, 10L), (5L, 10L), (6L, 10L))
      .toDF("node", "cluster_id")
    val naive = Curation.packSequences(docs, "doc_id", "source", "text", 6)
      .as[(Long, String, Long, Long, Long)].collect()
    val naiveBin0 = naive.filter(r => r._2 == "s" && r._4 == 0L).map(_._1).toSet
    assert(naiveBin0.contains(1L) && naiveBin0.contains(2L),
      "fixture must make the naive pack collide two cluster members in one bin")
    val aware = Curation.packSequencesDedupAware(
      docs, "doc_id", "source", "text", 6, clusters)
      .as[(Long, String, Long, Long, Long, Long, Long)].collect()
    // the structural invariant: within every (source, wave, bin), all
    // cluster ids are distinct
    aware.groupBy(r => (r._2, r._4, r._6)).foreach { case (bin, members) =>
      val cids = members.map(_._3)
      assert(cids.distinct.length === cids.length,
        s"bin $bin holds two members of one cluster: ${members.mkString(", ")}")
    }
    // waves are the dup index per (source, cluster): the three s-side
    // cluster-10 members get waves 0,1,2; everything else wave 0
    val waveById = aware.map(r => r._1 -> r._4).toMap
    assert(Seq(1L, 2L, 5L).map(waveById) === Seq(0L, 1L, 2L))
    assert(Seq(3L, 4L, 6L).map(waveById) === Seq(0L, 0L, 0L))
    // wave 0's layout IS packSequences over the wave-0 docs (dedup'd corpus)
    val wave0 = aware.filter(r => r._2 == "s" && r._4 == 0L)
      .map(r => (r._1, r._6, r._7)).sortBy(_._1)
    val packed0 = Curation.packSequences(
      docs.filter(col("source") === "s" && col("doc_id").isin(1L, 3L, 4L)),
      "doc_id", "source", "text", 6)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._4, r._5)).sortBy(_._1)
    assert(wave0.toSeq === packed0.toSeq)
  }

  test("pack_dedup_aware at sf0.001: invariant holds on real LSH clusters") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.functions.LlmQueries.queries("pack_dedup_aware")(spark, sf)
      .select("doc_id", "source", "cluster_id", "wave", "bin")
      .as[(Long, String, Long, Long, Long)].collect()
    // non-vacuous: the corpus has at least one multi-member cluster
    assert(out.groupBy(r => (r._2, r._3)).exists(_._2.length >= 2),
      "fixture corpus must contain a multi-member near-dup cluster")
    out.groupBy(r => (r._2, r._4, r._5)).foreach { case (bin, members) =>
      val cids = members.map(_._3)
      assert(cids.distinct.length === cids.length,
        s"bin $bin holds two members of one cluster")
    }
  }

  test("pack_semantic at sf0.001: bins are cell-pure and offsets replay " +
      "the per-cell running token count") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.functions.LlmQueries.queries("pack_semantic")(spark, sf)
      .select("doc_id", "cid", "n_tokens", "bin", "bin_offset")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // non-vacuous: more than one semantic cell in play
    assert(out.map(_._2).distinct.length >= 2, "expected multiple k-means cells")
    // per cell, in doc_id order, bin*budget + bin_offset must equal the
    // running token count — the packSequences contract per stratum
    out.groupBy(_._2).foreach { case (cid, docs) =>
      var cum = 0L
      docs.sortBy(_._1).foreach { case (id, _, n, bin, off) =>
        assert(bin === cum / 4096 && off === cum % 4096,
          s"cell $cid doc $id: bin/offset out of step with running count")
        cum += n
      }
    }
    // cells match the public assignment exactly (bins can never mix
    // cells because the cell IS the packing stratum — checked via the
    // join reproducing every (doc_id, cid) row)
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("vec"))
    val cells = Similarity.semanticCells(corpus,
        Similarity.kmeansCentroids(corpus, centroidEvery = 25, iters = 2))
      .as[(Long, Long)].collect().toMap
    out.foreach { case (id, cid, _, _, _) =>
      assert(cells(id) === cid, s"doc $id packed under a foreign cell")
    }
  }

  test("shuffleShardsDedupAware: cluster members round-robin across " +
      "distinct shards; positions stay dense per shard") {
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // one 4-member cluster, one 3-member cluster, rest singletons
    val clusters = Seq((1L, 1L), (7L, 1L), (19L, 1L), (33L, 1L),
      (4L, 4L), (12L, 4L), (28L, 4L)).toDF("node", "cluster_id")
    val out = Curation.shuffleShardsDedupAware(docs, "doc_id", shards = 8, clusters)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === 40)
    // structural exclusion: members of one cluster all land on DIFFERENT
    // shards (cluster size <= shards)
    out.groupBy(_._2).filter(_._2.length >= 2).foreach { case (cid, ms) =>
      val sh = ms.map(_._3)
      assert(sh.distinct.length === sh.length,
        s"cluster $cid co-located two members in one shard: ${ms.mkString(", ")}")
      // and the round-robin is consecutive mod shards in doc-id order
      val byId = ms.sortBy(_._1).map(_._3)
      byId.sliding(2).foreach { case Array(a, b) =>
        assert((a + 1) % 8 === b, s"cluster $cid not consecutive: $byId")
      }
    }
    // positions are dense 1..n per shard
    out.groupBy(_._3).foreach { case (shard, ms) =>
      assert(ms.map(_._4).sorted.toSeq === (1L to ms.length).toSeq,
        s"shard $shard positions not dense")
    }
  }

  test("datasetSplitDedupAware: cluster members co-assign; singletons " +
      "keep the legacy content-hash split") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon"),
      (3L, "wholly different text one"), (4L, "wholly different text one"),
      (5L, "another unique document")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("node", "cluster_id")
    val got = Curation.datasetSplitDedupAware(docs, "text", "doc_id",
      valPermille = 100, testPermille = 50, clusters)
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    // near-dup cluster {1,2}: same bucket, same split
    assert(byId(1L) === byId(2L), s"cluster straddles the split: $byId")
    // unclustered docs: EXACT legacy datasetSplit buckets (content hash),
    // so exact-dup twins below the shingle threshold still co-assign
    val legacy = Curation.datasetSplit(docs, "text", 100, 50)
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    Seq(3L, 4L, 5L).foreach(id => assert(byId(id) === legacy(id)))
    assert(byId(3L) === byId(4L)) // exact dups co-assign either way
  }

  test("split_dedup_aware at sf0.001: no LSH cluster straddles the split") {
    val sf = "/root/testdata/sf0.001"
    val split = graft.functions.LlmQueries.queries("split_dedup_aware")(spark, sf)
      .as[(Long, Long, String)].collect().map(t => t._1 -> t._3).toMap
    val clusters = graft.functions.LlmQueries.queries("dedup_clusters")(spark, sf)
      .as[(Long, Long)].collect()
    val grouped = clusters.groupBy(_._2).filter(_._2.length >= 2)
    assert(grouped.nonEmpty, "fixture corpus must contain a multi-member cluster")
    grouped.foreach { case (cid, ms) =>
      val splits = ms.map(m => split(m._1)).distinct
      assert(splits.length === 1, s"cluster $cid straddles splits: $splits")
    }
  }

  test("dedup_keep_best keeps exactly one max-quality member per cluster") {
    val sf = "/root/testdata/sf0.001"
    val kept = LlmQueries.queries("dedup_keep_best")(spark, sf)
      .as[(Long, Long, Long)].collect()
    val clusters = LlmQueries.queries("dedup_clusters")(spark, sf)
      .as[(Long, Long)].collect()
    val quality = LlmQueries.queries("text_quality")(spark, sf)
      .as[(Long, Long)].collect().toMap
    // one keep per cluster id, and every cluster from dedup_clusters has one
    assert(kept.map(_._1).distinct.length === kept.length)
    val keptByCluster = kept.map(k => k._1 -> k._2).toMap
    val members = clusters.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    members.foreach { case (cid, ms) =>
      val keep = keptByCluster(cid)
      assert(ms.contains(keep), s"cluster $cid keep $keep not a member")
      // the keep maximizes (quality desc, id asc) over the cluster
      val best = ms.toSeq.map(id => (quality(id), id)).maxBy(t => (t._1, -t._2))
      assert(keep === best._2, s"cluster $cid kept $keep, expected ${best._2}")
    }
    // docs in no cluster keep themselves with their own quality
    val clustered = clusters.map(_._1).toSet
    kept.filterNot(k => members.contains(k._1)).foreach { case (cid, id, q) =>
      assert(cid === id && !clustered.contains(id) && q === quality(id))
    }
  }

  test("refreshClustersRetract: retracted labels == full CC over surviving " +
      "pairs bit-for-bit — deleted representative relabels, a bridge " +
      "removal splits, untouched clusters never enter the re-solve") {
    // chain 1-2-3 (deleting the BRIDGE 2 splits it; 1 and 3 drop out as
    // pairless singletons), triangle 10-11-12 (deleting the
    // REPRESENTATIVE/min-id 10 relabels {11,12} to 11), pair 20-21
    // (untouched — must pass through without entering the merge graph)
    val pairs0 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L))
    val state0 = Curation.connectedComponents(pairs0.toDF("a", "b"), "a", "b")
    assert(state0.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L,
        20L -> 20L, 21L -> 20L))
    val dead = Seq(2L, 10L)
    val surviving = pairs0.filterNot(p =>
      dead.contains(p._1) || dead.contains(p._2))
    def pairsAmong(members: org.apache.spark.sql.DataFrame) = {
      val m = members.select(col("node"))
      surviving.toDF("a", "b")
        .join(m.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(m.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    val mergeEdges = new java.util.concurrent.atomic.AtomicLong(-1)
    val retracted = Curation.refreshClustersRetract(
      state0, dead.toDF("node"), pairsAmong, Some(mergeEdges))
      .checkpointed()
    val full = Curation.connectedComponents(surviving.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(retracted.as[(Long, Long)].collect().toMap === full)
    assert(full === Map(11L -> 11L, 12L -> 11L, 20L -> 20L, 21L -> 20L))
    // never-the-corpus proof: only the affected survivors' pairs enter —
    // (11,12) alone; the untouched (20,21) stays out of the re-solve
    assert(mergeEdges.get() === 1L)
    // replay no-op: the deleted ids are gone from the state, so a
    // re-applied retraction finds no affected clusters
    val replayed = Curation.refreshClustersRetract(
      retracted, dead.toDF("node"), pairsAmong)
      .as[(Long, Long)].collect().toMap
    assert(replayed === full, "replayed retraction must be a no-op")
  }

  test("refreshClustersRetract equals full CC over surviving pairs on " +
      "random graphs with random delete sets (3 seeds)") {
    for (seed <- Seq(11L, 12L, 13L)) {
      val rnd = new scala.util.Random(seed)
      val pairs0 = Seq.fill(120)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
        .filter(p => p._1 != p._2).distinct
      val dead = rnd.shuffle(pairs0.flatMap(p => Seq(p._1, p._2)).distinct)
        .take(12)
      val surviving = pairs0.filterNot(p =>
        dead.contains(p._1) || dead.contains(p._2))
      def pairsAmong(members: org.apache.spark.sql.DataFrame) =
        surviving.toDF("a", "b")
          .join(members.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(members.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
      val state0 = Curation.connectedComponents(pairs0.toDF("a", "b"), "a", "b")
      val retracted = Curation.refreshClustersRetract(
        state0, dead.toDF("node"), pairsAmong)
        .as[(Long, Long)].collect().toMap
      val full = Curation.connectedComponents(surviving.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(retracted === full, s"seed $seed: retraction != full CC over survivors")
    }
  }

  test("quantileNormalizeQuality matches a naive reimplementation") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Curation.quantileNormalizeQuality(docs, "text", "doc_id", "source")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val byq = rows.map(r => (r._2, r._3))
    val n = byq.length.toLong
    val global = byq.map(_._2)
    def gPermille(v: Long) = global.count(_ <= v) * 1000L / n
    val gvals = global.distinct
    def inv(p: Long) = gvals.filter(v => gPermille(v) >= p).min
    val bySrc = byq.groupBy(_._1).map { case (s, qs) => s -> qs.map(_._2) }
    for ((id, src, q, p, qn) <- rows) {
      val srcQs = bySrc(src)
      assert(p == srcQs.count(_ <= q) * 1000L / srcQs.length, s"doc $id permille")
      assert(qn == inv(p), s"doc $id q_norm")
    }
    // the fairness property the operator exists for: a global cut at any
    // normalized value keeps per-source fractions within one histogram
    // cell of each other (exact equality is impossible with ties)
    val cut = inv(500)
    val fracs = rows.groupBy(_._2).map { case (_, rs) =>
      rs.count(_._5 >= cut).toDouble / rs.size
    }
    assert(fracs.max - fracs.min <= 0.2,
      s"per-source keep fractions spread too wide: $fracs")
  }

  test("contrastivePairs: in-batch pairing, cluster-mate negatives dropped") {
    import org.apache.spark.sql.Row
    // clusters: {1,2,3} (chained) and {10,11}; one shard so the pairing
    // order is (1,2) -> (2,3) -> (10,11) -> wrap
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = Curation.contrastivePairs(pairs, "a", "b", shards = 1)
      .select("anchor_id", "pos_id", "neg_id")
      .orderBy("anchor_id").collect()
    // (1,2)'s in-batch negative is 3 — same cluster as anchor 1 -> DROPPED
    // (2,3)'s negative is 11 (other cluster) -> kept
    // (10,11) wraps to negative 2 (other cluster) -> kept
    assert(out.toSeq == Seq(Row(2L, 3L, 11L), Row(10L, 11L, 2L)))
  }

  test("contrastivePairs: single-pair corpus yields no self-negative") {
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    // the only candidate negative is the pair's own positive (wrap to
    // self) — same cluster, so the output is empty rather than a
    // degenerate (anchor, pos, pos) row
    assert(Curation.contrastivePairs(pairs, "a", "b", shards = 1).count() === 0)
  }

  test("corpus_datasheet invariants: dup and lang counts bounded by doc count") {
    val rows = LlmQueries.queries("corpus_datasheet")(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, nTok, nUniq, sumQ, nLangs) =>
      assert(nDocs > 0 && nTok > 0, src)
      assert(nUniq >= 1 && nUniq <= nDocs, s"$src uniq $nUniq of $nDocs")
      assert(nLangs >= 1 && nLangs <= nDocs, src)
      assert(sumQ >= 0 && sumQ <= nDocs * 1000, s"$src quality mass $sumQ")
    }
    // totals match the corpus row count
    val total = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(rows.map(_._2).sum === total)
  }
}
