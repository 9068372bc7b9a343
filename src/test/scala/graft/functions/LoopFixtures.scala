package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Small fixtures that drive every round loop of the engine, shared by
  * CheckpointsSpec (checkpoints held against rounds) and LoopJobsSpec
  * (Spark jobs per call).
  */
object LoopFixtures {

  /** One operator call: `run(r)` runs it at `r` rounds; `rounds` is the
    * spec's base count. A `traced` result reads every round's frontier.
    */
  final case class Loop(name: String, rounds: Int, run: Int => DataFrame, traced: Boolean = false)

  def loops(spark: SparkSession): Seq[Loop] = {
    import spark.implicits._
    // a 400-node chain plus a 50-node ring: with k = 2 the chain peels
    // one node per end per round and the ring is the core, so every loop
    // still runs at twice its base round count
    val chain = (0L until 399L).map(i => (i, i + 1))
    val ring = (0L until 50L).map(i => (1000L + i, 1000L + (i + 1) % 50))
    val half = (chain ++ ring).toDF("src", "dst")
    val sym = half.union(half.select($"dst".as("src"), $"src".as("dst")))
    val knn = sym.select($"src".as("qid"), $"dst".as("vec_id"), lit(1L).as("rank"))
    val seeds = Seq((0L, 7L)).toDF("node", "label")
    val walkSeeds = Seq(0L, 200L, 1000L).toDF("node")
    // the delta forms peel or relax only what a delta touched, so their
    // round count is set by the delta: a pendant chain of `r` nodes off
    // the ring, and a shortcut from the seed to the chain's middle
    def pendant(r: Int) = (0 until r).map(i => (2000L + i, if (i == 0) 1000L else 1999L + i))
    val shortcut = Seq((0L, 200L), (200L, 0L)).toDF("src", "dst")
    // CC runs until its labels settle: a chain of 2^r nodes takes more
    // rounds as r grows (pointer jumping halves its depth each round)
    def ccChain(r: Int) = (0L until (1L << r) - 1).map(i => (i, i + 1)).toDF("a", "b")
    val vecs = (0L until 60L)
      .map(i => (i, Seq((i % 7).toDouble + 1, (i % 5).toDouble, (i % 3).toDouble)))
      .toDF("vec_id", "vec")
    val text = Seq((1L, "low low low lower lower newest widest"),
      (2L, "banana bandana cabana ananas"), (3L, "mississippi missing mist")).toDF("doc_id", "text")
    Seq(
      Loop("kCore", 4, r => Graph.kCore(sym, "src", "dst", k = 2, rounds = r)),
      Loop("kCoreHalf", 4, r => Graph.kCoreHalf(half, k = 2, rounds = r)),
      Loop("kCoreDelta", 4, { r =>
        val before = ring.toDF("src", "dst")
        val old = Graph.kCoreHalf(before, k = 2, rounds = 4)
        Graph.kCoreDelta(before.union(pendant(r).toDF("src", "dst")), old, k = 2)
      }),
      Loop("bfsHops", 4, r => Graph.bfsHops(sym, "src", "dst", Seq(0L), maxHops = r)),
      Loop("bfsHopsDelta", 4, { r =>
        val old = Graph.bfsHops(sym, "src", "dst", Seq(0L), maxHops = r)
        Graph.bfsHopsDelta(sym.union(shortcut), "src", "dst", old, shortcut, maxHops = r)
      }),
      Loop("labelPropagation", 4, r => Graph.labelPropagation(knn, seeds, rounds = r)),
      Loop("communityLabels", 4, r => Graph.communityLabels(sym, "src", "dst", rounds = r)),
      // ballBfs and the cone recompute (communityLabelsDeltaFrom)
      Loop("communityLabelsDelta", 4, { r =>
        val old = Graph.communityLabels(half, "src", "dst", rounds = r)
        Graph.communityLabelsDelta(half.union(shortcut), "src", "dst", r, old, shortcut)
      }),
      Loop("hits", 4, r => Graph.hits(sym, "src", "dst", iterations = r)),
      // 16 rounds reach the periodic cut of every PageRank form
      Loop("pageRank", 16, r => Graph.pageRank(sym, "src", "dst", iterations = r)),
      Loop("pageRankWeighted", 16,
        r => Graph.pageRankWeighted(sym.withColumn("w", lit(2L)), "src", "dst", "w", iterations = r)),
      Loop("personalizedPageRank", 16,
        r => Graph.personalizedPageRank(sym, "src", "dst", Seq(0L, 1000L), iterations = r)),
      Loop("connectedComponents", 4, r => Curation.connectedComponents(ccChain(r), "a", "b")),
      Loop("kmeansCentroids", 4,
        r => Similarity.kmeansCentroids(vecs, centroidEvery = 10, iters = r)),
      Loop("bpeTrain", 4, r => TextAnalysis.bpeTrain(text, "text", merges = r)),
      Loop("deterministicWalks", 4,
        r => Graph.deterministicWalks(sym, "src", "dst", walkSeeds, steps = r), traced = true),
      Loop("node2vecWalks", 4,
        r => Graph.node2vecWalks(sym, "src", "dst", walkSeeds, steps = r,
          retPermille = 500, inPermille = 1000, outPermille = 2000), traced = true))
  }
}
