package graft.functions

import graft.SparkSpec

/** Pins the Spark jobs one call of each round loop runs on its
  * [[LoopFixtures]] fixture at the base round count: the call plus one
  * `count()` of its result, the delta forms' old state included. Each pin
  * is the count at the commit before the loops shared `Checkpoints.iterate`.
  * A change to a loop's round discipline must not add a job; a change that
  * removes one lowers its pin here.
  */
class LoopJobsSpec extends SparkSpec {

  private val pinned: Map[String, Int] = Map(
    "kCore" -> 19,
    "kCoreHalf" -> 39,
    "kCoreDelta" -> 50,
    "bfsHops" -> 20,
    "bfsHopsDelta" -> 61,
    "labelPropagation" -> 26,
    "communityLabels" -> 22,
    "communityLabelsDelta" -> 92,
    "hits" -> 41,
    "pageRank" -> 41,
    "pageRankWeighted" -> 41,
    "personalizedPageRank" -> 43,
    "connectedComponents" -> 50,
    "kmeansCentroids" -> 36,
    "bpeTrain" -> 16,
    "deterministicWalks" -> 16,
    "node2vecWalks" -> 27)

  test("each round loop runs at most its pinned number of Spark jobs per call") {
    val loops = LoopFixtures.loops(spark)
    assert(loops.map(_.name).toSet === pinned.keySet)
    // adaptive execution submits a plan's query stages concurrently, so
    // which of them start before a re-plan settles varies a call's count
    // by a job either way (in the parent tree too); a job the loop always
    // runs shows on every call, so a count over the pin is retaken, up to
    // three calls, and the fewest is held to the pin
    def fewest(l: LoopFixtures.Loop, calls: Int): Int = {
      val n = Checkpoints.scoped(jobsDuring(l.run(l.rounds).count())._2)
      if (n <= pinned(l.name) || calls == 1) n else n min fewest(l, calls - 1)
    }
    val off = loops.map(l => l.name -> fewest(l, 3)).sorted.collect {
      case (name, n) if n > pinned(name) => s"$name ran $n jobs, pinned ${pinned(name)}"
    }
    assert(off.isEmpty, off.mkString("; "))
  }
}
