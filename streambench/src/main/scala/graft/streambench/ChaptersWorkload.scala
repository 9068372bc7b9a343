package graft.streambench

import scala.collection.mutable

/** The `chapters_steady` workload: each pipeline in turn gets its own
  * query, one untimed warm-up batch (set-up), then a timed closed loop of
  * one client for its share of the run. Only one query runs at a time. Once
  * every query has stopped, the correctness gates run side by side.
  */
object ChaptersWorkload {
  val BatchSize = 500
  /** Share of events held back 1..`MaxDelay` batches. */
  val Disorder = 0.05
  val MaxDelay = 3

  /** Watermark delay that covers the feed's disorder bound: a held event
    * is at most `MaxDelay + 1` batches of ~`BatchSize * EventGen.MeanGapMs`
    * behind (4 batches of 500 events at a 26 s mean gap is ~14.4 h).
    */
  val Watermark = "24 hours"

  /** Run every pipeline. Each gets `seconds / pipes` of timed batches;
    * with `tracer`, half a share untraced, half traced, then half untraced
    * again, so warm-up does not favour either side.
    * Returns the set-up seconds (query starts and warm-up batches).
    */
  def run(c: Ctx, seconds: Double, tracer: Option[Tracer]): Double = {
    val pipes = Seq(new Pipes.A1(Watermark), new Pipes.A2, new Pipes.A4(Watermark),
      new Pipes.J1(Watermark), new Pipes.W2, new Pipes.ST1, new Pipes.ST2)
    val share = seconds / pipes.size
    var setupS = 0.0
    val timed = mutable.Map.empty[Pipe, mutable.ArrayBuffer[BatchRec]]
    val streamed = pipes.filter { p =>
      val gen = new EventGen(c.seed)
      val feed: () => Array[Ev] =
        if (p.ordered) () => gen.batch(BatchSize)
        else {
          val arrival = new ArrivalFeed(gen, BatchSize, Disorder, MaxDelay, c.seed)
          () => arrival.next()
        }
      val mine = timed.getOrElseUpdate(p, mutable.ArrayBuffer.empty)
      def untimed(): Unit = {
        val b = feed()
        p.fed += b
        p.add(b)
        p.queries.foreach(_.processAllAvailable())
      }
      def loop(budget: Double): Unit = {
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < budget) {
          val b = feed()
          p.fed += b
          mine += c.batch(p.name, p.queries) {
            val rows = p.add(b)
            p.queries.foreach(_.processAllAvailable())
            rows
          }
        }
      }
      try {
        val t0 = System.nanoTime()
        p.start(c)
        untimed()
        setupS += (System.nanoTime() - t0) / 1e9
        tracer match {
          case None => loop(share)
          case Some(t) =>
            loop(share / 2)
            c.traced(t)(loop(share / 2))
            loop(share / 2)
        }
        p.flush()
        System.err.println(s"[streambench] ${p.name}: batches ms ${mine.map(_.ms.round).mkString(" ")}")
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[streambench] ${p.name} failed: $e")
          fail(c, p, mine)
          false
      } finally p.stop()
    }
    // the gates: streamed output vs the batch twin over the same events
    val tg = System.nanoTime()
    c.inParallel(streamed.map { p =>
      c.guarded(s"${p.name} gate")(fail(c, p, timed(p))) {
        val corpus = c.path("corpus", p.name)
        Pipes.writeCorpus(c.spark, p.fed.toArray.flatten, corpus)
        if (!p.check(c, corpus)) fail(c, p, timed(p))
      }
    })
    System.err.println(f"[streambench] gates took ${(System.nanoTime() - tg) / 1e9}%.1f s")
    setupS
  }

  private def fail(c: Ctx, p: Pipe, mine: mutable.ArrayBuffer[BatchRec]): Unit = {
    System.err.println(s"[streambench] ${p.name}: failed; its batches count as failed")
    if (mine.isEmpty) mine += c.failed(p.name)
    mine.foreach(_.failed = true)
  }
}
