package graft.streambench

import scala.collection.mutable
import scala.util.Random

/** One generated event, shaped like a row of the corpus `events` table.
  * `tsMs` is whole milliseconds: the W2 tee keeps its watermark in ms, so
  * the gate compares identical instants on both sides.
  */
final case class Ev(id: Long, tsMs: Long, user: Long, typ: String, value: Double) {
  def tsUs: Long = tsMs * 1000L
}

/** Seeded event source shaped like the sf0.1 `events` table as measured
  * by `streambench/corpus_shape.py`: 1,500 users and five event types, both
  * uniform; exponential gaps between events (mean 25.9 s); values
  * exponential with mean 49.9, in cents. The sequence is in strictly
  * increasing event time (no ties, so the per-key state machines and their
  * batch twins order rows identically).
  */
final class EventGen(seed: Long) {
  private val rnd = new Random(seed)
  private var nextId = 0L
  private var ts = 1704067200000L // 2024-01-01, the corpus epoch

  private def exp(mean: Double): Double = -math.log(1.0 - rnd.nextDouble()) * mean

  def next(): Ev = {
    ts += 1L + exp(EventGen.MeanGapMs).toLong
    val e = Ev(nextId, ts, rnd.nextInt(EventGen.Users).toLong,
      EventGen.Types(rnd.nextInt(EventGen.Types.length)), math.floor(exp(EventGen.MeanValue) * 100) / 100)
    nextId += 1
    e
  }

  def batch(n: Int): Array[Ev] = Array.fill(n)(next())
}

object EventGen {
  val Users = 1500
  val Types: Array[String] = Array("error", "view", "signup", "purchase", "click")
  val MeanGapMs = 25920.0
  val MeanValue = 49.87
}

/** Arrival order over an [[EventGen]] sequence: each base slot of
  * `batchSize` events is one micro-batch, except that a seeded `disorder`
  * share of events is held back 1..`maxDelay` batches. Rows inside an
  * arrival batch are sorted by event time, so a row is late for the W2 tee
  * (previous batches' max) exactly when it is late for the per-row batch
  * operator (`CoreOps.lateDataSplit` over the same arrival order).
  */
final class ArrivalFeed(gen: EventGen, batchSize: Int, disorder: Double,
    maxDelay: Int, seed: Long) {
  private val rnd = new Random(seed ^ 0x5DEECE66DL)
  private val held = mutable.Map.empty[Long, mutable.ArrayBuffer[Ev]]
  private var slot = 0L

  def next(): Array[Ev] = {
    val out = held.remove(slot).getOrElse(mutable.ArrayBuffer.empty[Ev])
    gen.batch(batchSize).foreach { e =>
      if (disorder > 0 && rnd.nextDouble() < disorder)
        held.getOrElseUpdate(slot + 1 + rnd.nextInt(maxDelay), mutable.ArrayBuffer.empty) += e
      else out += e
    }
    slot += 1
    out.toArray.sortBy(e => (e.tsMs, e.id))
  }
}

/** Seeded document stream shaped like the sf0.1 `documents` table as
  * measured by `streambench/corpus_shape.py`: 10-100 words (uniform) drawn
  * uniformly from a 30-word vocabulary, and 5% near-duplicates, each an
  * earlier document with the word "dup" appended, so LSH finds pairs.
  */
final class DocGen(seed: Long) {
  private val rnd = new Random(seed)
  private val made = mutable.ArrayBuffer.empty[String]
  private var nextId = 0L

  private def word(): String = DocGen.Vocab(rnd.nextInt(DocGen.Vocab.length))

  def next(): (Long, String) = {
    val text =
      if (made.nonEmpty && rnd.nextDouble() < DocGen.NearDupShare) made(rnd.nextInt(made.size)) + " dup"
      else Seq.fill(10 + rnd.nextInt(91))(word()).mkString(" ")
    made += text
    val id = nextId
    nextId += 1
    (id, text)
  }

  def batch(n: Int): Seq[(Long, String)] = Seq.fill(n)(next())

  /** A keyword query of 1-4 distinct terms: vocabulary words or "dup", as
    * in the engine's own BM25 queries.
    */
  def query(): String =
    Seq.fill(1 + rnd.nextInt(4))(if (rnd.nextInt(DocGen.Vocab.length + 1) == 0) "dup" else word())
      .distinct.mkString(" ")

  def pick[T](xs: IndexedSeq[T], n: Int): Seq[T] = rnd.shuffle(xs).take(n)
}

object DocGen {
  val Vocab: Array[String] = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector window")
    .split(' ')
  val NearDupShare = 0.05
}
