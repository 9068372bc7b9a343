package graft.functions

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of `localCheckpoint` blocks: every checkpoint is made
  * through [[local]] (`.checkpointed()` in a chain), and a [[scoped]]
  * block owns the ones made on its thread while it is open.
  *  - Registration is thread-local and explicit: only [[local]] calls
  *    register, to the innermost scope on their own thread. A raw
  *    `localCheckpoint()` is never touched by any scope.
  *  - On exit a scope releases every checkpoint it owns that its result
  *    does not reach, and passes the rest to the enclosing scope. Reach
  *    is the `LogicalRDD`s in a frame's plan (subqueries included) plus
  *    their transitive `rdd.dependencies`, so a lazy checkpoint keeps its
  *    inputs until it runs. A tuple, case class or collection reaches
  *    what its frames reach; any other result reaches nothing.
  *  - A checkpoint made with no scope open, or escaping the outermost
  *    one, is the caller's, released with [[unpersist]].
  *  - A scope that exits by an exception releases everything it owns.
  *  - A round loop runs in [[iterate]], a scope that also releases its
  *    superseded rounds.
  *  - Units of work open a scope (each foreachBatch body, Verify query,
  *    Bench row and run, test), so state a callback keeps past its batch
  *    must be materialized by the callback (its own raw checkpoint).
  *
  * Release goes through the RDD: `Dataset.unpersist` only drops
  * CacheManager entries and is a silent no-op on a checkpoint (measured
  * on Spark 4.1.2, pinned by CheckpointsSpec).
  */
private[graft] object Checkpoints {

  /** This thread's open scopes, innermost first: the RDDs each owns. */
  private val open = new ThreadLocal[List[mutable.LinkedHashMap[Int, RDD[_]]]] {
    override def initialValue() = Nil
  }

  /** `ds.localCheckpoint(eager)`, owned by the innermost open scope. */
  def local[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val c = ds.localCheckpoint(eager)
    open.get.headOption.foreach(s => rddOf(c.toDF()).foreach(r => s(r.id) = r))
    c
  }

  /** `ds.checkpointed()`: [[local]] in a chain. */
  implicit class Owned[T](private val ds: Dataset[T]) extends AnyVal {
    def checkpointed(eager: Boolean = true): Dataset[T] = local(ds, eager)
  }

  /** Run `body` in a scope owning the checkpoints [[local]] makes on this
    * thread meanwhile (the contract above).
    */
  def scoped[T](body: => T): T = {
    val scope = mutable.LinkedHashMap.empty[Int, RDD[_]]
    val outer = open.get
    open.set(scope :: outer)
    val result =
      try body
      catch { case t: Throwable =>
        open.set(outer)
        scope.values.foreach(_.unpersist(blocking = false))
        throw t
      }
    open.set(outer)
    releaseUnreached(scope, result)
    outer.headOption.foreach(_ ++= scope)
    result
  }

  /** A round loop in a scope of its own: `state = step(state, round)` for
    * rounds 1, 2, ... while rounds remain and `!done(state)` (the cap is
    * tested first, so a spent budget runs no convergence job). Returns the
    * final state and the rounds run. After every round it releases each
    * checkpoint the loop (`init` included) made that the state no longer
    * reaches, so a superseded round goes at once while a lazy state keeps
    * what it derives from; checkpoints made before the call are never
    * touched. A step carries in its state all that later rounds or the
    * caller read, its convergence facts (a changed count, a flag) included.
    */
  def iterate[S](init: => S, maxRounds: Int)(done: S => Boolean)(step: (S, Int) => S): (S, Int) =
    scoped {
      val loop = open.get.head
      var state = init
      var round = 0
      while (round < maxRounds && !done(state)) {
        round += 1
        state = step(state, round)
        releaseUnreached(loop, state)
      }
      (state, round)
    }

  /** Release, and drop from `scope`, what it owns that `result` does not reach. */
  private def releaseUnreached(scope: mutable.LinkedHashMap[Int, RDD[_]], result: Any): Unit = {
    val kept = reached(result)
    val drop = scope.filter { case (id, _) => !kept(id) }
    drop.values.foreach(_.unpersist(blocking = false))
    scope --= drop.keys
  }

  /** Ids of the RDDs `result`'s frames scan, with their dependencies. */
  private def reached(result: Any): Set[Int] = {
    val seen = mutable.Set.empty[Int]
    val todo = mutable.Stack.empty[RDD[_]]
    def walk(x: Any): Unit = x match {
      case ds: Dataset[_] =>
        ds.queryExecution.logical.collectWithSubqueries { case l: LogicalRDD => l.rdd }
          .foreach(todo.push)
      case i: Iterable[_] => i.foreach(walk)
      case p: Product => p.productIterator.foreach(walk)
      case _ => ()
    }
    walk(result)
    while (todo.nonEmpty) {
      val r = todo.pop()
      if (seen.add(r.id)) r.dependencies.foreach(d => todo.push(d.rdd))
    }
    seen.toSet
  }

  /** The RDD behind a frame that IS a checkpoint: the `LogicalRDD`, under
    * Projects that only keep or rename its columns (`.drop`, `.select`).
    * Strict on purpose: a filter over a shared working set, or a computed
    * column over a checkpoint, is a new frame, and releasing the
    * checkpoint under it would free blocks other frames still need.
    */
  def rddOf(df: DataFrame): Option[RDD[_]] = {
    def keepsColumns(p: Project) = p.projectList.forall {
      case _: Attribute | Alias(_: Attribute, _) => true
      case _ => false
    }
    @scala.annotation.tailrec
    def strip(plan: LogicalPlan): Option[RDD[_]] = plan match {
      case l: LogicalRDD => Some(l.rdd)
      case p: Project if keepsColumns(p) => strip(p.child)
      case _ => None
    }
    strip(df.queryExecution.logical)
  }

  /** Release `df`'s checkpoint now: a caller-owned frame (a round loop's
    * superseded rounds go through [[iterate]]). One an ENCLOSING scope
    * owns is left to it, so a nested scope never frees its caller's blocks.
    */
  def unpersist(df: DataFrame): Unit = rddOf(df).foreach { r =>
    val scopes = open.get
    if (!scopes.drop(1).exists(_.contains(r.id))) {
      scopes.headOption.foreach(_.remove(r.id))
      r.unpersist(blocking = false)
    }
  }

  /** ACTUAL storage footprint (memory + disk bytes) of a checkpointed
    * frame's materialized blocks — the precise input to a broadcast-fit
    * decision, where plan statistics are either join-inflated (local
    * derived frames) or absent (LogicalRDD stats default). 0 for a frame
    * that is not a checkpoint (strict [[rddOf]]) or whose blocks are gone.
    */
  def storageBytes(df: DataFrame): Long = rddOf(df).map { rdd =>
    df.sparkSession.sparkContext.getRDDStorageInfo
      .filter(_.id == rdd.id).map(i => i.memSize + i.diskSize).sum
  }.getOrElse(0L)
}
