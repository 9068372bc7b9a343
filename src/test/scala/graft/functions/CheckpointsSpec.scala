package graft.functions

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.SparkSpec

/** Pins the measured release semantics of localCheckpoint blocks (r17
  * third review): `Dataset.unpersist` is a silent no-op on them — only
  * [[Checkpoints.unpersist]]'s direct RDD release frees the storage.
  * If a Spark upgrade ever changes this, the scaladoc contract (and the
  * codebase's release discipline) should be revisited — this spec is
  * the tripwire. The scope cases pin the owner contract of
  * [[Checkpoints.scoped]].
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def held(id: Int): Boolean = spark.sparkContext.getPersistentRDDs.contains(id)
  private def idOf(df: DataFrame): Int = Checkpoints.rddOf(df).get.id
  private def frame: DataFrame = (1 to 1000).toDF("x")

  /** Run `f` on a thread of its own: no scope is open there. */
  private def onOwnThread[T](f: => T): T = {
    val pool = Executors.newSingleThreadExecutor()
    try Await.result(Future(f)(ExecutionContext.fromExecutor(pool)), Duration(60, TimeUnit.SECONDS))
    finally pool.shutdown()
  }

  test("Dataset.unpersist is a no-op on localCheckpoint blocks; " +
      "Checkpoints.unpersist releases them; the strict matcher skips " +
      "frames that merely reference a shared checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val df = (1 to 1000).toDF("x").localCheckpoint()
    assert(sc.getPersistentRDDs.size === before + 1)
    df.unpersist(true)
    assert(sc.getPersistentRDDs.size === before + 1,
      "Dataset.unpersist released checkpoint blocks — Spark semantics " +
        "changed; revisit the Checkpoints contract")
    // a frame that merely CONSUMES the checkpoint (a filter over it) is
    // not matched — the strictness that keeps shared working sets alive
    Checkpoints.unpersist(df.filter($"x" > 10))
    assert(sc.getPersistentRDDs.size === before + 1)
    // a Project that only keeps columns IS matched (the `.drop` shape)
    Checkpoints.unpersist(df.select($"x"))
    assert(sc.getPersistentRDDs.size === before,
      "Checkpoints.unpersist failed to release the checkpoint")
  }

  test("a computed column over a checkpoint is not that checkpoint") {
    val c = Checkpoints.local(frame)
    Checkpoints.unpersist(c.select($"x", lit(1L).as("one")))
    assert(held(idOf(c)))
    Checkpoints.unpersist(c.select($"x".as("y")).select($"y"))
    assert(!held(idOf(c)), "a chain of renames is still the checkpoint")
  }

  test("a scope releases a checkpoint its result does not reach") {
    var id = -1
    val n = Checkpoints.scoped {
      val c = Checkpoints.local(frame)
      id = idOf(c)
      c.count()
    }
    assert(n === 1000)
    assert(id >= 0 && !held(id))
  }

  test("a checkpoint the result reaches passes to the parent scope; " +
      "with no parent it stays held") {
    var id = -1
    Checkpoints.scoped {
      val out = Checkpoints.scoped {
        val c = Checkpoints.local(frame)
        id = idOf(c)
        c.filter($"x" > 10)
      }
      assert(held(id), "the child released what its result reads")
      assert(out.count() === 990)
      ()
    }
    assert(!held(id), "the parent did not release what it inherited")
    // a tuple result reaches what its frames reach
    val (kept, n) = onOwnThread(Checkpoints.scoped {
      val c = Checkpoints.local(frame)
      (c, c.filter($"x" > 500).count())
    })
    assert(n === 500)
    assert(held(idOf(kept)), "a checkpoint escaping the outermost scope was released")
    // it is the caller's now: the caller releases it
    Checkpoints.unpersist(kept)
    assert(!held(idOf(kept)))
  }

  test("a lazy checkpoint result keeps its persisted inputs") {
    var inId = -1
    Checkpoints.scoped {
      val out = Checkpoints.scoped {
        val in = Checkpoints.local(frame)
        inId = idOf(in)
        Checkpoints.local(in.filter($"x" > 10), eager = false)
      }
      assert(held(inId), "the lazy result has not run yet and still reads its input")
      assert(out.count() === 990)
      ()
    }
    assert(!held(inId))
  }

  test("an exception releases everything the scope owns") {
    var ids = Seq.empty[Int]
    intercept[IllegalStateException] {
      Checkpoints.scoped {
        val a = Checkpoints.local(frame)
        val b = Checkpoints.scoped(Checkpoints.local(a.filter($"x" > 1)))
        ids = Seq(idOf(a), idOf(b))
        throw new IllegalStateException("boom")
      }
    }
    assert(ids.size === 2 && ids.forall(!held(_)))
  }

  test("a raw localCheckpoint made outside the owner is untouched") {
    val raw = frame.localCheckpoint()
    val inside = Checkpoints.scoped {
      val r = frame.localCheckpoint()
      Checkpoints.local(raw.filter($"x" > 10)).count()
      r
    }
    Checkpoints.scoped(Checkpoints.local(inside.select($"x")).count())
    assert(held(idOf(raw)) && held(idOf(inside)))
    Checkpoints.unpersist(raw)
    Checkpoints.unpersist(inside)
    assert(!held(idOf(raw)) && !held(idOf(inside)))
  }

  test("a nested scope leaves an outer scope's checkpoint to that scope") {
    var id = -1
    Checkpoints.scoped {
      val outer = Checkpoints.local(frame)
      id = idOf(outer)
      Checkpoints.scoped {
        Checkpoints.unpersist(outer) // a loop's first swap over a caller's frame
        Checkpoints.local(outer.filter($"x" > 1)).count()
      }
      assert(held(id))
      assert(outer.count() === 1000)
    }
    assert(!held(id))
  }

  test("two threads' scopes do not see each other's checkpoints") {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val aMade = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    try {
      val a = Future(Checkpoints.scoped {
        val c = Checkpoints.local(frame)
        aMade.countDown()
        assert(bDone.await(60, TimeUnit.SECONDS))
        val stillHeld = held(idOf(c))
        (idOf(c), stillHeld)
      })
      val b = Future {
        assert(aMade.await(60, TimeUnit.SECONDS))
        val id = Checkpoints.scoped(idOf(Checkpoints.local(frame)))
        bDone.countDown()
        id
      }
      val (aId, aHeldAfterB) = Await.result(a, Duration(60, TimeUnit.SECONDS))
      val bId = Await.result(b, Duration(60, TimeUnit.SECONDS))
      assert(aHeldAfterB, "thread B's scope released thread A's checkpoint")
      assert(!held(aId) && !held(bId))
    } finally pool.shutdown()
  }

  test("iterate releases each superseded round at its boundary") {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Int]
    def pinned(df: DataFrame): DataFrame = { val c = Checkpoints.local(df); ids += idOf(c); c }
    val (out, rounds) = Checkpoints.iterate(pinned(frame), 4)(_ => false) { (s, r) =>
      assert(ids.filter(held) === Seq(idOf(s)), s"round $r started holding more than its input")
      pinned(s.filter($"x" > r))
    }
    assert(rounds === 4 && ids.size === 5)
    assert(ids.filter(held) === Seq(idOf(out)), "the final state's checkpoint is the only one held")
    assert(out.count() === 996)
  }

  test("iterate keeps an older checkpoint a lazy state still derives from") {
    var first = -1
    val (out, _) = Checkpoints.iterate(frame, 4)(_ => false) { (s, r) =>
      if (r == 1) { val c = Checkpoints.local(s); first = idOf(c); c }
      else {
        assert(held(first), s"round $r lost the checkpoint its lazy input reads")
        s.filter($"x" > r)
      }
    }
    assert(held(first))
    assert(out.count() === 996)
    // a lazy checkpoint keeps the eager one it reads until it runs
    var eagerId = -1
    val (lazyOut, _) = Checkpoints.iterate(frame, 2)(_ => false) { (s, r) =>
      if (r == 1) { val c = Checkpoints.local(s); eagerId = idOf(c); c }
      else Checkpoints.local(s.filter($"x" > 10), eager = false)
    }
    assert(held(eagerId), "the unrun lazy checkpoint's input was released")
    assert(lazyOut.count() === 990)
  }

  test("iterate never releases a checkpoint made before the loop") {
    val before = Checkpoints.local(frame)
    var madeInInit = -1
    val (out, _) = Checkpoints.iterate(before, 3)(_ => false) { (s, r) =>
      Checkpoints.local(s.filter($"x" > r))
    }
    assert(held(idOf(before)), "the loop released its caller's input")
    assert(out.count() === 997)
    // a checkpoint `init` makes is the loop's: it goes with round 1
    Checkpoints.iterate({ val c = Checkpoints.local(before.select($"x")); madeInInit = idOf(c); c },
      2)(_ => false) { (s, r) => Checkpoints.local(s.filter($"x" > r)) }
    assert(madeInInit >= 0 && !held(madeInInit) && held(idOf(before)))
    // an enclosing scope's checkpoint is left to that scope
    var outer = -1
    Checkpoints.scoped {
      val o = Checkpoints.local(frame)
      outer = idOf(o)
      Checkpoints.scoped(Checkpoints.iterate(o, 2)(_ => false) { (s, r) =>
        Checkpoints.local(s.filter($"x" > r))
      }._2)
      assert(held(outer))
    }
    assert(!held(outer))
  }

  test("iterate tests the round cap before done and stops at done") {
    var probes = 0
    val (capped, n) = Checkpoints.iterate(0, 3) { s => probes += 1; s >= 10 }((s, _) => s + 1)
    assert((capped, n, probes) === ((3, 3, 3)), "a spent budget ran the convergence test")
    val (stopped, m) = Checkpoints.iterate(0, 10)(_ >= 2)((s, _) => s + 1)
    assert((stopped, m) === ((2, 2)))
  }

  test("an exception in iterate releases what the loop made") {
    val before = Checkpoints.local(frame)
    val ids = scala.collection.mutable.ArrayBuffer.empty[Int]
    intercept[IllegalStateException] {
      Checkpoints.iterate(before, 5)(_ => false) { (s, r) =>
        if (r == 3) throw new IllegalStateException("boom")
        val c = Checkpoints.local(s.filter($"x" > r))
        ids += idOf(c)
        s.unionAll(c) // keeps every round's checkpoint reachable
      }
    }
    assert(ids.size === 2 && ids.forall(!held(_)))
    assert(held(idOf(before)))
  }

  test("the iterative graph loops hold a round-independent number of checkpoints") {
    // every round loop whose result does not grow with rounds; the walks
    // are left out, since their trace reads every step's frontier
    val sc = spark.sparkContext
    def heldAfter(run: Int => DataFrame, rounds: Int): Int = Checkpoints.scoped {
      val before = sc.getPersistentRDDs.size
      run(rounds).count()
      sc.getPersistentRDDs.size - before
    }
    val grew = LoopFixtures.loops(spark).filterNot(_.traced).flatMap { l =>
      val (atLo, atHi) = (heldAfter(l.run, l.rounds), heldAfter(l.run, 2 * l.rounds))
      if (atHi > atLo) Some(s"${l.name} held $atLo at ${l.rounds} rounds, $atHi at ${2 * l.rounds}")
      else None
    }
    assert(grew.isEmpty, grew.mkString("; "))
  }

  test(".localCheckpoint( appears in src/main only in Checkpoints.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(".localCheckpoint("))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
    assert(hits === Seq("graft/functions/Checkpoints.scala"))
  }
}
