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

  test("the iterative graph loops hold a round-independent number of checkpoints") {
    // a 400-node chain plus a 50-node ring: with k = 2 the chain peels
    // one node per end per round and the ring is the core, so every
    // loop below still runs at 8 rounds
    val chain = (0L until 399L).map(i => (i, i + 1))
    val ring = (0L until 50L).map(i => (1000L + i, 1000L + (i + 1) % 50))
    val half = (chain ++ ring).toDF("src", "dst")
    val sym = half.union(half.select($"dst".as("src"), $"src".as("dst")))
    val knn = sym.select($"src".as("qid"), $"dst".as("vec_id"), lit(1L).as("rank"))
    val seeds = Seq((0L, 7L)).toDF("node", "label")
    // the delta forms peel or relax only what a delta touched, so their
    // round count is set by the delta: a pendant chain of `r` nodes off
    // the ring, and a shortcut from the seed to the chain's middle
    def pendant(r: Int) = (0 until r).map(i => (2000L + i, if (i == 0) 1000L else 1999L + i))
    val shortcut = Seq((0L, 200L), (200L, 0L)).toDF("src", "dst")
    val loops: Seq[(String, Int => DataFrame)] = Seq(
      "kCore" -> (r => Graph.kCore(sym, "src", "dst", k = 2, rounds = r)),
      "kCoreHalf" -> (r => Graph.kCoreHalf(half, k = 2, rounds = r)),
      "kCoreDelta" -> { r =>
        val before = ring.toDF("src", "dst")
        val old = Graph.kCoreHalf(before, k = 2, rounds = 4)
        Graph.kCoreDelta(before.union(pendant(r).toDF("src", "dst")), old, k = 2)
      },
      "bfsHops" -> (r => Graph.bfsHops(sym, "src", "dst", Seq(0L), maxHops = r)),
      "bfsHopsDelta" -> { r =>
        val old = Graph.bfsHops(sym, "src", "dst", Seq(0L), maxHops = r)
        Graph.bfsHopsDelta(sym.union(shortcut), "src", "dst", old, shortcut, maxHops = r)
      },
      "labelPropagation" -> (r => Graph.labelPropagation(knn, seeds, rounds = r)),
      "pageRank" -> (r => Graph.pageRank(sym, "src", "dst", iterations = r, checkpointEvery = 2)))
    val sc = spark.sparkContext
    def heldAfter(f: Int => DataFrame, rounds: Int): Int = Checkpoints.scoped {
      val before = sc.getPersistentRDDs.size
      f(rounds).count()
      sc.getPersistentRDDs.size - before
    }
    val grew = loops.flatMap { case (name, f) =>
      val (at4, at8) = (heldAfter(f, 4), heldAfter(f, 8))
      if (at8 > at4) Some(s"$name held $at4 at 4 rounds, $at8 at 8") else None
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
