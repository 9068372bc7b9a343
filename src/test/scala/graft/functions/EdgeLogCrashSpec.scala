package graft.functions

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The crash windows of the edge-log batch protocol that the triangle and
  * the label maintainer share. Each crashed state is assembled from the
  * on-disk files of an uncrashed twin run, taken before and after the
  * batch: a crash can only leave some prefix of the batch's writes on
  * disk, and each window is one such prefix. Replaying the batch on it
  * must give the twin's state rows, log rows and markers, and must leave
  * every partition the batch does not touch byte-identical.
  */
class EdgeLogCrashSpec extends SparkSpec {
  import spark.implicits._

  /** A maintainer under test: its state root under the state dir, one
    * batch call, and its state rows.
    */
  private case class Maintainer(
      name: String,
      stateRoot: String,
      run: (String, Seq[(Long, Long)], Long, Long) => Boolean,
      state: String => Option[DataFrame])

  private val P = 16

  private val maintainers = Seq(
    Maintainer("triangles", "counts",
      (dir, edges, id, sign) =>
        Graph.maintainTriangleCounts(spark, dir, edges.toDF("src", "dst"), id, P, sign),
      dir => Graph.readTriangleCounts(spark, dir)),
    Maintainer("labels", "labels",
      (dir, edges, id, sign) =>
        Graph.maintainCommunityLabels(spark, dir, edges.toDF("src", "dst"), id,
          rounds = 3, partitions = P, sign = sign),
      dir => Graph.readCommunityLabels(spark, dir)))

  // separate triangles and pairs, so a batch touches few state partitions
  private val inserts = Seq(
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L)),
    Seq((20L, 21L), (21L, 22L), (20L, 22L), (40L, 41L)),
    Seq((50L, 51L), (51L, 52L), (50L, 52L), (12L, 20L)))
  // batch 2's pair (nodes 40 and 41 lose their last edge), one edge of
  // batch 3's triangle, both reversed, and one edge that was never logged
  private val deletes = Seq((41L, 40L), (52L, 51L), (999L, 998L))

  /** CRC32 of every parquet file of the state table and the edge log,
    * grouped by partition dir (`edges/batch=1`, `counts/data/__p=3`).
    */
  private def partitionCrcs(dir: String, stateRoot: String): Map[String, Map[String, Long]] =
    Seq("edges", s"$stateRoot/data").flatMap { sub =>
      val root = Paths.get(dir, sub)
      if (!Files.exists(root)) Nil
      else {
        val walk = Files.walk(root)
        try walk.iterator().asScala.filter(p =>
            Files.isRegularFile(p) && p.toString.endsWith(".parquet")).map { p =>
          val crc = new java.util.zip.CRC32()
          crc.update(Files.readAllBytes(p))
          (Paths.get(dir).relativize(p.getParent).toString, p.getFileName.toString, crc.getValue)
        }.toList
        finally walk.close()
      }
    }.groupBy(_._1).map { case (part, fs) => part -> fs.map(f => f._2 -> f._3).toMap }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Everything a replay must reproduce: state rows, log rows, markers. */
  private def snapshot(m: Maintainer, dir: String): (Seq[String], Seq[String], Seq[String]) = {
    def names(sub: String): Seq[String] =
      Option(new File(dir, sub).list()).map(_.toSeq.filterNot(_.startsWith(".")).sorted)
        .getOrElse(Nil).map(n => s"$sub/$n")
    (m.state(dir).map(rows).getOrElse(Nil),
      rows(spark.read.parquet(s"$dir/edges").select($"src", $"dst", $"batch")),
      names(s"${m.stateRoot}/applied") ++ names("deletes_done"))
  }

  private def copy(from: String, to: Path, sub: String): Unit =
    FileUtils.copyDirectory(new File(from, sub), to.resolve(sub).toFile)

  /** Replay batch `id` on `crashed` and check it against the twin after
    * the batch (`post`): same rows and markers, and every partition that
    * the twin run did not touch (same files in `pre` and `post`) is
    * byte-identical before and after the replay.
    */
  private def assertHeals(m: Maintainer, window: String, crashed: String,
      pre: String, post: String, edges: Seq[(Long, Long)], id: Long, sign: Long): Unit = {
    val before = partitionCrcs(crashed, m.stateRoot)
    val (preCrcs, postCrcs) = (partitionCrcs(pre, m.stateRoot), partitionCrcs(post, m.stateRoot))
    val untouched = preCrcs.keySet.filter(p => postCrcs.get(p) == preCrcs.get(p))
    assert(untouched.exists(_.startsWith(m.stateRoot)) && untouched.exists(_.startsWith("edges")),
      s"${m.name} $window: probe vacuous, the batch touched every partition")
    assert(postCrcs != preCrcs, s"${m.name} $window: probe vacuous, the batch touched nothing")
    assert(m.run(crashed, edges, id, sign), s"${m.name} $window: the replay did not apply")
    assert(snapshot(m, crashed) === snapshot(m, post),
      s"${m.name} $window: the replay diverges from the uncrashed twin")
    val after = partitionCrcs(crashed, m.stateRoot)
    untouched.foreach(p => assert(after.get(p) === before.get(p),
      s"${m.name} $window: $p is untouched by the batch but was rewritten"))
    assert(!m.run(crashed, edges, id, sign), s"${m.name} $window: a second replay re-applied")
  }

  for (m <- maintainers)
    test(s"${m.name}: a replay heals every crash window of an insert and a delete batch " +
        "to the uncrashed twin; partitions the batch does not touch stay byte-identical") {
      val tmp = tempDir(s"graft-crash-${m.name}")
      def dir(n: String): String = tmp.resolve(n).toString
      def snap(n: String): String = { FileUtils.copyDirectory(new File(dir("twin")), new File(dir(n))); dir(n) }
      inserts.take(2).zipWithIndex.foreach { case (b, i) => assert(m.run(dir("twin"), b, i + 1L, 1L)) }
      val pre3 = snap("pre3")
      assert(m.run(dir("twin"), inserts(2), 3L, 1L))
      val post3 = snap("post3")
      assert(m.run(dir("twin"), deletes, 4L, -1L))
      val post4 = dir("twin")

      // (a) insert: edges/batch=3 landed, the state marker did not
      val a = tmp.resolve("a")
      FileUtils.copyDirectory(new File(pre3), a.toFile)
      copy(post3, a, "edges/batch=3")
      assertHeals(m, "(a)", a.toString, pre3, post3, inserts(2), 3L, 1L)

      // (b) delete: deletes/batch=4 landed, the state marker did not
      val b = tmp.resolve("b")
      FileUtils.copyDirectory(new File(post3), b.toFile)
      copy(post4, b, "deletes/batch=4")
      assertHeals(m, "(b)", b.toString, post3, post4, deletes, 4L, -1L)

      // (c) delete: the state marker landed, the log is not rewritten and
      // deletes_done is absent
      val c = tmp.resolve("c")
      FileUtils.copyDirectory(new File(post3), c.toFile)
      FileUtils.deleteDirectory(c.resolve(m.stateRoot).toFile)
      copy(post4, c, m.stateRoot)
      copy(post4, c, "deletes/batch=4")
      val stateBefore = partitionCrcs(c.toString, m.stateRoot).filter(_._1.startsWith(m.stateRoot))
      assertHeals(m, "(c)", c.toString, post3, post4, deletes, 4L, -1L)
      assert(partitionCrcs(c.toString, m.stateRoot).filter(_._1.startsWith(m.stateRoot)) ===
        stateBefore, s"${m.name} (c): the committed state was rewritten by the replay")
      FileUtils.deleteQuietly(tmp.toFile)
    }
}
