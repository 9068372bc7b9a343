package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{Failed, Outcome}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Checkpoints
import graft.tools.JobCounter

/** Shared local session for all suites. Every test is a unit of work: it
  * runs in one checkpoint scope, and a test that ends holding an RDD
  * persisted during it fails.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def resourcePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** A fresh temporary directory, deleted when the test run ends. */
  def tempDir(prefix: String): Path = SparkSpec.tempDir(prefix)

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (out, jobs, _) = JobCounter.during(spark.sparkContext)(body)
    (out, jobs)
  }

  override def withFixture(test: NoArgTest): Outcome = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val outcome = Checkpoints.scoped(super.withFixture(test))
    val held = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    held.values.foreach(_.unpersist(blocking = false))
    if (held.isEmpty || !outcome.isSucceeded) outcome
    else Failed(s"test ended holding ${held.size} RDD(s) persisted during it " +
      s"(ids ${held.keys.toSeq.sorted.mkString(",")})")
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4, "graft-test",
    Map("spark.sql.warehouse.dir" -> tempDir("graft-warehouse").toString))

  /** One root per test JVM for every spec's temporary directories; a
    * shutdown hook deletes it when the run ends.
    */
  private lazy val runRoot: Path = {
    val root = Files.createTempDirectory("graft-test-run")
    Runtime.getRuntime.addShutdownHook(new Thread(() => FileUtils.deleteQuietly(root.toFile)))
    root
  }

  /** A fresh directory under the run's root (the only place specs make one). */
  def tempDir(prefix: String): Path = Files.createTempDirectory(runRoot, prefix)
}
