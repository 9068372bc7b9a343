package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Failed, Outcome}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Checkpoints

/** Shared local session for all suites. Every test is a unit of work: it
  * runs in one checkpoint scope, and a test that ends holding an RDD
  * persisted during it fails.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def resourcePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

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
    Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
