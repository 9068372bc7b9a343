package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def resourcePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4, "graft-test",
    Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
