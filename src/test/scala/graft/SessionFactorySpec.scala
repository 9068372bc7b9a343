package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** [[GraftSession.local]] is the one session builder: the shared test
  * session carries the shipped config, and no other main source builds a
  * session of its own.
  */
class SessionFactorySpec extends SparkSpec {

  test("the shared test session carries the factory's shipped config") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores === 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === cores.toString)
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") ===
      (4 * cores).toString)
    assert(GraftSession.localFs.size === 2)
    GraftSession.localFs.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) === v, k)
      assert(spark.sparkContext.hadoopConfiguration.get(k.stripPrefix("spark.hadoop.")) === v, k)
    }
  }

  test("SparkSession.builder appears in src/main only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val builder = """SparkSession\s*\.\s*builder""".r
    val walk = Files.walk(root)
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
    assert(hits === Seq("graft/GraftSession.scala"))
  }
}
