package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Scale artifact: bucketed tables let co-partitioned joins skip the
  * shuffle entirely — the 100 TB answer to repeated fact-to-fact joins on
  * the same key. Asserts the physical plan has NO Exchange on either side
  * of the join when both tables are bucketed on the join key.
  */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables plans without a shuffle exchange") {
    val d = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
      val base = tempDir("graft-bucketed").toString
      graft.sinks.Lake.writeBucketed(Tables.lineitem(spark, d),
        "li_bucketed", s"$base/li", Seq("l_orderkey"), numBuckets = 8)
      graft.sinks.Lake.writeBucketed(Tables.orders(spark, d),
        "ord_bucketed", s"$base/ord", Seq("o_orderkey"), numBuckets = 8)
      // path-backed external table: the data is ordinary parquet on disk
      assert(new java.io.File(s"$base/li").listFiles().exists(_.getName.endsWith(".parquet")),
        "bucketed write must land plain parquet under the given path")

      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      // the only allowed exchange is the post-join aggregation shuffle
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"join sides must not shuffle:\n$plan")
      assert(joined.collect().map(_.getLong(1)).sum === 6000L)
      // same answer as the join of the unbucketed tables
      val plain = Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      assert(joined.orderBy("o_orderstatus").collect().toSeq ===
        plain.orderBy("o_orderstatus").collect().toSeq)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("registerBucketed re-attaches an existing layout: same rows, " +
      "bucketed scan, no edge-side exchange") {
    val d = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      spark.sql("DROP TABLE IF EXISTS reg_edges")
      val base = tempDir("graft-regbucket").toString
      val edges = graft.functions.Graph.copurchaseEdges(Tables.lineitem(spark, d))
      graft.sinks.Lake.writeBucketed(edges, "reg_edges", s"$base/e",
        Seq("src"), numBuckets = 8)
      val want = spark.table("reg_edges").orderBy("src", "dst")
        .collect().toSeq
      // drop the catalog entry (what a SparkContext stop does to the
      // in-memory catalog) and re-attach the SAME files — no rewrite
      spark.sql("DROP TABLE reg_edges")
      graft.sinks.Lake.registerBucketed(spark, "reg_edges", s"$base/e",
        "src BIGINT, dst BIGINT", Seq("src"), numBuckets = 8)
      val got = spark.table("reg_edges")
      assert(got.orderBy("src", "dst").collect().toSeq === want,
        "re-attached table must read the identical rows")
      // the bucketing property must survive re-attachment: a join on the
      // bucket key must not exchange the edge side
      val probe = got.join(
        got.select(col("src")).distinct().withColumn("pay", col("src") * 2),
        "src")
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"re-attached scan must read bucketed:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"edge side must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
