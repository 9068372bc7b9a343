package graft.sources

import org.apache.spark.sql.SparkSession

/** Test fixture: register every corpus table under `dir` as a temp view,
  * so a spec can reach the tables through `spark.sql(...)`.
  */
object Catalog {
  def registerAll(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach {
      case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
      case n => Tables.table(spark, dir, n).createOrReplaceTempView(n)
    }
}
