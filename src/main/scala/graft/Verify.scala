package graft
import java.nio.file.{Files, Paths}

import graft.functions.Checkpoints
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional subset: run only the named queries (iteration aid; the
    // driver always runs the full map). A typo'd name must fail loudly —
    // silently filtering to nothing looks exactly like success.
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // each query is a unit of work: its scope owns every checkpoint it
      // makes, and a query that ends holding anything persisted fails
      // (what it held is released, so the next query starts clean)
      val error =
        try {
          Checkpoints.scoped(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name"))
          None
        } catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      val held = spark.sparkContext.getPersistentRDDs.values.toSeq.sortBy(_.id)
      held.foreach(_.unpersist(blocking = false))
      error.orElse(Option.when(held.nonEmpty)(s"ended holding ${held.size} persisted " +
        s"RDD(s) (ids ${held.map(_.id).mkString(",")})")).foreach { msg =>
        System.err.println(s"[verify] $name failed: $msg")
        failed += name -> msg
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A broken query must be visible in-round, not a quiet stderr line
    // 19 queries deep in a log: dump the failures as an artifact and exit
    // nonzero so both humans and harnesses see red.
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: " +
          failed.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
