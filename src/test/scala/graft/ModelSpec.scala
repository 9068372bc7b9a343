package graft

import org.apache.spark.sql.functions._

import graft.model.{AuditTrail, BrowserEvent}

/** CSV codec + fixture expectations from FIXTURES.md §1 (hand-computed from
  * the reference's own sample data).
  */
class ModelSpec extends SparkSpec {

  lazy val audits = AuditTrail.fromLines(
    spark.read.text(resourcePath("raw_audit_trail")))

  lazy val browser = BrowserEvent.fromLines(
    spark.read.text(resourcePath("raw_browser_events")))

  test("audit trail fixture parses 11 rows with quote-strip semantics") {
    assert(audits.count() === 11)
    val first = audits.filter(col("id") === 0).collect().head
    assert(first.getAs[String]("user") === "Tom")
    assert(first.getAs[String]("entity") === "SalesRep")
    assert(first.getAs[String]("operation") === "Modify")
    assert(first.getAs[Long]("timestamp") === 1577215616071L)
    assert(first.getAs[Int]("duration") === 9)
  }

  test("per-user duration sums match hand-computed fixture values") {
    val sums = audits.groupBy("user").agg(sum("duration").as("d"))
      .collect().map(r => r.getAs[String]("user") -> r.getAs[Long]("d")).toMap
    assert(sums === Map("Tom" -> 40L, "Bob" -> 9L, "Harry" -> 11L))
  }

  test("entity split matches fixture ids") {
    val cust = audits.filter(col("entity") === "Customer")
      .select("id").collect().map(_.getInt(0)).toSet
    assert(cust === Set(1, 2, 4, 8, 9, 10))
  }

  test("catalog: all corpus tables queryable through spark.sql") {
    graft.sources.Catalog.registerAll(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      "SELECT count(*) FROM events e JOIN customer c ON e.user_id = c.c_custkey")
      .collect().head.getLong(0)
    assert(n === 1000L)
    assert(spark.sql("SELECT max(ts) FROM events").collect().head.get(0) != null)
  }

  test("custom expressions callable from spark.sql") {
    graft.expressions.TextExpressions.registerAll(spark)
    val r = spark.sql(
      """SELECT dot_product_d(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                l2_norm_d(array(3.0D, 4.0D)) AS n,
                size(hashed_shingles('a b c d', 3)) AS s,
                simhash60(array(1L, 3L)) AS f,
                char_trigrams('Hello') AS t""").collect().head
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
    assert(r.getInt(2) === 2)
    assert(r.getLong(3) === 1L) // bit 0: both set (+2); bit 1: one set (0 -> not positive)
    // NB: the expression does NOT lowercase (charTrigrams lowers first)
    assert(r.getSeq[String](4) === Seq("Hel", "ell", "llo"))
  }

  test("GraftExtensions injects the SQL functions at session build time") {
    // the spark.sql.extensions deployment path: a FRESH SparkSession built
    // with withExtensions must see the functions with no registerAll call.
    // The shared SparkContext is reused; only session state is new.
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    try {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.GraftExtensions()(_))
        .getOrCreate()
      val r = s2.sql(
        """SELECT dot_product_d(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                  size(hashed_shingles('a b c d', 3)) AS s""").collect().head
      assert(r.getDouble(0) === 11.0)
      assert(r.getInt(1) === 2)
      // do NOT stop s2 — it shares the suite-wide SparkContext
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("whole queries are expressible in pure spark.sql and match the DataFrame twins") {
    graft.sources.Catalog.registerAll(spark, "/root/testdata/sf0.001")
    val q6df = graft.SparkEntry.queries("tpch_q6_revenue_delta")(
      spark, "/root/testdata/sf0.001").collect()
    val q6sql = spark.sql(
      """SELECT sum(CAST(floor(l_extendedprice * l_discount * 100) AS BIGINT)) AS revenue_c
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""").collect()
    assert(q6sql.toSeq === q6df.toSeq)
    val a1df = graft.SparkEntry.queries("a1_tumbling_count")(
      spark, "/root/testdata/sf0.001").collect()
    val a1sql = spark.sql(
      """SELECT CAST(window.start AS LONG) AS window_start, count(*) AS n
         FROM events GROUP BY window(ts, '5 seconds') ORDER BY window_start""").collect()
    assert(a1sql.toSeq === a1df.toSeq)
  }

  test("browser events fixture parses 22 rows") {
    assert(browser.count() === 22)
    val first = browser.filter(col("id") === 0).collect().head
    assert(first.getAs[String]("user") === "Bob")
    assert(first.getAs[String]("action") === "ViewVideo")
  }

  test("Tables.events normalizes every integer epoch unit to the same timestamps") {
    import spark.implicits._
    // the same three instants in four integer encodings; every layout
    // must normalize to identical TimestampType values (the round-7
    // corpus regen broke 19 queries because the loader assumed one unit)
    val micros = Seq(1704067200000000L, 1704067205500000L, 1704070000000000L)
    def write(dir: String, scale: Long): Unit =
      micros.zipWithIndex
        .map { case (us, i) => (i.toLong, us * scale) }
        .toDF("event_id", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val base = tempDir("evt-units").toString
    val dirs = Seq("nanos" -> 1000L, "micros" -> 1L).map { case (n, sc) =>
      val d = s"$base/$n"; write(d, sc); n -> d
    } ++ Seq({ // millis and seconds from truncated micros
      val d = s"$base/millis"
      micros.zipWithIndex.map { case (us, i) => (i.toLong, us / 1000) }
        .toDF("event_id", "ts").write.mode("overwrite").parquet(s"$d/events.parquet")
      "millis" -> d
    }, {
      val d = s"$base/seconds"
      micros.zipWithIndex.map { case (us, i) => (i.toLong, us / 1000000) }
        .toDF("event_id", "ts").write.mode("overwrite").parquet(s"$d/events.parquet")
      "seconds" -> d
    })
    val got = dirs.map { case (name, d) =>
      name -> graft.sources.Tables.events(spark, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .as[(Long, Long)].collect().sortBy(_._1).map(_._2).toSeq
    }.toMap
    assert(got("nanos") === micros)
    assert(got("micros") === micros)
    assert(got("millis") === micros.map(us => us / 1000 * 1000))
    assert(got("seconds") === micros.map(us => us / 1000000 * 1000000))
    // the ts column is a real TimestampType everywhere
    dirs.foreach { case (name, d) =>
      assert(graft.sources.Tables.events(spark, d).schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType, name)
    }
  }
}
