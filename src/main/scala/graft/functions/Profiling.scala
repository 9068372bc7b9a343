package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass per-column table profiling — the data-quality audit a pipeline
  * runs before trusting a new drop of upstream data (row counts, null
  * counts, exact distinct cardinalities, min/max).
  *
  * Shape: ONE aggregate over the table computes every column's statistics
  * simultaneously (Spark plans the multi-`count(DISTINCT)` via a single
  * scan + Expand — the expansion factor is the number of profiled columns,
  * never the row count, and every aggregate is partially applied map-side).
  * The per-column result rows are then unpacked from the single summary row
  * with an `explode` — no second pass, no per-column job loop.
  *
  * Min/max are rendered to PORTABLE string representations chosen per
  * declared column kind so the profile is engine-comparable (and
  * hash-stable against the DuckDB oracle):
  *   - `long`         : decimal string of the value
  *   - `string`       : the value itself (binary collation min/max)
  *   - `double_centi` : `floor(value * 100)` as a decimal string — exact
  *                      integer centi-units, no float formatting drift
  *   - `ts_us`        : epoch microseconds as a decimal string
  */
object Profiling {

  /** Portable min/max rendering per declared kind (see object doc).
    * NTZ-safe for `ts_us`: parquet may surface the column as
    * TIMESTAMP_NTZ; the cast is an identity under the engine's pinned
    * UTC session TZ. Shared with the streaming profile twin.
    */
  private def repr(kind: String, agg: Column): Column = kind match {
    case "long"         => agg.cast("string")
    case "string"       => agg
    case "double_centi" => floor(agg * lit(100)).cast("long").cast("string")
    case "ts_us"        => unix_micros(agg.cast("timestamp")).cast("string")
    case other =>
      throw new IllegalArgumentException(s"unknown profile kind: $other")
  }

  /** Profile `columns` of `df` in one aggregate pass.
    *
    * @param columns (name, kind) pairs; kind ∈ long | string |
    *                double_centi | ts_us (see object doc for the repr)
    * @return one row per profiled column:
    *         (column, n_rows, n_nulls, n_distinct, min_repr, max_repr)
    */
  def tableProfile(df: DataFrame, columns: Seq[(String, String)]): DataFrame = {
    val aggs: Seq[Column] = columns.flatMap { case (c, kind) =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        repr(kind, min(col(c))).as(s"${c}__min"),
        repr(kind, max(col(c))).as(s"${c}__max"))
    }
    val summary = df.agg(count(lit(1)).as("__n_rows"), aggs: _*)

    val rows = columns.map { case (c, _) =>
      struct(
        lit(c).as("column"),
        col("__n_rows").as("n_rows"),
        (col("__n_rows") - col(s"${c}__nn")).as("n_nulls"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_repr"),
        col(s"${c}__max").as("max_repr"))
    }
    summary
      .select(explode(array(rows: _*)).as("p"))
      .select("p.*")
  }

  /** Corpus snapshot diff: classify every document id across two corpus
    * snapshots as added / removed / changed / unchanged (by content
    * digest) and count per (group, status) — the audit a pipeline runs
    * between crawl snapshots before retraining ("what actually changed,
    * and where?").
    *
    * Shape: one FULL OUTER join on the unique id (hash join on the id
    * key, no skew risk on unique keys) feeding a partial-aggregating
    * groupBy — the output is |groups| x 4 rows regardless of corpus
    * size, and only thin (id, group, 16-byte digest) rows ever shuffle,
    * never document text.
    */
  def snapshotDiff(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String): DataFrame = {
    def prep(df: DataFrame, tag: String): DataFrame =
      df.select(col(idCol).as(s"${tag}_id"), col(groupCol).as(s"${tag}_grp"),
        md5(col(textCol)).as(s"${tag}_dg"))
    prep(a, "a")
      .join(prep(b, "b"), col("a_id") === col("b_id"), "full_outer")
      .select(
        coalesce(col("b_grp"), col("a_grp")).as("source"),
        when(col("a_id").isNull, lit("added"))
          .when(col("b_id").isNull, lit("removed"))
          .when(col("a_dg") =!= col("b_dg"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Embedding-space drift report between two corpus slices (e.g. the
    * training snapshot vs a fresh crawl): per-dimension counts, quantized
    * mean positions of each slice, and the mean delta — the check a
    * pipeline runs before mixing a new snapshot into training data, since
    * a per-dimension mean shift is the cheapest detectable symptom of a
    * distribution change (new domain mix, encoder version bump, collapsed
    * dims).
    *
    * Shape: ONE narrow `posexplode` pass (rows x dims, partially
    * aggregated map-side down to <= dims rows per task) into a final
    * <= dims-row aggregate — no shuffle of vector payloads, no pairwise
    * anything; cost is a single scan at any corpus size.
    *
    * Integer-exact parity: components quantize as `floor(x * 1e6)` BEFORE
    * summing (Long sums are order-independent; double sums are not), and
    * means use truncating integer division — Spark `div` and DuckDB `//`
    * agree on negatives (both truncate toward zero).
    */
  def embeddingDrift(emb: DataFrame, vecCol: String, isRef: Column): DataFrame = {
    val q = emb
      .select(isRef.as("is_ref"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("is_ref"), col("dim"),
        floor(col("x").cast("double") * lit(1000000)).cast("long").as("q"))
    q.groupBy(col("dim"))
      .agg(
        count(when(col("is_ref"), lit(1))).as("n_ref"),
        count(when(!col("is_ref"), lit(1))).as("n_cand"),
        sum(when(col("is_ref"), col("q"))).as("sref"),
        sum(when(!col("is_ref"), col("q"))).as("scand"))
      .select(col("dim"), col("n_ref"), col("n_cand"),
        expr("sref div n_ref").as("ref_mean_q6"),
        expr("scand div n_cand").as("cand_mean_q6"),
        (expr("scand div n_cand") - expr("sref div n_ref")).as("delta_q6"))
  }
}
