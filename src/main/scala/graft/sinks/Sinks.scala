package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** Sink surface mirroring SURVEY §2.2.
  *
  * K1 row-format file sink (`BasicStreamingOperations.java:100-108`),
  * K2 Kafka sink (`EventTimeOperations.java:178-216`),
  * K3 console/print sink (`KeyedStreamOperations.java:72`),
  * K4 formatted side-effect prints -> formatting stays in a `select`,
  *    the side effect lives in the sink, never in a `map`.
  *
  * Delivery-semantics note (documented delta): the reference's Kafka sink
  * runs transactional EXACTLY_ONCE; Spark's Kafka sink is at-least-once
  * with checkpointed offsets — end-to-end exactly-once holds for
  * idempotent/file sinks only.
  */
object Sinks {

  /** K1: append csv files under `path`, checkpoint under `checkpoint`. */
  def fileSink(df: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .format("csv")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)

  /** K2 payload serialization, as a pure batch-testable transform: a Kafka
    * record needs a single `value` column; rows without one are serialized
    * CSV-style (the reference's sink writes the `toString` of each record —
    * `EventTimeOperations.java:188-196`). Split out of [[kafkaSink]] so the
    * wire format is oracle-testable without a broker.
    */
  def kafkaPayload(df: DataFrame): DataFrame =
    if (df.columns.contains("value")) df.select(col("value").cast("string").as("value"))
    else df.select(concat_ws(",", df.columns.map(c => col(c).cast("string")): _*).as("value"))

  /** K2 producer options (pure; see [[kafkaPayload]] for the payload). */
  def kafkaSinkOptions(bootstrap: String, topic: String, checkpoint: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "topic" -> topic,
      "checkpointLocation" -> checkpoint)

  /** K2: Kafka value sink; rows are serialized with `to_csv`-style concat
    * unless a `value` column already exists.
    */
  def kafkaSink(df: DataFrame, bootstrap: String, topic: String, checkpoint: String): DataStreamWriter[Row] =
    kafkaPayload(df).writeStream
      .format("kafka")
      .options(kafkaSinkOptions(bootstrap, topic, checkpoint))

  /** Exactly-once to non-transactional stores, the Spark-idiomatic recipe.
    *
    * The reference's Kafka sink uses Flink's transactional producer
    * (`EventTimeOperations.java:178-216`, Semantic.EXACTLY_ONCE); Spark's
    * Kafka sink is at-least-once — on task/driver retry a micro-batch can
    * be re-published. The delta is closed by making the WRITE idempotent
    * instead of transactional: `foreachBatch` hands every micro-batch a
    * stable `batchId` that is REUSED verbatim when the batch is replayed
    * after recovery, so a tiny write-ahead ledger of committed batch ids
    * (one zero-byte file per id, atomically created) makes the replayed
    * write a no-op. Works against any store that can either overwrite by
    * deterministic key/path (parquet partition = batchId) or skip a
    * committed id, which is exactly how Spark's own file sink achieves
    * end-to-end exactly-once.
    *
    * Ledger writes are one file create per micro-batch — no scaling
    * concern; the data write inside `write` stays fully distributed.
    *
    * LIFECYCLE COUPLING: batch ids are only unique within one checkpoint
    * lineage — resetting the checkpoint restarts them at 0. The ledger
    * therefore lives UNDER the query's checkpoint dir
    * (`<checkpointDir>/_graft_commit_ledger`), so wiping the checkpoint
    * wipes the ledger with it; a kept ledger + reset checkpoint would make
    * new batches collide with old committed markers and be silently
    * skipped (data loss, not duplicates).
    */
  val LedgerSubdir = "_graft_commit_ledger"

  def idempotentForeachBatch(
      df: DataFrame,
      checkpointDir: String)(
      write: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val dir = java.nio.file.Paths.get(checkpointDir, LedgerSubdir)
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        java.nio.file.Files.createDirectories(dir)
        val mark = dir.resolve(s"committed-$batchId")
        if (!java.nio.file.Files.exists(mark)) {
          write(batch.toDF(), batchId)
          java.nio.file.Files.createFile(mark) // atomic; marks the id done
          ()
        }
      }
  }

  /** K3: console sink (the reference's `print()`), 20 rows per batch. */
  def consoleSink(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.format("console").option("numRows", "20")

  /** X1 at scale: single-pass fan-out to N branch handlers, with the
    * micro-batch id passed through to every branch. The micro-batch is
    * cached once, every branch filters/transforms/writes from the cached
    * batch, then the cache is released — one source read feeds all
    * branches (the reference's side-output split without re-scanning).
    * Branches whose writes are idempotent PER BATCH ID (batch-partition
    * sinks, index appends) make a replayed micro-batch overwrite its own
    * output instead of duplicating it (exactly-once contents under
    * foreachBatch's at-least-once replay).
    */
  def fanoutSinkById(
      df: DataFrame,
      branches: Seq[(String, (DataFrame, Long) => Unit)]): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
      val b = batch.toDF().persist()
      try branches.foreach { case (_, handle) => handle(b, id) }
      finally { b.unpersist(); () }
    }

  /** Test sink: named in-memory table. */
  def memorySink(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append): DataStreamWriter[Row] =
    df.writeStream.format("memory").queryName(name).outputMode(mode)
}
