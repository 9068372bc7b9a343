package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextAnalysis.portableHash48

/** Multimodal-column plumbing: image/audio/video payloads ride through the
  * pipeline as opaque `binary` columns with typed metadata, exactly as a
  * 100 TB training-data pipeline would carry them (decode happens late, at
  * the consumer, never in the shuffle path).
  *
  * The actual codec layer (JPEG decode, audio resample, video frame
  * extraction) is NOT implementable in this container — there are no media
  * libraries — so the decode step is a CLEARLY-MARKED DETERMINISTIC STUB
  * ([[stubDecode]]): it derives plausible metadata (width/height/frames)
  * from a portable hash of the payload. Everything around the stub — the
  * schema, the binary column handling, the batch shape, partitioning and
  * the query surface — is real and tested; swapping the stub for a real
  * codec is a one-function change (at scale it would be an Arrow-batched
  * `mapPartitions`/`mapInPandas` kernel fed ~64 MB of payloads per batch).
  */
object Multimodal {

  /** Deterministic modality assignment used to fabricate a media corpus
    * from the text corpus for tests (no real media files exist here).
    */
  def modalityOf(idCol: Column): Column =
    when(pmod(idCol, lit(3)) === 0, "image")
      .when(pmod(idCol, lit(3)) === 1, "audio")
      .otherwise("video")

  /** documents(text) -> media records: (media_id, modality, payload:binary,
    * payload_bytes). The payload is the UTF-8 encoding of the text — an
    * opaque byte blob as far as the pipeline is concerned.
    */
  def asMediaCorpus(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      modalityOf(col(idCol)).as("modality"),
      encode(col(textCol), "UTF-8").as("payload"),
      octet_length(col(textCol)).cast("long").as("payload_bytes"))

  /** STUB decode: metadata derived from a 48-bit portable hash of the
    * payload text. A real implementation decodes the container header.
    * Deterministic, engine-reproducible (see LlmQueries oracle).
    */
  def stubDecode(media: DataFrame, textForHash: Column): DataFrame = {
    val h = portableHash48(textForHash)
    media
      .withColumn("width", (lit(64) + pmod(h, lit(448L))).cast("long"))
      .withColumn("height", (lit(64) + pmod(floor(h / lit(448.0)).cast("long"), lit(448L))).cast("long"))
      .withColumn("n_frames", (lit(1) + pmod(h, lit(16L))).cast("long"))
  }

  /** Frame sampling: one output row per sampled frame index (every
    * `everyN`-th frame). Pure plan-level explode — no data movement beyond
    * the row expansion, parallelism preserved.
    */
  def sampleFrames(decoded: DataFrame, everyN: Int): DataFrame =
    decoded.withColumn("frame_idx",
      explode(sequence(lit(0L), col("n_frames") - 1, lit(everyN.toLong))))

  /** STUB resize: recompute target dims preserving aspect ratio; a real
    * kernel would transform payload bytes, which stay untouched here.
    */
  def stubResize(decoded: DataFrame, maxDim: Long): DataFrame =
    decoded
      .withColumn("scale_num", least(lit(maxDim), greatest(col("width"), col("height"))))
      .withColumn("scale_den", greatest(col("width"), col("height")))
      .withColumn("out_width", (col("width") * col("scale_num") / col("scale_den")).cast("long"))
      .withColumn("out_height", (col("height") * col("scale_num") / col("scale_den")).cast("long"))
      .drop("scale_num", "scale_den")
}
