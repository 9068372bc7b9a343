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

  /** Typed media record for the batched decode path. */
  final case class MediaRecord(media_id: Long, modality: String, payload: Array[Byte])

  /** Decode result: dimensions + an extracted feature vector, ready for
    * the similarity/dedup operators.
    */
  final case class DecodedMedia(
      media_id: Long,
      modality: String,
      width: Long,
      height: Long,
      n_frames: Long,
      feature: Array[Float])

  /** Batched decode via `mapPartitions` — the Scala analog of an Arrow
    * `mapInPandas` kernel: payloads are handed to the (stub) codec in
    * batches of `batchSize` so a real vectorized decoder (JNI/FFI) would
    * amortize per-call overhead; the operator is narrow (no shuffle) and
    * preserves partitioning, so it rides along the scan at any scale.
    *
    * STUB body: dims and a 16-dim unit-scale feature vector derived from
    * the md5 of the payload — deterministic, engine-reproducible; a real
    * implementation replaces the inner loop only.
    */
  def decodeBatchedStub(
      ds: org.apache.spark.sql.Dataset[MediaRecord],
      batchSize: Int = 64): org.apache.spark.sql.Dataset[DecodedMedia] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[DecodedMedia]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.grouped(batchSize).flatMap { batch =>
        // real impl: one vectorized codec call per `batch`
        batch.iterator.map(m => stubOne(md, m))
      }
    }
  }

  private def stubOne(md: java.security.MessageDigest, m: MediaRecord): DecodedMedia = {
    val digest = md.digest(m.payload)
    var h = 0L
    var b = 0
    while (b < 6) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
    val feature = Array.tabulate(16)(i => ((digest(i) & 0xff) / 255.0f) - 0.5f)
    DecodedMedia(
      m.media_id, m.modality,
      width = 64 + (h % 448),
      height = 64 + ((h / 448) % 448),
      n_frames = 1 + (h % 16),
      feature = feature)
  }

  /** REAL decode of one image payload via the JDK's own `javax.imageio`
    * readers (PNG/JPEG/BMP/GIF/WBMP ship with the JDK — zero external
    * dependencies). Returns None when the bytes are not a decodable
    * image. Feature = 16-dim 4x4 grid of mean luma shifted to
    * [-0.5, 0.5] — the same shape the stub emits, so downstream
    * similarity/dedup operators are indifferent to which path produced
    * the vector. (A production kernel would read the raster row-wise
    * instead of per-pixel `getRGB`; payloads are small enough here.)
    */
  private[functions] def decodeOneImage(
      payload: Array[Byte]): Option[(Long, Long, Array[Float])] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }
    Option(img).map { im =>
      (im.getWidth.toLong, im.getHeight.toLong, lumaGrid16(im))
    }
  }

  /** 16-dim 4x4 grid of mean luma shifted to [-0.5, 0.5] — the shared
    * feature kernel of the image and video-frame decode paths.
    */
  private def lumaGrid16(im: java.awt.image.BufferedImage): Array[Float] = {
    val w = im.getWidth
    val h = im.getHeight
    val sums = new Array[Double](16)
    val counts = new Array[Int](16)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = im.getRGB(x, y)
        val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000.0 / 255.0
        val cell = math.min(3, y * 4 / h) * 4 + math.min(3, x * 4 / w)
        sums(cell) += luma
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(16)(i =>
      if (counts(i) > 0) (sums(i) / counts(i) - 0.5).toFloat else 0.0f)
  }

  /** Mean-luma grid at arbitrary resolution — the generalized kernel
    * behind [[lumaGrid16]] (4x4) and [[dHash64]] (9x8).
    */
  private def lumaGridMean(
      im: java.awt.image.BufferedImage, gw: Int, gh: Int): Array[Double] = {
    val w = im.getWidth
    val h = im.getHeight
    val sums = new Array[Double](gw * gh)
    val counts = new Array[Int](gw * gh)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = im.getRGB(x, y)
        val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000.0 / 255.0
        val cell = math.min(gh - 1, y * gh / h) * gw + math.min(gw - 1, x * gw / w)
        sums(cell) += luma
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(gw * gh)(i => if (counts(i) > 0) sums(i) / counts(i) else 0.0)
  }

  /** 64-bit difference hash (dHash) of a decoded image: mean-pool to a
    * 9x8 luma grid, emit one bit per HORIZONTAL GRADIENT
    * (`luma(x) < luma(x+1)`, row-major). The classic perceptual
    * fingerprint: stable under re-encode, resize, mild color shifts —
    * the image-modality analog of [[graft.functions.Dedup.simhash60]],
    * and deliberately 64 bits so the hamming-band candidate machinery
    * carries over unchanged.
    */
  private[functions] def dHash64(im: java.awt.image.BufferedImage): Long = {
    val g = lumaGridMean(im, 9, 8)
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (g(r * 9 + c) < g(r * 9 + c + 1)) bits |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Perceptual fingerprints for the image rows of a media corpus:
    * (media_id, dhash) for every payload the JDK image reader can decode
    * (undecodable/other-modality rows drop — a fingerprint derived from
    * anything but real pixels would poison the dedup downstream). Narrow
    * `mapPartitions`, no shuffle; at 100 TB this is one decode pass
    * colocated with the payload scan.
    */
  def imageDHashes(
      ds: org.apache.spark.sql.Dataset[MediaRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.filter(_.modality == "image").flatMap { m =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
          catch { case _: java.io.IOException => null }
        Option(img).map(im => (m.media_id, dHash64(im)))
      }
    }.toDF("media_id", "dhash")
  }

  /** Image near-dup pairs by dHash hamming distance, banded exactly like
    * [[graft.functions.Dedup.simhashPairs]]: split the 64 bits into
    * `maxHamming + 1` bands — by pigeonhole two prints within
    * `maxHamming` bits MUST agree on at least one whole band (recall 1.0
    * for the verified relation, no all-pairs join anywhere). Candidates
    * meet on (band, band-bits), the exact popcount verify runs before
    * the pair dedup. Output: (a, b, hamming), a < b.
    */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val banded = bandedPrints(hashes, maxHamming)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"), col("hamming"))
  }

  /** (doc, sh, band, bv) band rows for a (media_id, dhash) frame — the
    * shared candidate-key shape of the one-shot pair join and the
    * materialized index.
    */
  private def bandedPrints(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    require(bands >= 1 && bands <= 64, s"maxHamming must be in [0, 63], got $maxHamming")
    val baseLen = 64 / bands
    val rem = 64 % bands
    val lens = Seq.tabulate(bands)(i => baseLen + (if (i < rem) 1 else 0))
    val offs = lens.scanLeft(0)(_ + _)
    val f = hashes.select(col("media_id").as("doc"), col("dhash").as("sh"))
    f.select(col("doc"), col("sh"),
      explode(array((0 until bands).map { k =>
        struct(
          lit(k).as("band"),
          shiftright(col("sh"), offs(k))
            .bitwiseAND(lit(if (lens(k) == 64) -1L else (1L << lens(k)) - 1))
            .as("bv"))
      }: _*)).as("bb"))
      .select(col("doc"), col("sh"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
  }

  private def printBucket(band: Column, bv: Column, buckets: Int): Column =
    pmod(xxhash64(band, bv), lit(buckets.toLong))

  /** Materialize a media perceptual-hash dedup index: the corpus's band
    * rows partitioned by a hash bucket of (band, band-bits) — the
    * [[graft.functions.Dedup.writeLshIndex]] layout for 64-bit prints.
    * Built once; every NEW media batch then checks against the whole
    * corpus via [[nearDupsAgainstHashIndex]] reading ONLY its probes'
    * bucket partitions, without re-decoding a single corpus payload —
    * dedup-at-ingest for the image/audio tier.
    */
  def writeHashIndex(
      hashes: DataFrame,
      path: String,
      maxHamming: Int,
      buckets: Int = 64): Unit = {
    IndexLayout.writeParams(hashes.sparkSession, path, Map(
      "maxHamming" -> maxHamming.toLong, "buckets" -> buckets.toLong))
    bandedPrints(hashes, maxHamming)
      .withColumn("bucket", printBucket(col("band"), col("bv"), buckets))
      .withColumn("batch", lit(IndexLayout.BaseBatch))
      .write.mode("overwrite").partitionBy("bucket", "batch")
      .parquet(s"$path/prints")
  }

  /** Append a media batch's prints under `batch=<batchId>` — idempotent
    * per batch id (dynamic partition overwrite), the foreachBatch
    * replay-safety convention of the LSH index.
    */
  def appendToHashIndex(
      hashes: DataFrame,
      path: String,
      batchId: Long,
      maxHamming: Int,
      buckets: Int = 64): Unit = {
    require(batchId >= 0, s"batch ids are >= 0 (base build is ${IndexLayout.BaseBatch})")
    val spark = hashes.sparkSession
    IndexLayout.requireParams(spark, path, Map(
      "maxHamming" -> maxHamming.toLong, "buckets" -> buckets.toLong))
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try bandedPrints(hashes, maxHamming)
      .withColumn("bucket", printBucket(col("band"), col("bv"), buckets))
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite").partitionBy("bucket", "batch")
      .parquet(s"$path/prints")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Near-dups of a NEW media batch against the materialized hash index:
    * band the batch, collect its <= `buckets` distinct bucket ids (a
    * bounded driver read by construction), scan ONLY those index
    * partitions, verify by popcount. Output (a = new id, b = corpus id,
    * hamming); `excludeBatchId` skips the batch's own just-appended
    * partition on replay.
    */
  def nearDupsAgainstHashIndex(
      spark: org.apache.spark.sql.SparkSession,
      newHashes: DataFrame,
      path: String,
      maxHamming: Int,
      buckets: Int = 64,
      excludeBatchId: Option[Long] = None): DataFrame = {
    IndexLayout.requireParams(spark, path, Map(
      "maxHamming" -> maxHamming.toLong, "buckets" -> buckets.toLong))
    val newBk = Checkpoints.local(bandedPrints(newHashes, maxHamming)
      .withColumn("bucket", printBucket(col("band"), col("bv"), buckets)))
    val qBuckets = newBk.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val notOwnBatch = excludeBatchId
      .map(id => col("batch") =!= lit(id))
      .getOrElse(lit(true))
    val idx = spark.read.parquet(s"$path/prints")
      .filter(col("bucket").isin(qBuckets: _*) && notOwnBatch)
    newBk.as("x").join(idx.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc") =!= col("y.doc"))
      .select(col("x.doc").as("a"), col("y.doc").as("b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")
  }

  /** 64-bit audio perceptual fingerprint: decode (real JDK path), pool
    * the first channel's absolute amplitude into 65 time segments, emit
    * one bit per SEGMENT-ENERGY GRADIENT (`e(i) < e(i+1)`) — the
    * time-domain analog of [[dHash64]]'s luma gradient, stable under
    * re-encode/volume scaling (gradients compare, never threshold on
    * absolute energy). Undecodable payloads and non-16-bit-PCM formats
    * drop (same poison-avoidance stance as [[imageDHashes]]). The
    * (id, 64-bit print) output feeds [[imageNearDupPairs]]' hamming
    * banding unchanged — one candidate machinery for every modality
    * that can be reduced to a 64-bit perceptual code.
    */
  def audioFingerprints(
      ds: org.apache.spark.sql.Dataset[MediaRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.filter(_.modality == "audio").flatMap { m =>
        val ais =
          try javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(m.payload))
          catch { case scala.util.control.NonFatal(_) => null }
        Option(ais).filter(in =>
          in.getFormat.getSampleSizeInBits == 16 && in.getFrameLength > 0)
          .map { in =>
            val fmt = in.getFormat
            val bytes = in.readAllBytes()
            val frameSize = fmt.getFrameSize
            val n = bytes.length / frameSize
            val energy = new Array[Double](65)
            val counts = new Array[Int](65)
            var i = 0
            while (i < n) {
              val off = i * frameSize
              val s =
                if (fmt.isBigEndian)
                  (((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)).toShort
                else
                  (((bytes(off + 1) & 0xff) << 8) | (bytes(off) & 0xff)).toShort
              val seg = math.min(64, i * 65 / n)
              energy(seg) += math.abs(s / 32768.0)
              counts(seg) += 1
              i += 1
            }
            var k = 0
            while (k < 65) { if (counts(k) > 0) energy(k) /= counts(k); k += 1 }
            var bits = 0L
            var b = 0
            while (b < 64) {
              if (energy(b) < energy(b + 1)) bits |= 1L << b
              b += 1
            }
            (m.media_id, bits)
          }
      }
    }.toDF("media_id", "dhash")
  }

  /** REAL multi-frame decode of an ANIMATED GIF via the JDK's own
    * `javax.imageio` GIF reader (`getNumImages(true)` + per-index
    * `read(i)` — zero external dependencies; the one video-shaped
    * container the JDK can open). Returns (width, height, one luma-grid
    * feature per frame); None when the bytes are not a GIF with >= 1
    * decodable frame. Frames are read as STORED — GIF delta frames
    * (partial rasters composited onto the previous canvas) are featured
    * per-raster without composition; a production codec kernel replaces
    * this inner loop, the surrounding plumbing (batching, schema,
    * per-frame rows) is the real contract. Codec-bound formats (MP4 &
    * co.) remain stubbed: the JDK ships no video codec.
    */
  private[functions] def decodeGifFrames(
      payload: Array[Byte]): Option[(Long, Long, Array[Array[Float]])] = {
    var stream: javax.imageio.stream.ImageInputStream = null
    try {
      stream = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(stream)
      if (!readers.hasNext) return None
      val reader = readers.next()
      if (!reader.getFormatName.equalsIgnoreCase("gif")) return None
      try {
        reader.setInput(stream, false, true)
        val n = reader.getNumImages(true)
        if (n < 1) return None
        val frames = Array.tabulate(n)(i => reader.read(i))
        Some((frames(0).getWidth.toLong, frames(0).getHeight.toLong,
          frames.map(lumaGrid16)))
      } finally reader.dispose()
    } catch {
      case scala.util.control.NonFatal(_) => None
    } finally if (stream != null) stream.close()
  }

  /** REAL decode of one audio payload via the JDK's own
    * `javax.sound.sampled` (WAV/AIFF/AU parse + PCM read ship with the
    * JDK — zero external dependencies). Returns
    * (sampleRate, channels, frames, feature); None when the bytes are
    * not a decodable audio container. Feature = 16-segment mean
    * absolute amplitude of the first channel (16-bit PCM; other sample
    * sizes keep a zero feature while the header metadata stays real).
    */
  private[functions] def decodeOneAudio(
      payload: Array[Byte]): Option[(Long, Long, Long, Array[Float])] = {
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    Option(ais).map { in =>
      val fmt = in.getFormat
      val feature = new Array[Float](16)
      if (fmt.getSampleSizeInBits == 16 && in.getFrameLength > 0) {
        val bytes = in.readAllBytes()
        val frameSize = fmt.getFrameSize
        val n = bytes.length / frameSize
        val counts = new Array[Int](16)
        var i = 0
        while (i < n) {
          val off = i * frameSize
          val s =
            if (fmt.isBigEndian)
              (((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)).toShort
            else
              (((bytes(off + 1) & 0xff) << 8) | (bytes(off) & 0xff)).toShort
          val seg = math.min(15, i * 16 / n)
          feature(seg) += math.abs(s / 32768.0f)
          counts(seg) += 1
          i += 1
        }
        var k = 0
        while (k < 16) { if (counts(k) > 0) feature(k) /= counts(k); k += 1 }
      }
      (fmt.getSampleRate.toLong, fmt.getChannels.toLong, in.getFrameLength, feature)
    }
  }

  /** Batched decode with REAL image and audio paths: `image` payloads go
    * through [[decodeOneImage]] (JDK `javax.imageio`) and `audio`
    * payloads through [[decodeOneAudio]] (JDK `javax.sound.sampled`),
    * each falling back to the hash-derived stub metadata when the bytes
    * aren't decodable (the fabricated test-corpus payloads). Audio maps
    * onto the record as width=sampleRate, height=channels,
    * n_frames=PCM frames. `video` payloads go through
    * [[decodeGifFrames]] — REAL for animated GIFs (the one multi-frame
    * container the JDK can open; n_frames = the actual frame count,
    * feature = frame 0's luma grid); codec-bound formats (MP4 & co.)
    * still fall back to the stub, documented — the JDK ships no video
    * codec and the container has no media libraries. Same batched
    * narrow `mapPartitions` shape as [[decodeBatchedStub]]; the shipped
    * `multimodal_decode` oracle query stays on the stub path so its
    * DuckDB twin remains exact.
    */
  def decodeBatched(
      ds: org.apache.spark.sql.Dataset[MediaRecord],
      batchSize: Int = 64): org.apache.spark.sql.Dataset[DecodedMedia] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[DecodedMedia]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val real: Option[DecodedMedia] = m.modality match {
            case "image" => decodeOneImage(m.payload).map { case (w, h, f) =>
              DecodedMedia(m.media_id, m.modality, w, h, n_frames = 1L, f)
            }
            case "audio" => decodeOneAudio(m.payload).map { case (rate, ch, fr, f) =>
              DecodedMedia(m.media_id, m.modality, width = rate, height = ch,
                n_frames = fr, f)
            }
            case "video" => decodeGifFrames(m.payload).map { case (w, h, fs) =>
              DecodedMedia(m.media_id, m.modality, w, h,
                n_frames = fs.length.toLong, feature = fs(0))
            }
            case _ => None
          }
          real.getOrElse(stubOne(md, m))
        }
      }
    }
  }

  /** Frame sampling: one output row per sampled frame index (every
    * `everyN`-th frame). Pure plan-level explode — no data movement beyond
    * the row expansion, parallelism preserved.
    */
  def sampleFrames(decoded: DataFrame, everyN: Int): DataFrame =
    decoded.withColumn("frame_idx",
      explode(sequence(lit(0L), col("n_frames") - 1, lit(everyN.toLong))))

  /** One decoded row per REAL frame of an animated-GIF payload. */
  final case class DecodedFrame(
      media_id: Long,
      frame_idx: Long,
      width: Long,
      height: Long,
      feature: Array[Float])

  /** Per-frame REAL decode: every `everyN`-th frame of each decodable
    * animated-GIF payload becomes a row with its OWN luma-grid feature
    * (the content path [[sampleFrames]]' index explosion only shapes).
    * Undecodable payloads contribute no rows — the caller composes with
    * [[decodeBatched]]/[[sampleFrames]] for the stubbed remainder. Same
    * narrow batched `mapPartitions` shape as the other decode kernels:
    * rides the scan, no shuffle, parallelism preserved.
    */
  def decodeFramesBatched(
      ds: org.apache.spark.sql.Dataset[MediaRecord],
      everyN: Int = 1,
      batchSize: Int = 64): org.apache.spark.sql.Dataset[DecodedFrame] = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    implicit val enc = org.apache.spark.sql.Encoders.product[DecodedFrame]
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { m =>
          decodeGifFrames(m.payload).iterator.flatMap { case (w, h, fs) =>
            Iterator.range(0, fs.length, everyN).map(i =>
              DecodedFrame(m.media_id, i.toLong, w, h, fs(i)))
          }
        }
      }
    }
  }

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
