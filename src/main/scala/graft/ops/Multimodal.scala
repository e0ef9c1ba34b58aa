package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder-prompt first-class op): media payloads
  * travel as opaque `binary` columns; decode / feature-extract runs as a
  * partition-batched typed transform with REAL format parsers.
  *
  * The decoders parse two self-describing public formats byte-for-byte (no
  * codec libraries exist in this container, so the formats are ones whose
  * headers fully describe the media):
  *  - BMP (BITMAPINFOHEADER): magic "BM", little-endian width/height at
  *    offsets 18/22, bits-per-pixel at 28 — the public Windows DIB layout
  *  - WAV (RIFF/WAVE, PCM "fmt " chunk): channels/sample-rate/byte-rate at
  *    offsets 22/24/28, "data" chunk size at 40 → duration = size/byte-rate
  * Malformed payloads (wrong magic, truncated header, zero byte rate) are
  * COUNTED per batch, never thrown — at 100 TB a poison row must not kill
  * the stage.
  *
  * Scale shape: payload synthesis and the downstream aggregate are codegen'd
  * Catalyst; only the byte-level header parse runs in `mapPartitions` (one
  * decoder init per partition — the same batching contract a Pandas-UDF
  * image decoder would have).
  */
object Multimodal {

  final case class MediaRow(
      media_id: Long,
      kind: String, // "image" | "audio"
      payload: Array[Byte]) // opaque encoded bytes

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      ok: Boolean, // header parsed
      width: Int, // BMP: pixel width (0 for audio/malformed)
      height: Int, // BMP: pixel height
      bpp: Int, // BMP: bits per pixel
      sample_rate: Int, // WAV: samples/sec (0 for image/malformed)
      channels: Int, // WAV
      duration_ms: Long, // WAV: data size / byte rate
      n_bytes: Long,
      batch_size: Int) // rows seen by this decode batch (proves batching)

  // ---- byte helpers (all formats here are little-endian) ----

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def putLe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }

  private def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
    var i = 0
    while (i < 4) { b(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
  }

  // ---- encoders (used by the deterministic payload synthesizer) ----

  /** Minimal valid BMP: 14-byte file header + 40-byte BITMAPINFOHEADER, no
    * pixel data (dataOffset points past the header; decoders that only read
    * dimensions — ours — don't need pixels).
    */
  def encodeBmp(width: Int, height: Int, bpp: Int): Array[Byte] = {
    val b = new Array[Byte](54)
    b(0) = 'B'; b(1) = 'M'
    putLe32(b, 2, 54) // file size
    putLe32(b, 10, 54) // pixel data offset
    putLe32(b, 14, 40) // DIB header size (BITMAPINFOHEADER)
    putLe32(b, 18, width)
    putLe32(b, 22, height)
    putLe16(b, 26, 1) // planes
    putLe16(b, 28, bpp)
    b
  }

  /** Minimal valid PCM WAV: RIFF/WAVE + 16-byte "fmt " + empty "data" chunk
    * whose declared size gives the duration.
    */
  def encodeWav(sampleRate: Int, channels: Int, dataSize: Int): Array[Byte] = {
    val b = new Array[Byte](44)
    b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'
    putLe32(b, 4, 36 + dataSize)
    b(8) = 'W'; b(9) = 'A'; b(10) = 'V'; b(11) = 'E'
    b(12) = 'f'; b(13) = 'm'; b(14) = 't'; b(15) = ' '
    putLe32(b, 16, 16) // fmt chunk size
    putLe16(b, 20, 1) // PCM
    putLe16(b, 22, channels)
    putLe32(b, 24, sampleRate)
    putLe32(b, 28, sampleRate * channels * 2) // byte rate (16-bit samples)
    putLe16(b, 32, channels * 2) // block align
    putLe16(b, 34, 16) // bits per sample
    b(36) = 'd'; b(37) = 'a'; b(38) = 't'; b(39) = 'a'
    putLe32(b, 40, dataSize)
    b
  }

  // ---- pixel-level encoders (resize / frame-sample sources) ----

  /** 24-bpp BMP with a REAL pixel raster: rows stored bottom-up and padded
    * to 4-byte boundaries — the two DIB layout details any pixel-level
    * operation must honor. `pix(x, y)` is the grayscale byte at IMAGE
    * coordinates (y = 0 is the top row; the encoder maps it to file row
    * height−1−y), written to all three BGR channels.
    */
  def encodeBmpPixels(width: Int, height: Int, pix: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0)
    val rowSize = (width * 3 + 3) & ~3
    val b = new Array[Byte](54 + rowSize * height)
    b(0) = 'B'; b(1) = 'M'
    putLe32(b, 2, b.length)
    putLe32(b, 10, 54)
    putLe32(b, 14, 40)
    putLe32(b, 18, width)
    putLe32(b, 22, height)
    putLe16(b, 26, 1)
    putLe16(b, 28, 24)
    var y = 0
    while (y < height) {
      val rowOff = 54 + (height - 1 - y) * rowSize
      var x = 0
      while (x < width) {
        val p = (pix(x, y) & 0xff).toByte
        val off = rowOff + x * 3
        b(off) = p; b(off + 1) = p; b(off + 2) = p
        x += 1
      }
      y += 1
    }
    b
  }

  /** PCM WAV with REAL sample data: `samples(frame, channel)` is the signed
    * 16-bit value, stored little-endian in interleaved frames.
    */
  def encodeWavPcm(sampleRate: Int, channels: Int, nFrames: Int,
      samples: (Int, Int) => Int): Array[Byte] = {
    require(channels > 0 && nFrames >= 0)
    val blockAlign = channels * 2
    val dataSize = nFrames * blockAlign
    val b = new Array[Byte](44 + dataSize)
    encodeWav(sampleRate, channels, dataSize).copyToArray(b)
    var f = 0
    while (f < nFrames) {
      var c = 0
      while (c < channels) {
        putLe16(b, 44 + f * blockAlign + c * 2, samples(f, c) & 0xffff)
        c += 1
      }
      f += 1
    }
    b
  }

  // ---- decoders ----

  /** Parse a BMP header: Some((width, height, bpp)) or None if malformed. */
  def decodeBmp(b: Array[Byte]): Option[(Int, Int, Int)] =
    if (b == null || b.length < 30 || b(0) != 'B' || b(1) != 'M') None
    else {
      // height is SIGNED in BITMAPINFOHEADER: a negative value is a legal
      // top-down BMP — report its magnitude, never a negative pixel count
      // (Int.MinValue has no positive magnitude: reject it as malformed)
      val w = le32(b, 18); val h = le32(b, 22); val bpp = le16(b, 28)
      if (w <= 0 || h == 0 || h == Int.MinValue || bpp <= 0) None
      else Some((w, math.abs(h), bpp))
    }

  /** Parse a WAV header: Some((sampleRate, channels, durationMs)) or None. */
  def decodeWav(b: Array[Byte]): Option[(Int, Int, Long)] =
    if (b == null || b.length < 44 ||
      b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E' ||
      b(12) != 'f' || b(13) != 'm' || b(14) != 't' || b(15) != ' ') None
    else {
      val channels = le16(b, 22)
      val rate = le32(b, 24)
      val byteRate = le32(b, 28)
      val dataSize = le32(b, 40).toLong & 0xffffffffL
      if (rate <= 0 || channels <= 0 || byteRate <= 0) None
      else Some((rate, channels, dataSize * 1000L / byteRate))
    }

  /** Shared raster guard for the pixel-level BMP ops: Some((w, h, dataOff,
    * rowSize)) only for a bottom-up 24-bpp payload whose pixel data is
    * fully present. Dimensions are bounded (≤ 2^15 per axis) and the length
    * check runs in Long so a forged header cannot overflow `w*3` into a
    * negative rowSize and slip past the truncation guard into a thrown
    * index — the never-throw contract is this function's job.
    */
  private def bmp24Raster(payload: Array[Byte]): Option[(Int, Int, Int, Int)] =
    decodeBmp(payload) match {
      case Some((w, h, 24)) if le32(payload, 22) > 0 && w <= 32768 && h <= 32768 =>
        val dataOff = le32(payload, 10)
        val rowSize = (w * 3 + 3) & ~3
        if (dataOff < 54 || payload.length.toLong < dataOff.toLong + rowSize.toLong * h) None
        else Some((w, h, dataOff, rowSize))
      case _ => None
    }

  /** Shared data-chunk guard for the PCM WAV ops: Some((channels, nFrames))
    * only when the declared data chunk is fully present.
    */
  private def wavPcmData(payload: Array[Byte]): Option[(Int, Int)] =
    decodeWav(payload) match {
      case Some((_, ch, _)) =>
        val dataSize = le32(payload, 40)
        if (dataSize < 0 || payload.length.toLong < 44L + dataSize) None
        else Some((ch, dataSize / (ch * 2)))
      case None => None
    }

  /** Nearest-neighbor downsample of a 24-bpp bottom-up BMP by integer
    * `factor`: output pixel (x, y) = source pixel (x·factor, y·factor),
    * output dims ⌈w/factor⌉ × ⌈h/factor⌉, re-encoded as a VALID BMP (the
    * resize of a resize decodes). None for malformed payloads, non-24-bpp,
    * top-down (negative height) images, or pixel data shorter than the
    * header claims — a poison payload degrades to a dropped row, never a
    * thrown stage.
    */
  def resizeBmp(payload: Array[Byte], factor: Int): Option[Array[Byte]] = {
    require(factor >= 1)
    bmp24Raster(payload).map { case (w, h, dataOff, rowSize) =>
      val w2 = (w + factor - 1) / factor
      val h2 = (h + factor - 1) / factor
      encodeBmpPixels(w2, h2, (x2, y2) =>
        payload(dataOff + (h - 1 - y2 * factor) * rowSize + x2 * factor * 3) & 0xff)
    }
  }

  /** Every `n`th PCM frame of a WAV, rebuilt as a VALID WAV with the same
    * format chunk and the reduced data size (audio frame-sampling — the
    * 1-D analog of the image resize). None for malformed or truncated
    * payloads.
    */
  def frameSampleWav(payload: Array[Byte], n: Int): Option[Array[Byte]] = {
    require(n >= 1)
    wavPcmData(payload).map { case (ch, nFrames) =>
      val rate = le32(payload, 24)
      val blockAlign = ch * 2
      val nOut = (nFrames + n - 1) / n
      encodeWavPcm(rate, ch, nOut,
        (f, c) => le16(payload, 44 + f * n * blockAlign + c * 2).toShort.toInt)
    }
  }

  /** Decoded pixel census of a 24-bpp BMP payload: (width, height, sum of
    * the blue-channel bytes over every pixel) — recomputable by arithmetic
    * when the raster is synthesized, which makes the resize pipeline's
    * encode→resize→re-decode path a hard oracle target.
    */
  def bmpPixelCensus(payload: Array[Byte]): Option[(Int, Int, Long)] =
    bmp24Raster(payload).map { case (w, h, dataOff, rowSize) =>
      var sum = 0L; var y = 0
      while (y < h) {
        val rowOff = dataOff + (h - 1 - y) * rowSize
        var x = 0
        while (x < w) { sum += payload(rowOff + x * 3) & 0xff; x += 1 }
        y += 1
      }
      (w, h, sum)
    }

  /** Decoded PCM census of a WAV payload: (frame count, sum of channel-0
    * signed 16-bit samples).
    */
  def wavPcmCensus(payload: Array[Byte]): Option[(Int, Long)] =
    wavPcmData(payload).map { case (ch, nFrames) =>
      val blockAlign = ch * 2
      var sum = 0L; var f = 0
      while (f < nFrames) {
        sum += le16(payload, 44 + f * blockAlign).toShort.toLong
        f += 1
      }
      (nFrames, sum)
    }

  /** Partition-batched decode: one pass, per-kind header parse, malformed
    * rows flagged `ok = false` (counted downstream, never thrown).
    */
  def decode(rows: Iterator[MediaRow]): Iterator[MediaFeatures] = {
    val batch = rows.toArray // partition-batch: one decoder init per partition
    val bs = batch.length
    batch.iterator.map { r =>
      val n = if (r.payload == null) 0L else r.payload.length.toLong
      r.kind match {
        case "image" => decodeBmp(r.payload) match {
          case Some((w, h, bpp)) =>
            MediaFeatures(r.media_id, r.kind, ok = true, w, h, bpp, 0, 0, 0L, n, bs)
          case None =>
            MediaFeatures(r.media_id, r.kind, ok = false, 0, 0, 0, 0, 0, 0L, n, bs)
        }
        case _ => decodeWav(r.payload) match {
          case Some((rate, ch, durMs)) =>
            MediaFeatures(r.media_id, r.kind, ok = true, 0, 0, 0, rate, ch, durMs, n, bs)
          case None =>
            MediaFeatures(r.media_id, r.kind, ok = false, 0, 0, 0, 0, 0, 0L, n, bs)
        }
      }
    }
  }

  /** Deterministic media table derived from `documents`: even doc_ids carry a
    * real BMP, odd ones a real WAV, and every 7th payload is deliberately
    * malformed (truncated garbage). All parameters are doc_id arithmetic so a
    * SQL oracle can recompute the expected dimensions.
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] =
    mediaRows(spark, dir, id =>
      if (id % 2 == 0)
        encodeBmp((id % 640).toInt + 1, (id % 480).toInt + 1, 24)
      else
        encodeWav(8000 * ((id % 5).toInt + 1), (id % 2).toInt + 1,
          ((id % 100).toInt + 1) * 1024))

  /** (media_id, kind, payload) over `documents`: even doc_ids are images,
    * odd ones audio; every 7th payload is malformed (truncated garbage), the
    * rest come from `encode`.
    */
  private def mediaRows(spark: SparkSession, dir: String,
      encode: Long => Array[Byte]): Dataset[MediaRow] = {
    import spark.implicits._
    val enc = udf { (id: Long) =>
      if (id % 7 == 0) "XX".getBytes ++ Array.tabulate(8)(i => (id + i).toByte)
      else encode(id)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(
        col("doc_id").as("media_id"),
        when(pmod(col("doc_id"), lit(2)) === 0, "image").otherwise("audio").as("kind"),
        enc(col("doc_id")).as("payload"))
      .as[MediaRow]
  }

  final case class ResizedCensus(media_id: Long, w2: Int, h2: Int, pix_sum: Long)
  final case class SampledCensus(media_id: Long, n_frames_out: Int, sample_sum: Long)

  /** Deterministic media table WITH real content (the resize / frame-sample
    * source): even doc_ids carry a 24-bpp BMP whose raster is
    * p(x, y) = (id + 3x + 7y) mod 251; odd ones a PCM WAV whose frames are
    * s(f, c) = ((31·id + 13f + 7c) mod 65536) − 32768; every 7th payload is
    * deliberately malformed. All content is doc_id arithmetic, so a SQL
    * oracle recomputes the RESIZED/SAMPLED censuses exactly.
    */
  def mediaTablePixels(spark: SparkSession, dir: String): Dataset[MediaRow] =
    mediaRows(spark, dir, id =>
      if (id % 2 == 0)
        encodeBmpPixels((id % 13).toInt + 2, (id % 11).toInt + 2,
          (x, y) => ((id + 3 * x + 7 * y) % 251).toInt)
      else
        encodeWavPcm(8000 * ((id % 5).toInt + 1), (((id + 1) / 2) % 2).toInt + 1,
          (id % 50).toInt + 4,
          (f, c) => (((31 * id + 13 * f + 7 * c) % 65536) - 32768).toInt))

  /** Resize pipeline: images in, factor-2 nearest-neighbor downsample, the
    * RESIZED payload re-decoded into its census (proving the full
    * encode→resize→decode byte path, not just the arithmetic). Malformed
    * payloads drop (the q32 pipeline carries the malformed accounting).
    */
  def resizePipeline(spark: SparkSession, dir: String, factor: Int = 2): DataFrame =
    mediaTablePixels(spark, dir)
      .filter(col("kind") === "image")
      .mapPartitions(_.flatMap { r =>
        resizeBmp(r.payload, factor).flatMap(bmpPixelCensus).map {
          case (w, h, sum) => ResizedCensus(r.media_id, w, h, sum)
        }
      })(org.apache.spark.sql.Encoders.product[ResizedCensus])
      .toDF().orderBy(col("media_id"))

  /** Frame-sample pipeline: audio in, every `n`th frame kept, the SAMPLED
    * payload re-decoded into its census.
    */
  def frameSamplePipeline(spark: SparkSession, dir: String, n: Int = 4): DataFrame =
    mediaTablePixels(spark, dir)
      .filter(col("kind") === "audio")
      .mapPartitions(_.flatMap { r =>
        frameSampleWav(r.payload, n).flatMap(wavPcmCensus).map {
          case (nf, sum) => SampledCensus(r.media_id, nf, sum)
        }
      })(org.apache.spark.sql.Encoders.product[SampledCensus])
      .toDF().orderBy(col("media_id"))

  /** End-to-end decode pipeline: binary column in, typed features out, then a
    * per-kind census with malformed accounting — every dimension reproducible
    * from doc_id arithmetic by the SQL oracle.
    */
  def pipeline(spark: SparkSession, dir: String): DataFrame = {
    val features = mediaTable(spark, dir).mapPartitions(decode(_))(
      org.apache.spark.sql.Encoders.product[MediaFeatures])
    features.groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_malformed"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"),
        sum(col("sample_rate")).as("sum_rate"),
        sum(col("duration_ms")).as("sum_duration_ms"))
      .orderBy(col("kind"))
  }
}
