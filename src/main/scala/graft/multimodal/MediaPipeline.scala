package graft.multimodal

import org.apache.spark.sql.{Dataset, SparkSession}

/** One multimodal record: an opaque binary payload (image/audio/video bytes)
  * plus typed metadata, carried side-by-side with relational columns. The
  * engine treats payloads as `binary` and never interprets them in Catalyst;
  * decode/feature-extract runs in batched partition passes.
  */
final case class MediaRecord(
    media_id: Long,
    mime: String,
    payload: Array[Byte])

/** Extracted features for one record. `width`/`height`/`frames` come from
  * the decoder (real parse for PPM/BMP/PNG/JPEG/AVI, stand-in otherwise);
  * `byteMean`/`byteVar` are computed from the real bytes.
  */
final case class MediaFeatures(
    media_id: Long,
    mime: String,
    n_bytes: Long,
    byte_mean: Double,
    byte_var: Double,
    width: Int,
    height: Int,
    frames: Int)

/** Multimodal feature extraction as batched per-partition passes — the Scala
  * twin of a `mapInPandas` pipeline: one decoder instance per partition
  * (decoders are expensive to construct), records processed in a single
  * streamed iterator, no per-row setup cost. At 100 TB this is
  * embarrassingly parallel; partition sizing is controlled upstream by
  * `spark.sql.files.maxPartitionBytes` on the payload source.
  *
  * Decode is REAL for every modality: PPM (P6), BMP (24-bit BI_RGB), PNG
  * and JPEG images (the first two hand-parsed, the last two through the
  * JDK's own `javax.imageio`), WAV PCM audio, and uncompressed-AVI video
  * (see [[Codecs]]) — including actual pixel resampling, in-format
  * re-encode on resize, real signal statistics, and real frame rasters.
  * Only compressed codecs with no pure-JVM decoder (MP4/H.264, MP3/AAC)
  * fall back to a documented deterministic stand-in, so the pipeline shape
  * stays exercised end-to-end for every mime. Tested in MediaPipelineSpec
  * (real files) and oracle-checked by q134 (PPM/BMP), q143 (PNG), q146
  * (WAV), and q155 (AVI) against closed-form DuckDB arithmetic.
  */
object MediaPipeline {

  /** Image/video decoder: real parse for PPM/BMP/PNG/JPEG/AVI payloads (dispatch
    * on magic bytes); other formats get a deterministic stand-in derived from
    * the payload, clearly separated below — a real deployment swaps ONLY the
    * fallback for the actual library call, nothing else changes.
    */
  object Decoder {
    final case class Decoded(width: Int, height: Int, frames: Int)

    def decode(mime: String, payload: Array[Byte]): Decoded =
      if (Codecs.isAvi(payload))
        try {
          val v = Codecs.decodeAvi(payload)
          Decoded(v.width, v.height, v.frames.size)
        } catch { case scala.util.control.NonFatal(_) => fallback(mime, payload) }
      else Codecs.decode(payload) match {
        case Some(img) => Decoded(img.width, img.height, 1)
        case None => fallback(mime, payload)
      }

    /** Deterministic stand-in for compressed codecs with no pure-JVM
      * decoder (MP4/H.264, …): fake-but-stable dims from a payload hash.
      */
    private[multimodal] def fallback(mime: String, payload: Array[Byte]): Decoded = {
      val h = payload.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xff))
      val base = math.abs(h % 1024).toInt + 16
      val frames = if (mime.startsWith("video/")) math.abs(h % 300).toInt + 1 else 1
      Decoded(base, (base * 3) / 4, frames)
    }
  }

  /** Wrap string content as media records (the fixture stand-in for blobs). */
  def fromText(spark: SparkSession, rows: Dataset[(Long, String)],
      mime: String): Dataset[MediaRecord] = {
    import spark.implicits._
    rows.map { case (id, text) => MediaRecord(id, mime, text.getBytes("UTF-8")) }
  }

  /** Batched decode + feature extraction, one decoder per partition. */
  def extractFeatures(spark: SparkSession, media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition setup (decoder/library init) happens once, here
      it.map { rec =>
        val bytes = rec.payload
        val n = bytes.length.toLong
        var sum = 0.0
        var sumSq = 0.0
        var i = 0
        while (i < bytes.length) {
          val v = (bytes(i) & 0xff).toDouble
          sum += v; sumSq += v * v
          i += 1
        }
        val mean = if (n == 0) 0.0 else sum / n
        val varr = if (n == 0) 0.0 else sumSq / n - mean * mean
        val dec = Decoder.decode(rec.mime, bytes)
        MediaFeatures(rec.media_id, rec.mime, n, mean, varr,
          dec.width, dec.height, dec.frames)
      }
    }
  }

  /** Extracted audio features for one record: REAL RIFF/PCM parse for WAV
    * payloads (sample rate / channels / frame count from the fmt and data
    * chunks, peak and energy from the actual samples — integer-exact);
    * formats with no pure-JVM decoder (MP3/AAC/…) get the deterministic
    * stand-in, mirroring the image Decoder's contract.
    */
  final case class AudioFeatures(
      media_id: Long,
      mime: String,
      sample_rate: Int,
      channels: Int,
      n_frames: Long,
      duration_us: Long,
      peak: Long,
      energy: Long)

  /** Batched audio decode + feature extraction, one decoder per partition —
    * the audio twin of [[extractFeatures]].
    */
  def extractAudioFeatures(spark: SparkSession,
      media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { rec =>
        if (Codecs.isWav(rec.payload)) {
          val a = try Codecs.decodeWav(rec.payload) catch {
            case _: IllegalArgumentException => null // corrupt: fall through
          }
          if (a != null) {
            var peak = 0L
            var energy = 0L
            var i = 0
            while (i < a.samples.length) {
              val v = a.samples(i).toLong
              val av = math.abs(v)
              if (av > peak) peak = av
              energy += v * v
              i += 1
            }
            AudioFeatures(rec.media_id, rec.mime, a.sampleRate, a.channels,
              a.frames, a.durationMicros, peak, energy)
          } else audioFallback(rec)
        } else audioFallback(rec)
      }
    }
  }

  /** Deterministic stand-in for codec-less audio formats: stable fake
    * duration from a payload hash, zero signal stats.
    */
  private[multimodal] def audioFallback(rec: MediaRecord): AudioFeatures = {
    val h = rec.payload.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xff))
    val frames = math.abs(h % 480000) + 8000
    AudioFeatures(rec.media_id, rec.mime, 48000, 1, frames,
      frames * 1000000L / 48000, 0L, 0L)
  }

  /** Fit-within resize plan preserving aspect ratio: target dims for a
    * (maxW, maxH) box; identity when already inside. Pure metadata math.
    */
  def resizePlan(width: Int, height: Int, maxW: Int, maxH: Int): (Int, Int) = {
    require(maxW > 0 && maxH > 0, "resize box must be positive")
    if (width <= maxW && height <= maxH) (width, height)
    else {
      val scale = math.min(maxW.toDouble / width, maxH.toDouble / height)
      (math.max(1, math.floor(width * scale).toInt),
        math.max(1, math.floor(height * scale).toInt))
    }
  }

  /** Batched resize: decode dims per record, compute the fit-within plan,
    * and emit the resized record. For PPM/BMP payloads this is a REAL
    * resample: pixels are decoded, nearest-neighbor resampled to the plan's
    * dims, and re-encoded in the same format — downstream decode sees the
    * new dimensions in the payload itself. Codec-less formats keep their
    * bytes and record the plan in the mime parameters instead (stripping any
    * previous plan: chaining resizes must replace, not accumulate).
    */
  def resize(spark: SparkSession, media: Dataset[MediaRecord],
      maxW: Int, maxH: Int): Dataset[MediaRecord] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition setup (codec init) happens once, here
      it.map { rec =>
        Codecs.decode(rec.payload) match {
          case Some(img) =>
            val (tw, th) = resizePlan(img.width, img.height, maxW, maxH)
            val resized = Codecs.resizeNearest(img, tw, th)
            val encoded =
              if (Codecs.isBmp(rec.payload)) Codecs.encodeBmp(resized)
              else if (Codecs.isPng(rec.payload)) Codecs.encodePng(resized)
              else if (Codecs.isJpeg(rec.payload)) Codecs.encodeJpeg(resized)
              else Codecs.encodePpm(resized)
            rec.copy(payload = encoded)
          case None =>
            val dec = Decoder.fallback(rec.mime, rec.payload)
            val (tw, th) = resizePlan(dec.width, dec.height, maxW, maxH)
            rec.copy(mime = s"${rec.mime.takeWhile(_ != ';')};w=$tw;h=$th")
        }
      }
    }
  }

  /** Deterministic frame sampling plan for a video payload: every k-th frame
    * up to `maxFrames` — pure metadata math, no decode of skipped frames.
    */
  def sampleFrames(frames: Int, maxFrames: Int): Seq[Int] = {
    require(maxFrames > 0)
    if (frames <= maxFrames) 0 until frames
    else {
      val step = frames.toDouble / maxFrames
      (0 until maxFrames).map(i => math.min(frames - 1, math.round(i * step).toInt))
    }
  }
}
