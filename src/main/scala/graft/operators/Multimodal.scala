package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, plus decode / feature-extract /
  * resize / frame-sample stages.
  *
  * The Spark-side architecture is the real thing:
  *   - media rows are `(media_id, kind, payload BINARY, meta STRUCT)`;
  *   - heavy per-row work runs in `mapPartitions` over *batches*
  *     (the JVM analog of `mapInPandas`' arrow-batch shape — one
  *     codec/model instance per batch, amortized across rows);
  *   - partitioning is by `media_id` so a 1000-executor cluster
  *     decodes 1000 payload ranges concurrently and no task sees a
  *     skewed byte volume;
  *   - frame sampling is a flatMap (1 video row → n frame rows), the
  *     generator/posexplode shape.
  *
  * The image codec is REAL: `encodePng`/`decodeImages` run 8-bit
  * grayscale PNG through `javax.imageio` (lossless — round-trip is
  * byte-exact, property-tested in MultimodalSpec). Audio/video codecs
  * aren't in the JDK, so their payloads stay opaque bytes and the
  * byte-level stages (histogram features, frame slicing) operate on
  * them directly. Swapping in an ffmpeg-style codec touches only the
  * decode function — schemas, batching, and partitioning stay as-is.
  */
object Multimodal {

  final case class MediaMeta(
      width: Int,
      height: Int,
      sample_rate: Int,
      n_frames: Int,
      format: String,
  )

  final case class Media(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      meta: MediaMeta,
  )

  final case class DecodedImage(
      media_id: Long,
      width: Int,
      height: Int,
      pixels: Array[Byte], // row-major grayscale
  )

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      histogram: Seq[Int], // 16-bin raw byte histogram (integer-exact)
      features: Seq[Float], // the same histogram, L1-normalized
  )

  final case class Frame(
      media_id: Long,
      frame_idx: Int,
      frame_payload: Array[Byte],
  )

  /** Deterministic fake corpus: one media row per document, payload
    * derived from the text bytes, kind round-robined. Gives the
    * pipeline real (varied-size) binary data without external files.
    */
  def syntheticMedia(docs: DataFrame): Dataset[Media] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)].map { case (id, text) =>
      val payload = text.getBytes(StandardCharsets.UTF_8)
      val kind = (id % 3) match {
        case 0 => "image"
        case 1 => "audio"
        case _ => "video"
      }
      val w = 4 + (payload.length % 13)
      val h = 3 + (payload.length % 7)
      Media(id, kind, payload,
        MediaMeta(w, h, 16000, 1 + (payload.length % 5).toInt, kind match {
          case "image" => "raw" // un-encoded raster bytes; see syntheticPngMedia for real PNGs
          case "audio" => "wav"
          case _ => "mp4"
        }))
    }
  }

  /** Deterministic grayscale raster for a document: pixel i is text
    * byte (i mod n) — cyclic fill, zeros for an empty text. Chosen
    * because it is exactly expressible in the DuckDB oracle (hex-nibble
    * extraction), so the full encode → decode → resize pipeline is
    * hash-verifiable end to end.
    */
  private def pixelsFor(text: Array[Byte], nPixels: Int): Array[Byte] = {
    val out = new Array[Byte](nPixels)
    if (text.isEmpty) return out
    var i = 0
    while (i < nPixels) { out(i) = text(i % text.length); i += 1 }
    out
  }

  /** Real PNG encode: 8-bit grayscale raster → PNG bytes via
    * `javax.imageio`. Lossless — `decodeImages` recovers the exact
    * input samples.
    */
  def encodePng(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h, s"raster ${pixels.length} != ${w}x$h")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, pixels)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Synthetic PNG corpus: the image-kind documents (doc_id ≡ 0 mod 3,
    * matching `syntheticMedia`'s round-robin) rendered as REAL grayscale
    * PNGs — dims from the same (4 + n%13, 3 + n%7) formulas, raster from
    * `pixelsFor`. This is the corpus `decodeImages` consumes; the other
    * modalities keep raw payloads (no JDK codec exists for them).
    */
  def syntheticPngMedia(docs: DataFrame): Dataset[Media] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)]
      .filter(_._1 % 3 == 0)
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          batch.map { case (id, text) =>
            val tb = text.getBytes(StandardCharsets.UTF_8)
            val w = 4 + (tb.length % 13)
            val h = 3 + (tb.length % 7)
            Media(id, "image", encodePng(pixelsFor(tb, w * h), w, h),
              MediaMeta(w, h, 16000, 1, "png"))
          }
        }
      }
  }

  /** Decode stage: PNG payload → pixel buffer, dims read from the PNG
    * header itself (metadata is advisory). Batched mapPartitions — one
    * `ImageReader` instance per batch, mirroring arrow-batch codec
    * amortization.
    */
  def decodeImages(media: Dataset[Media], batchSize: Int = 64): Dataset[DecodedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(m => m.kind == "image" && m.meta.format == "png")
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val reader = ImageIO.getImageReadersByFormatName("png").next()
          try {
            batch.map { m =>
              val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(m.payload))
              try {
                reader.setInput(iis, true, true)
                val img = reader.read(0)
                val (w, h) = (img.getWidth, img.getHeight)
                val px = new Array[Byte](w * h)
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    px(y * w + x) = img.getRaster.getSample(x, y, 0).toByte
                    x += 1
                  }
                  y += 1
                }
                DecodedImage(m.media_id, w, h, px)
              } finally iis.close()
            }.toVector // materialize before the shared reader is disposed
          } finally reader.dispose()
        }
      }
  }

  /** Resize stage: nearest-neighbor downsample on the decoded buffer —
    * pure, per-row, deterministic.
    */
  def resize(imgs: Dataset[DecodedImage], w: Int, h: Int): Dataset[DecodedImage] = {
    val spark = imgs.sparkSession
    import spark.implicits._
    imgs.map { img =>
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        val sy = y * img.height / h
        while (x < w) {
          val sx = x * img.width / w
          out(y * w + x) = img.pixels(sy * img.width + sx)
          x += 1
        }
        y += 1
      }
      DecodedImage(img.media_id, w, h, out)
    }
  }

  /** Feature extraction: 16-bin byte histogram, L1-normalized — a
    * deterministic stand-in for a real encoder, emitting the same
    * `array<float>` shape VectorSim consumes.
    */
  def features(media: Dataset[Media], batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          val hist = new Array[Int](16)
          m.payload.foreach(b => hist((b & 0xff) / 16) += 1)
          val n = math.max(m.payload.length, 1).toFloat
          MediaFeatures(m.media_id, m.kind, m.payload.length,
            hist.toSeq, hist.map(_ / n).toSeq)
        }
      }
    }
  }

  final case class AHash(
      media_id: Long,
      ahash: String, // 64 chars of '0'/'1', bit 0 first
      ah_hi: Long, // bits 0-31 packed, bit 0 at 1<<31 (simhash convention)
      ah_lo: Long, // bits 32-63 packed, bit 32 at 1<<31... i.e. 1L<<(63-b)
  )

  /** Perceptual average-hash over an 8×8 DECODED raster: bit b is
    * pixel(b) ≥ mean, computed integer-exactly as `pixel·64 ≥ Σpixels`
    * (no division — Spark and any oracle agree bit for bit). Emits the
    * bit string AND the bits packed into two longs (TextDedup.simhash's
    * convention), so candidate generation reuses the SimHash machinery:
    * band the string with [[TextDedup.bitBands]] for LSH buckets, then
    * verify survivors with `bit_count(xor)` hamming on the packed
    * halves — integer ops, never 64 substrings per pair. Narrow map;
    * near-dup image search stays linear + band-join-shaped at any
    * corpus size.
    */
  def aHash(imgs: Dataset[DecodedImage]): Dataset[AHash] = {
    val spark = imgs.sparkSession
    import spark.implicits._
    imgs.map { img =>
      require(img.pixels.length == 64,
        s"aHash expects an 8x8 raster (resize first); got ${img.pixels.length} px")
      val px = img.pixels.map(_ & 0xff)
      val s = px.sum
      val bits = px.map(p => p * 64 >= s)
      var hi = 0L
      var lo = 0L
      var b = 0
      while (b < 32) { if (bits(b)) hi |= 1L << (31 - b); b += 1 }
      while (b < 64) { if (bits(b)) lo |= 1L << (63 - b); b += 1 }
      AHash(img.media_id, bits.map(if (_) '1' else '0').mkString, hi, lo)
    }
  }

  /** Frame sampling: every `everyN`-th fixed-size slice of a video
    * payload becomes a frame row (1 → n flatMap).
    */
  def sampleFrames(
      media: Dataset[Media],
      frameBytes: Int,
      everyN: Int,
  ): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      val nFrames = math.max(m.payload.length / frameBytes, 1)
      (0 until nFrames by everyN).map { f =>
        val from = f * frameBytes
        val until = math.min(from + frameBytes, m.payload.length)
        Frame(m.media_id, f, m.payload.slice(from, until))
      }
    }
  }

  final case class AudioWindow(
      media_id: Long,
      window_idx: Int,
      energy: Long, // Σ sample² over the window — integer-exact
  )

  final case class FrameDelta(
      media_id: Long,
      frame_idx: Int,
      delta: Long, // L1 byte distance to the previous sampled frame
      is_cut: Boolean,
  )

  /** Scene-cut detection over sampled frames — keyframe selection for
    * video training data: consecutive frames' L1 byte distance
    * (Σ |bᵢ − bᵢ'| over the overlap, + 255 per unmatched tail byte so
    * a length change registers as change), a cut wherever the delta
    * crosses `threshold`. Frame 0 is always a cut (the first keyframe).
    *
    * Scale shape: ONE shuffle keyed on media_id (`groupByKey` +
    * per-video in-memory sort of ITS OWN sampled frames — bounded by
    * frames-per-video, not corpus size), then a linear pass. Integer
    * math end to end, so the oracle rebuilds every delta from hex
    * nibbles.
    */
  def sceneCuts(frames: Dataset[Frame], threshold: Long): Dataset[FrameDelta] = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.groupByKey(_.media_id).flatMapGroups { (id, it) =>
      val fs = it.toArray.sortBy(_.frame_idx)
      fs.indices.map { i =>
        if (i == 0) FrameDelta(id, fs(0).frame_idx, 0L, is_cut = true)
        else {
          val (a, b) = (fs(i - 1).frame_payload, fs(i).frame_payload)
          val n = math.min(a.length, b.length)
          var d = 0L
          var j = 0
          while (j < n) {
            d += math.abs((a(j) & 0xff) - (b(j) & 0xff)); j += 1
          }
          d += 255L * ((a.length - n) + (b.length - n))
          FrameDelta(id, fs(i).frame_idx, d, d > threshold)
        }
      }
    }
  }

  /** Audio windowed energy: the payload of an audio row is interpreted
    * as 16-bit little-endian signed PCM mono (the raw-WAV convention)
    * and folded into per-window sum-of-squares energies — the
    * primitive under VAD/silence-trimming in a speech-data curation
    * pipeline. Full windows only (a trailing partial window and a
    * trailing odd byte carry no complete frame and are dropped, like
    * `sampleFrames`' tail clamp but stricter — energy of a short
    * window isn't comparable to its neighbors).
    *
    * Same scale shape as the other media stages: 1 → n flatMap inside
    * `mapPartitions`-style typed iteration, no shuffle, integer math
    * exactly reproducible by the oracle's hex-nibble byte extraction.
    * A real resampler/codec slots in before this; the windowing,
    * sign-extension, and energy fold are the load-bearing parts.
    */
  def audioEnergy(
      media: Dataset[Media],
      windowSamples: Int = 16,
  ): Dataset[AudioWindow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "audio").flatMap { m =>
      val bytes = m.payload
      val nWindows = bytes.length / 2 / windowSamples
      (0 until nWindows).map { k =>
        var e = 0L
        var j = 0
        while (j < windowSamples) {
          val i = (k * windowSamples + j) * 2
          // little-endian i16: low byte unsigned, high byte sign-extends
          val s = (bytes(i) & 0xff) | (bytes(i + 1).toInt << 8)
          e += s.toLong * s
          j += 1
        }
        AudioWindow(m.media_id, k, e)
      }
    }
  }
}
