package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed metadata carried alongside an opaque media payload. */
final case class MediaMeta(format: String, width: Int, height: Int, sampleRateHz: Int)

/** One multimodal record: an opaque binary payload + typed metadata. At 100 TB
 * the payload column stays opaque (never parsed by Catalyst), so scans prune it
 * unless a stage actually consumes bytes. */
final case class MediaRecord(doc_id: Long, modality: String, bytes: Array[Byte], meta: MediaMeta)

/** Deterministic per-record features produced by the (stubbed) decoder. */
final case class MediaFeatures(
    doc_id: Long, modality: String, n_bytes: Long, content_md5: String,
    head_checksum: Long, width: Int, height: Int)

/** Features from the REAL decoders ([[Codecs]]): `n_units` = pixels (image)
 * or samples (audio); `feat_a`/`feat_b` = channel sums (image) or
 * abs-amplitude sum/peak (audio) — integer-exact, so the q47 oracle needs no
 * float tolerance. */
final case class MediaDecodeFeatures(
    doc_id: Long, modality: String, n_units: Long, feat_a: Long, feat_b: Long)

/**
 * Multimodal column plumbing: treat image/audio/video as `binary` columns with
 * typed metadata; decode / feature-extract / resize / frame-sample run as
 * batched per-partition transforms over `Dataset[MediaRecord]`.
 *
 * Decode tiers: PPM/WAV payloads decode through the hand-rolled byte-layout
 * codecs and PNG/JPEG/BMP/GIF through the JDK's ImageIO (both REAL —
 * [[Codecs]], exercised by [[decodeFeatures]]/q47); [[decodeStub]] survives
 * only as the deliberately codec-free q37 twin, deriving deterministic fake
 * "pixels" from raw bytes so the whole q37 pipeline stays recomputable in
 * oracle SQL. Compressed audio/video (MP3/H.264) are the one genuinely
 * stubbed decode — the JDK ships no decoder for them. Everything around the
 * decoders — the schema, the typed Encoders, the mapPartitions batch shape,
 * the pruning-friendly column layout — is the real production plumbing and
 * is oracle-tested end-to-end (q37/q47).
 */
object Multimodal {

  /**
   * Synthesize a deterministic media corpus from the `documents` table: payload
   * = UTF-8 bytes of the text (a stand-in for real image bytes), metadata
   * derived from the document length. Same construction is expressible in the
   * DuckDB oracle, which makes the downstream feature pipeline hash-checkable.
   */
  def synthesize(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("modality"),
      encode(col("text"), "UTF-8").as("bytes"),
      struct(
        lit("fake").as("format"),
        (col("n_chars") % 64 + 16).cast("int").as("width"),
        (col("n_chars") % 48 + 12).cast("int").as("height"),
        lit(16000).as("sampleRateHz")).as("meta"))
      .as[MediaRecord]
  }

  /**
   * STUB decode: a real implementation would hand `r.bytes` to an image/audio
   * codec here. The deterministic fake below reads the raw payload instead —
   * the batch shape (per-partition iterator, one decoder instance per
   * partition, no per-row setup) is exactly what a codec-backed version needs.
   */
  private def decodeStub(bytes: Array[Byte]): (String, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5") // per-call; cheap vs real decode
    val hex = md.digest(bytes).map("%02x".format(_)).mkString
    var sum = 0L
    var i = 0
    while (i < math.min(16, bytes.length)) { sum += bytes(i) & 0xff; i += 1 }
    (hex, sum)
  }

  /** Batched feature extraction: one narrow mapPartitions pass, no shuffle. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        val (digest, checksum) = decodeStub(r.bytes)
        MediaFeatures(r.doc_id, r.modality, r.bytes.length.toLong, digest,
          checksum, r.meta.width, r.meta.height)
      }
    }
  }

  /**
   * REAL image resize for PPM payloads: decode with [[Codecs.ppmDecode]],
   * nearest-neighbor rescale the actual pixel grid, re-encode — the full
   * decode→transform→encode cycle a production image pipeline runs, as a
   * narrow per-partition pass. Non-PPM/undecodable records pass through
   * untouched (the resize is a no-op for them, not a failure).
   */
  def resizePpm(media: Dataset[MediaRecord], outW: Int, outH: Int): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        if (r.meta.format != "ppm") r
        else Codecs.ppmDecode(r.bytes) match {
          case None => r
          case Some(img) =>
            val rgb = new Array[Byte](3 * outW * outH)
            var y = 0
            while (y < outH) {
              val sy = y * img.height / outH
              var x = 0
              while (x < outW) {
                val sx = x * img.width / outW
                val src = 3 * (sy * img.width + sx)
                val dst = 3 * (y * outW + x)
                rgb(dst) = img.rgb(src)
                rgb(dst + 1) = img.rgb(src + 1)
                rgb(dst + 2) = img.rgb(src + 2)
                x += 1
              }
              y += 1
            }
            r.copy(bytes = Codecs.ppmEncode(Codecs.PpmImage(outW, outH, rgb)),
              meta = r.meta.copy(width = outW, height = outH))
        }
      }
    }
  }

  /**
   * STUB resize: a real version would decode, scale, re-encode. The fake keeps
   * every k-th byte (deterministic, size-reducing) and rewrites the metadata —
   * which is the part Catalyst sees, and the part that must stay consistent.
   */
  def resizeStub(media: Dataset[MediaRecord], factor: Int): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        val kept = r.bytes.zipWithIndex.collect { case (b, i) if i % factor == 0 => b }
        r.copy(bytes = kept,
          meta = r.meta.copy(width = math.max(1, r.meta.width / factor),
            height = math.max(1, r.meta.height / factor)))
      }
    }
  }

  /**
   * Synthesize REAL media payloads from the documents table: binary PPM (P6)
   * images and RIFF/WAV PCM16 audio, both built byte-for-byte by [[Codecs]].
   * Pixels/samples derive deterministically from the text's UTF-8 bytes
   * (pixel j = byte[j mod L]; sample i = byte[i]·257 − 32768), so the q47
   * oracle can recompute every decoded feature from the text alone (compressed
   * formats would not be — PNG/JPEG decode is real too, via the JDK ImageIO
   * path in [[Codecs.imageDecode]], but can't be recomputed in SQL, so the
   * oracle-gated corpus sticks to PPM/WAV). Video stays out: compressed
   * audio/video codecs are the only genuinely stubbed decode left.
   */
  def synthesizeReal(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val tb = text.getBytes("UTF-8")
          val L = tb.length
          if (L == 0) Iterator.empty
          else (id % 3) match {
            case 0 =>
              val w = L % 16 + 8
              val h = L % 12 + 6
              val rgb = Array.tabulate(3 * w * h)(j => tb(j % L))
              Iterator.single(MediaRecord(id, "image",
                Codecs.ppmEncode(Codecs.PpmImage(w, h, rgb)),
                MediaMeta("ppm", w, h, 0)))
            case 1 =>
              val n = math.min(L, 256)
              val samples = Array.tabulate(n)(i => ((tb(i) & 0xff) * 257 - 32768).toShort)
              Iterator.single(MediaRecord(id, "audio",
                Codecs.wavEncode(Codecs.WavAudio(16000, samples)),
                MediaMeta("wav", 0, 0, 16000)))
            case _ => Iterator.empty
          }
        }
      }
  }

  /**
   * Synthesize REAL multi-frame video payloads for the `doc_id % 3 == 2`
   * documents [[synthesizeReal]] leaves out: F concatenated binary PPM frames
   * (the `ffmpeg -f image2pipe -vcodec ppm` raw-video stream), pixel j of
   * frame f = text byte `(j + 7f) mod L` — deterministic, so the q65 oracle
   * recomputes every sampled frame's features from the text alone. Frame
   * count/dimensions derive from L (2-5 frames, tiny frames): enough to
   * exercise the container parse without bloating the corpus.
   */
  def synthesizeVideoReal(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val tb = text.getBytes("UTF-8")
          val L = tb.length
          if (L == 0 || id % 3 != 2) Iterator.empty
          else {
            val nFrames = L % 4 + 2
            val w = L % 8 + 4
            val h = L % 6 + 3
            val frames = (0 until nFrames).map { f =>
              Codecs.ppmEncode(Codecs.PpmImage(w, h,
                Array.tabulate(3 * w * h)(j => tb((j + 7 * f) % L))))
            }
            Iterator.single(MediaRecord(id, "video", frames.reduce(_ ++ _),
              MediaMeta("ppm-stream", w, h, 0)))
          }
        }
      }
  }

  /**
   * REAL frame sampling: parse each video payload's concatenated-PPM stream
   * with [[Codecs.ppmStreamDecode]] (actual per-frame header parse + pixel
   * copy), keep every `every`-th frame, reduce each kept frame to integer
   * features. The 1 record → N records flatMap is the Generator shape; the
   * pass is narrow (no shuffle), and undecodable tails drop frame-wise, not
   * record-wise — the corrupt-media posture at 100 TB.
   */
  def frameSample(media: Dataset[MediaRecord], every: Int): DataFrame = {
    require(every >= 1, "frame sampling stride must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.modality == "video").flatMap { r =>
      Codecs.ppmStreamDecode(r.bytes).iterator.zipWithIndex
        .filter(_._2 % every == 0)
        .map { case (img, f) =>
          var s = 0L
          var i = 0
          while (i < img.rgb.length) { s += img.rgb(i) & 0xff; i += 1 }
          (r.doc_id, f, img.width, img.height, s)
        }
    }.toDF("doc_id", "frame", "width", "height", "sum_rgb")
  }

  /** The oracle-gated frame-sampling query (q65): synthesize → parse stream →
   * sample every 2nd frame → per-frame integer features. */
  def frameSampleQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    frameSample(synthesizeVideoReal(docs), every = 2)
      .orderBy(col("doc_id"), col("frame"))
  }

  /**
   * REAL decode + feature extraction: parse each payload with the format's
   * actual decoder ([[Codecs.imageDecode]] — PPM byte layout or the JDK's
   * ImageIO for PNG/JPEG/BMP/GIF — / [[Codecs.wavDecode]]: header parse,
   * dimension/codec validation, pixel/sample extraction) and reduce to
   * integer features. Same narrow mapPartitions shape as [[extractFeatures]];
   * undecodable payloads drop (flatMap), the production posture for corrupt
   * media at 100 TB.
   */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaDecodeFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        r.modality match {
          case "image" => Codecs.imageDecode(r.bytes).map { img =>
            var sr = 0L
            var sg = 0L
            var p = 0
            val n = img.width * img.height
            while (p < n) {
              sr += img.rgb(3 * p) & 0xff
              sg += img.rgb(3 * p + 1) & 0xff
              p += 1
            }
            MediaDecodeFeatures(r.doc_id, "image", n.toLong, sr, sg)
          }
          case "audio" => Codecs.wavDecode(r.bytes).map { a =>
            var sum = 0L
            var peak = 0L
            a.samples.foreach { x =>
              val ab = math.abs(x.toLong)
              sum += ab
              if (ab > peak) peak = ab
            }
            MediaDecodeFeatures(r.doc_id, "audio", a.samples.length.toLong, sum, peak)
          }
          case _ => None
        }
      }
    }
  }

  /**
   * Integer average-hash (aHash) over REAL-decoded PPM pixels: per-pixel
   * gray = r+g+b, an 8×8 grid of block sums, each cell's bit set when its
   * mean exceeds the image mean — compared as the EXACT integer inequality
   * `cell_sum · n_pixels > total_sum · cell_pixels` (no divisions, so the
   * 64-bit hash is engine-independent; the cross-products run in 128 bits
   * via multiplyHigh). Block SUMS, not point samples: every pixel
   * contributes, so a small edit moves each cell mean slightly instead of
   * rescrambling sampled positions — the robustness a near-dup hash needs.
   *
   * 64 bits, not 32, is the SCALE decision: candidate generation (q90)
   * bands the hash 8×8 bits, giving 256 keys per band versus the 16 keys an
   * 8×4-bit split of a 32-bit hash allows — measured 50× super-linear pair
   * growth at the sf1.0 datapoint with 16-key bands (buckets grow linearly
   * with the corpus, in-bucket pairs quadratically; 256 keys push the knee
   * out 16×, and the bucketedPairs star guard still backstops degenerate
   * bands). Bit layout is COLUMN-major (bit = gx·8 + gy) so each contiguous
   * 8-bit band is one block COLUMN: the corpus guarantees w ≥ 8 (all 8
   * column cells populated for every image) while h may be < 8 — a row-major
   * layout would give every short image an all-zero band and a systematic
   * hot bucket. Pigeonhole recall: ≤ 6 differing bits over 8 bands forces
   * ≥ 2 identical bands.
   * Output: (doc_id, phash). Narrow: decode + hash per partition, no shuffle.
   */
  /** Exact `a·b > c·d` for non-negative longs, in 128 bits. */
  private[graft] def mulGt(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi1 = Math.multiplyHigh(a, b); val hi2 = Math.multiplyHigh(c, d)
    if (hi1 != hi2) hi1 > hi2
    else java.lang.Long.compareUnsigned(a * b, c * d) > 0
  }

  def imagePhash(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.modality == "image").mapPartitions { it =>
      it.flatMap { r =>
        Codecs.ppmDecode(r.bytes).map { img =>
          val w = img.width; val h = img.height; val n = w * h
          val cs = new Array[Long](64)
          val cn = new Array[Long](64)
          var ts = 0L
          var p = 0
          while (p < n) {
            val g = (img.rgb(3 * p) & 0xff) + (img.rgb(3 * p + 1) & 0xff) +
              (img.rgb(3 * p + 2) & 0xff)
            val cell = (p % w * 8 / w) * 8 + (p / w * 8 / h)
            cs(cell) += g; cn(cell) += 1; ts += g
            p += 1
          }
          var hash = 0L
          var c = 0
          while (c < 64) {
            if (cn(c) > 0 && mulGt(cs(c), n.toLong, ts, cn(c))) hash |= 1L << c
            c += 1
          }
          (r.doc_id, hash)
        }
      }
    }.toDF("doc_id", "phash")
  }

  /** The oracle-gated REAL-decode query (q47). */
  def decodeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    decodeFeatures(synthesizeReal(docs)).toDF()
      .orderBy(col("doc_id"))
  }

  /** The oracle-gated feature query (q37). */
  def featureQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    extractFeatures(synthesize(docs)).toDF()
      .select(col("doc_id"), col("modality"), col("n_bytes"), col("content_md5"),
        col("head_checksum"), col("width"), col("height"))
      .orderBy(col("doc_id"))
  }
}
