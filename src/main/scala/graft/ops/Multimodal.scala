package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal column plumbing: image/audio/video as opaque `binary` columns
 * with typed metadata, processed in partition-sized batches.
 *
 * The decode step is REAL for PCM WAV audio and for BMP/PNG/JPEG images:
 * WAV and 24-bit BMP via pure-JVM parsers written from the public
 * file-format specs (ops.MediaCodec), PNG/JPEG via the JDK's built-in
 * javax.imageio readers — zero external dependencies either way. Payload
 * kind is sniffed from magic bytes per row; only formats that require
 * native decoders (MP3/H.264 — no JDK codec) fall back to `decodeStub`,
 * a deterministic fake clearly marked as such. Everything around the
 * decode — schema, batching, partitioning, output shape — is the same
 * distributed plumbing either way, so adding a codec is one dispatch arm.
 */
object Multimodal {

  final case class MediaMeta(doc_id: Long, kind: String, n_bytes: Long,
                             width: Int, height: Int)
  final case class MediaFeatures(doc_id: Long, kind: String,
                                 feature: Array[Float], frames: Int)

  /** ======== STUB: deterministic fake decode for formats whose codecs are
    * not available offline (MP3/H.264/...). Real formats never reach this —
    * see the sniff dispatch in decodeFeatures. */
  def decodeStub(bytes: Array[Byte], dims: Int): Array[Float] = {
    val out = new Array[Float](dims)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i); h *= 0x100000001b3L
      out(Math.floorMod(h, dims.toLong).toInt) += 1.0f
      i += 1
    }
    var j = 0
    while (j < dims) { out(j) = out(j) / math.max(1, bytes.length); j += 1 }
    out
  }

  /** Sniffed kind + decoded features + frame count for one payload:
    *  - wav: [rms, zcr, envelope...], frames = ceil(seconds)
    *  - bmp: [meanR, meanG, meanB, gray histogram...], frames = 1
    *  - unknown: stub features, frames from the byte length (legacy shape)
    */
  def decodeFeatures(bytes: Array[Byte], dims: Int): (String, Array[Float], Int) = {
    require(dims >= 3, s"decodeFeatures needs dims >= 3 (got $dims): " +
      "audio = [rms, zcr, >=1 spectral band], image = [meanR/G/B, bins]")
    MediaCodec.sniff(bytes) match {
      case "wav" => MediaCodec.decodeWav(bytes) match {
        case Some(w) =>
          // long/double arithmetic: a hostile-but-well-formed header can
          // carry sampleRate/channels whose Int product overflows
          val secs = w.samples.length.toDouble /
            (w.channels.toDouble * w.sampleRate)
          // [rms, zcr] + FFT band energies — the spectral shape is the
          // similarity-bearing part of the vector
          val feats = MediaCodec.audioFeatures(w, 2) ++
            MediaCodec.spectralBands(w, dims - 2)
          ("wav", feats, math.max(1, math.ceil(secs).toInt))
        case None => ("unknown", decodeStub(bytes, dims), 1 + (bytes.length % 8))
      }
      case "bmp" => MediaCodec.decodeBmp(bytes) match {
        case Some(img) => ("bmp", MediaCodec.imageFeatures(img, dims), 1)
        case None => ("unknown", decodeStub(bytes, dims), 1 + (bytes.length % 8))
      }
      case k @ ("png" | "jpeg") => MediaCodec.decodeImageIO(bytes) match {
        case Some(img) => (k, MediaCodec.imageFeatures(img, dims), 1)
        case None => ("unknown", decodeStub(bytes, dims), 1 + (bytes.length % 8))
      }
      case _ => ("unknown", decodeStub(bytes, dims), 1 + (bytes.length % 8))
    }
  }

  /** Typed metadata for one payload — header parses ONLY (wavHeader /
    * bmpHeader validate the same way the decoders do but never
    * materialize samples/pixels): O(header bytes) per row, the right cost
    * for a metadata scan over 10¹² rows. */
  def metaOf(id: Long, bytes: Array[Byte]): MediaMeta =
    MediaCodec.sniff(bytes) match {
      case "wav" => MediaCodec.wavHeader(bytes) match {
        case Some((sr, ch)) => MediaMeta(id, "wav", bytes.length, sr, ch)
        case None => MediaMeta(id, "unknown", bytes.length, 0, 0)
      }
      case "bmp" => MediaCodec.bmpHeader(bytes) match {
        case Some((w, h)) => MediaMeta(id, "bmp", bytes.length, w, h)
        case None => MediaMeta(id, "unknown", bytes.length, 0, 0)
      }
      case k @ ("png" | "jpeg") => MediaCodec.imageIOHeader(bytes) match {
        case Some((w, h)) => MediaMeta(id, k, bytes.length, w, h)
        case None => MediaMeta(id, "unknown", bytes.length, 0, 0)
      }
      case k => MediaMeta(id, k, bytes.length, 0, 0)
    }

  /** Attach typed metadata to a binary media column. Width/height are REAL
    * for sniffable formats (BMP pixel dims; WAV sampleRate×channels), 0
    * otherwise. */
  def withMeta(df: DataFrame, binCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col(binCol).as("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => metaOf(id, bytes) })
  }

  /** Batched feature extraction over partitions (the mapInPandas analogue
    * in Scala: one decode call per row inside mapPartitions). Kind is
    * sniffed per row; real decoders for WAV/BMP, stub otherwise. */
  def extractFeatures(spark: SparkSession, media: DataFrame, binCol: String,
                      dims: Int = 64): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col(binCol).as("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (kind, feats, frames) = decodeFeatures(bytes, dims)
          MediaFeatures(id, kind, feats, frames)
        }
      }
  }

  /** Distributed image resize: BMP/PNG/JPEG payloads are decoded,
    * box-average resampled to dw×dh, and re-encoded IN THEIR OWN FORMAT;
    * non-image payloads pass through untouched (flagged by the `resized`
    * column). The map-side-only shape: no shuffle, one decode+encode per
    * row inside the partition. */
  def resizeImages(spark: SparkSession, media: DataFrame, binCol: String,
                   dw: Int, dh: Int): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col(binCol).as("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val kind = MediaCodec.sniff(bytes)
          val decoded = kind match {
            case "bmp" => MediaCodec.decodeBmp(bytes)
            case "png" | "jpeg" => MediaCodec.decodeImageIO(bytes)
            case _ => None
          }
          decoded match {
            case Some(img) =>
              val r = MediaCodec.resize(img, dw, dh)
              val enc = kind match {
                case "bmp" => MediaCodec.encodeBmp24(r.width, r.height, r.rgb)
                case k => MediaCodec.encodeImageIO(r.width, r.height, r.rgb, k)
              }
              (id, enc, true)
            case None => (id, bytes, false)
          }
        }
      }.toDF("doc_id", binCol, "resized")
  }
}
