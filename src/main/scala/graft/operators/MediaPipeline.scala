package graft.operators

import graft.operators.DeterministicOcrEngine.{hexOf, hexVal, md5Bytes, md5Hex}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One row of the synthesized media catalog: an opaque binary payload + typed metadata.
  * This is the engine's multimodal column convention — media is ALWAYS an opaque
  * `binary` column plus scalar metadata, never a decoded object in a column (the decoded
  * form stays executor-local inside the codec island, exactly as the reference keeps the
  * Leptonica `Pix` on the C++ side of the pybind boundary, uiucprescon/ocr/Image.h:9-18). */
final case class MediaRaw(media_ref: String, mime: String, payload: Array[Byte])

/** Decode result: metadata out, payload summarized as its content DIGEST — neither
  * the binary nor any hex expansion of it ever re-enters the relational plane after
  * the island (round 1 shipped a payload_hex string column through the row, 2x the
  * payload bytes serialized per row on a pipeline measured DRAM-bandwidth-bound; the
  * digest is 32 bytes flat). Error channel mirrors the loader contract (row-level
  * error value, job never dies: ImageLoaderStrategies.cpp:11-13). */
final case class MediaDecoded(
    media_ref: String,
    mime: String,
    ok: Boolean,
    error: String,
    n_bytes: Int,
    w: Int,
    h: Int,
    duration_ms: Int,
    n_frames: Int,
    payload_md5: String)

/** Per-media features from the byte stream: exact-integer byte statistics + an 8-dim
  * stride-sum "embedding" (f0..f7 = sum of bytes at positions ≡ r mod 8). */
final case class MediaFeatures(
    media_ref: String,
    n_bytes: Int,
    byte_sum: Long,
    byte_min: Int,
    byte_max: Int,
    f0: Long, f1: Long, f2: Long, f3: Long,
    f4: Long, f5: Long, f6: Long, f7: Long)

/** Decode result handed back across the codec boundary: the parsed container
  * metadata plus the decoded CONTENT stream (real codec: pixel/sample bytes; here:
  * the container's payload section) — features and the content digest are defined
  * over the content, never over container framing bytes. */
final case class DecodedMedia(
    w: Int, h: Int, durationMs: Int, nFrames: Int, content: Array[Byte])

/**
 * Pluggable decoder for the media island — the multimodal analogue of the reference's
 * image-loader Strategy (abcImageLoaderStrategy, uiucprescon/ocr/ImageLoaderStrategies.h:12-17).
 * A malformed container must THROW (the `pixRead == null` -> TesseractGlueException
 * contract, ImageLoaderStrategies.cpp:11-13); the island converts that into a
 * row-level error, never a task failure.
 */
trait MediaCodec extends Serializable {
  def decode(mime: String, bytes: Array[Byte]): DecodedMedia
}

/**
 * The production codec: parses REAL container headers from the byte stream —
 * PNG signature + IHDR big-endian fields, RIFF/WAVE chunk walking (little-endian
 * sizes), and ISO-BMFF box walking (big-endian sizes) — mirroring the reference's
 * genuine `pixRead` decode surface (uiucprescon/ocr/ImageLoaderStrategies.cpp:8-15).
 * No pixel/sample decode happens (no media libs in this sandbox; the content stream
 * passes through opaque), but every metadata field the pipeline reports is recovered
 * by parsing container bytes, and a corrupted magic fails exactly like a truncated
 * TIFF fails pixRead (tests/test_load_image.py:10-14).
 */
object ContainerCodec extends MediaCodec {
  private def be32(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
      ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
  private def le32(p: Array[Byte], i: Int): Int =
    (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) |
      ((p(i + 2) & 0xff) << 16) | ((p(i + 3) & 0xff) << 24)
  private def fourcc(p: Array[Byte], i: Int): String =
    new String(p, i, 4, "US-ASCII")
  private def bad(msg: String): Nothing =
    throw new IllegalArgumentException(s"bad container: $msg")

  def decode(mime: String, p: Array[Byte]): DecodedMedia = mime match {
    case "image/png" =>
      // 8-byte signature, then the IHDR chunk: len(4 BE) "IHDR" w(4 BE) h(4 BE)
      // bitdepth/colortype/compression/filter/interlace(5) crc(4)
      if (p.length < 33) bad("png truncated")
      if (!MediaContainers.PngSig.indices.forall(i => p(i) == MediaContainers.PngSig(i)))
        bad("png signature mismatch")
      if (be32(p, 8) != 13 || fourcc(p, 12) != "IHDR") bad("png missing IHDR")
      DecodedMedia(be32(p, 16), be32(p, 20), 0, 1, p.drop(33))
    case "audio/wav" =>
      // RIFF container: "RIFF" size(LE) "WAVE", then 4cc+LE-size chunks; the
      // payload rides in "data", the clip length in the "dur " chunk (ms, LE32)
      if (p.length < 12 || fourcc(p, 0) != "RIFF" || fourcc(p, 8) != "WAVE")
        bad("riff/wave magic mismatch")
      var i = 12
      var dur = -1
      var content: Array[Byte] = null
      while (i + 8 <= p.length) {
        val cc = fourcc(p, i)
        // sizes are unsigned 32-bit: bound them in Long, where i + 8 + size cannot
        // wrap past the check
        val sz = le32(p, i + 4) & 0xffffffffL
        if (i + 8L + sz > p.length) bad(s"riff chunk '$cc' overruns")
        val end = i + 8 + sz.toInt
        if (cc == "dur ") dur = le32(p, i + 8)
        if (cc == "data") content = java.util.Arrays.copyOfRange(p, i + 8, end)
        i = end
      }
      if (dur < 0 || content == null) bad("wave missing dur /data chunks")
      DecodedMedia(0, 0, dur, 0, content)
    case "video/mp4" =>
      // ISO-BMFF: size(BE) type boxes; "ftyp" first, metadata in the "gmvh" box
      // (w/h/duration/frames, BE32 each), payload in "mdat"
      if (p.length < 8 || fourcc(p, 4) != "ftyp") bad("bmff missing ftyp")
      var i = 0
      var meta: Array[Int] = null
      var content: Array[Byte] = null
      while (i + 8 <= p.length) {
        val sz = be32(p, i) & 0xffffffffL // unsigned, bounded in Long like RIFF's
        val cc = fourcc(p, i + 4)
        if (sz < 8 || i + sz > p.length) bad(s"bmff box '$cc' overruns")
        val end = i + sz.toInt
        if (cc == "gmvh") {
          if (sz != 24) bad("gmvh box size")
          meta = Array(be32(p, i + 8), be32(p, i + 12), be32(p, i + 16), be32(p, i + 20))
        }
        if (cc == "mdat") content = java.util.Arrays.copyOfRange(p, i + 8, end)
        i = end
      }
      if (meta == null || content == null) bad("bmff missing gmvh/mdat boxes")
      DecodedMedia(meta(0), meta(1), meta(2), meta(3), content)
    case other => bad(s"unsupported mime $other")
  }
}

/**
 * STUB CODEC — the test-injectable fake (the reference's `dummyStrategy`,
 * tests/test_basic.cpp:61-72): no parsing, dims peeked straight from the leading
 * bytes, content = the raw bytes. MediaPipelineSpec injects it to prove the island
 * is strategy-pluggable; production uses [[ContainerCodec]].
 */
object StubMediaCodec extends MediaCodec {
  def decode(mime: String, p: Array[Byte]): DecodedMedia = {
    def b(i: Int) = p(i) & 0xff
    mime match {
      case "image/png" => DecodedMedia(64 + b(0), 64 + b(1), 0, 1, p)
      case "audio/wav" => DecodedMedia(0, 0, (b(2) << 8) | b(3), 0, p)
      case _ => DecodedMedia(64 + b(0), 64 + b(1), (b(2) << 8) | b(3), 1 + b(4) % 16, p)
    }
  }
}

/** Container-byte synthesis shared by [[MediaPipeline.decodeAll]] and the specs:
  * a minimal-but-valid typed container wrapping the md5-chain payload, with the
  * metadata fields a real file carries embedded in the header (the values are
  * derived from the payload's leading bytes at WRITE time and recovered by
  * PARSING at read time — the construction->parse round trip is the subject).
  * A deterministic ~1/16 subset of refs ([[corruptRef]]) gets its first magic
  * byte flipped — the "invalid image" archetype. */
object MediaContainers {
  import DeterministicOcrEngine.{md5Bytes, md5Hex, hexVal}

  val PngSig: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Refs whose md5's THIRD hex digit is 'f' carry a corrupted container
    * (mirrored by the oracle: `substr(md5(ref), 3, 1) = 'f'`). */
  def corruptRef(ref: String): Boolean = hexVal(md5Hex(ref).charAt(2)) == 15

  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte)
  private def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** Wrap `body` in a valid container of the given mime; metadata fields are the
    * SAME deterministic functions of the body's leading bytes as always
    * (w = 64+b0, h = 64+b1, dur = b2<<8|b3, frames = 1+b4%16 — oracle-mirrored). */
  def containerFor(ref: String, mime: String, body: Array[Byte]): Array[Byte] = {
    def b(i: Int) = body(i) & 0xff
    val out = mime match {
      case "image/png" =>
        PngSig ++ be32(13) ++ cc("IHDR") ++
          be32(64 + b(0)) ++ be32(64 + b(1)) ++
          Array[Byte](8, 2, 0, 0, 0) ++
          md5Bytes(ref + ":crc").take(4) ++ body
      case "audio/wav" =>
        val riffSize = 4 + (8 + 16) + (8 + 4) + (8 + body.length)
        cc("RIFF") ++ le32(riffSize) ++ cc("WAVE") ++
          cc("fmt ") ++ le32(16) ++
          le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
          cc("dur ") ++ le32(4) ++ le32((b(2) << 8) | b(3)) ++
          cc("data") ++ le32(body.length) ++ body
      case _ =>
        be32(16) ++ cc("ftyp") ++ cc("isom") ++ be32(0) ++
          be32(24) ++ cc("gmvh") ++ be32(64 + b(0)) ++ be32(64 + b(1)) ++
          be32((b(2) << 8) | b(3)) ++ be32(1 + b(4) % 16) ++
          be32(8 + body.length) ++ cc("mdat") ++ body
    }
    if (corruptRef(ref)) out(0) = (out(0) ^ 0xff).toByte
    out
  }
}

/**
 * Multimodal media pipeline over the interleaved corpus's media references:
 * catalog synthesis -> decode island -> Catalyst-side frame sampling / resize planning /
 * feature extraction.
 *
 * Scale notes:
 *  - the catalog is derived from the spans table with one `distinct` (the only shuffle;
 *    at 10^12 docs this is the global media-dedup step and is hash-partitioned on the
 *    ref — uniform by construction);
 *  - payload synthesis and decode run fused in ONE mapPartitions pass (no binary column
 *    is ever shuffled; payload bytes live only inside the task, total per-task memory =
 *    one row's payload at a time from the iterator);
 *  - frame sampling and resize planning are pure Catalyst over the decoded metadata —
 *    codegen'd, no second island crossing.
 */
object MediaPipeline {

  /** Deterministic payload for a resolvable ref: 2 + (h0 % 4) chained md5 blocks
    * (32..80 bytes). Mirrored in SQL by the oracle (OracleSqlMedia). */
  def payloadFor(ref: String): Array[Byte] = {
    val h = md5Hex(ref)
    val nBlocks = 2 + hexVal(h.charAt(0)) % 4
    val out = new Array[Byte](16 * nBlocks)
    var i = 0
    while (i < nBlocks) {
      System.arraycopy(md5Bytes(ref + ":" + i), 0, out, 16 * i, 16)
      i += 1
    }
    out
  }

  /** Mime routing: second hex digit of md5(ref) mod 3. */
  def mimeFor(ref: String): String =
    hexVal(md5Hex(ref).charAt(1)) % 3 match {
      case 0 => "image/png"
      case 1 => "audio/wav"
      case _ => "video/mp4"
    }

  /** Distinct media refs of the corpus (resolvable AND missing ones). */
  def refs(docs: DataFrame): DataFrame =
    docs.select(explode(col("spans")).as("s"))
      .filter(col("s.kind") === "image")
      .select(col("s.media_ref").as("media_ref"))
      .distinct()

  /** Synthesize + decode in one typed island pass: the payload is wrapped in a
    * real typed container ([[MediaContainers.containerFor]]) and the codec PARSES
    * the header back (default [[ContainerCodec]]); a malformed container throws
    * inside the codec and surfaces as a row-level error span — the
    * `pixRead == null` contract, never a task failure. `n_bytes` and the content
    * digest are defined over the decoded CONTENT stream (container framing bytes
    * are transport, not content). */
  def decodeAll(docs: DataFrame, codec: MediaCodec = ContainerCodec): Dataset[MediaDecoded] = {
    val spark = docs.sparkSession
    import spark.implicits._
    refs(docs).as[String].mapPartitions { it =>
      it.map { ref =>
        if (ref == null || ref.startsWith("missing-"))
          MediaDecoded(ref, "application/octet-stream", ok = false,
            "Unable to decode " + ref, 0, 0, 0, 0, 0, md5Hex(""))
        else {
          val mime = mimeFor(ref)
          val container = MediaContainers.containerFor(ref, mime, payloadFor(ref))
          try {
            val d = codec.decode(mime, container)
            // digest of the content's HEX form (oracle parity: md5(ph) over the
            // SQL-reconstructed hex string) — only the 32-char digest leaves the
            // island
            MediaDecoded(ref, mime, ok = true, null, d.content.length,
              d.w, d.h, d.durationMs, d.nFrames, md5Hex(hexOf(d.content)))
          } catch {
            case _: IllegalArgumentException =>
              MediaDecoded(ref, mime, ok = false, "bad container: " + ref,
                0, 0, 0, 0, 0, md5Hex(""))
          }
        }
      }
    }
  }

  /** Decode surface: metadata + payload content hash (no raw bytes leave the island). */
  def decode(docs: DataFrame): DataFrame =
    decodeAll(docs).toDF()
      .select(col("media_ref"), col("mime"), col("ok").cast("int").as("ok"),
        col("error"), col("n_bytes"), col("w"), col("h"), col("duration_ms"),
        col("n_frames"), col("payload_md5"))
      .orderBy(col("media_ref"))

  /** Frame sampling for videos — pure Catalyst explode over decoded metadata. */
  def frames(docs: DataFrame): DataFrame =
    decodeAll(docs).toDF()
      .filter(col("ok") && col("mime") === "video/mp4")
      .select(col("media_ref"), col("duration_ms"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .select(col("media_ref"), col("frame_idx"),
        floor(col("frame_idx") * col("duration_ms") / col("n_frames"))
          .cast("int").as("t_ms"),
        md5(concat(col("media_ref"), lit(":f:"), col("frame_idx"))).as("frame_md5"))
      .orderBy(col("media_ref"), col("frame_idx"))

  /** Resize planning for visual media — target = half resolution, floor, min 1. */
  def resizePlan(docs: DataFrame): DataFrame =
    decodeAll(docs).toDF()
      .filter(col("ok") && col("mime").isin("image/png", "video/mp4"))
      .select(col("media_ref"), col("w"), col("h"),
        greatest(lit(1), floor(col("w") / 2)).cast("int").as("out_w"),
        greatest(lit(1), floor(col("h") / 2)).cast("int").as("out_h"))
      .withColumn("resized_md5",
        md5(concat(col("media_ref"), lit(":resize:"), col("out_w"), lit("x"), col("out_h"))))
      .orderBy(col("media_ref"))

  /** Feature extraction inside the island (second pass, fused synth+decode+extract):
    * features are computed over the DECODED content stream, so a ref whose
    * container fails to parse yields no feature row (same skip as the other
    * ok-gated consumers). */
  def features(docs: DataFrame, codec: MediaCodec = ContainerCodec): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val out = refs(docs).as[String]
      .filter((r: String) => r != null && !r.startsWith("missing-"))
      .mapPartitions { it =>
        it.flatMap { ref =>
          val mime = mimeFor(ref)
          val container = MediaContainers.containerFor(ref, mime, payloadFor(ref))
          try {
            val p = codec.decode(mime, container).content
            val strides = new Array[Long](8)
            var sum = 0L; var mn = 255; var mx = 0
            var i = 0
            while (i < p.length) {
              val b = p(i) & 0xff
              sum += b; if (b < mn) mn = b; if (b > mx) mx = b
              strides(i % 8) += b
              i += 1
            }
            Some(MediaFeatures(ref, p.length, sum, mn, mx,
              strides(0), strides(1), strides(2), strides(3),
              strides(4), strides(5), strides(6), strides(7)))
          } catch {
            case _: IllegalArgumentException => None
          }
        }
      }
    out.toDF().orderBy(col("media_ref"))
  }
}
