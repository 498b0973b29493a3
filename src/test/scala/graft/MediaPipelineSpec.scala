package graft

import graft.operators.MediaPipeline
import graft.sources.Interleave
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing: binary payloads exist only inside the typed island, the error
  * channel mirrors the loader contract, and frame sampling/feature extraction agree with
  * a direct recomputation from the payload synthesizer. */
class MediaPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private def docs = Interleave.docs(spark, sfDir)

  test("decode covers every distinct media_ref; missing AND corrupt refs get the error channel") {
    val dec = MediaPipeline.decode(docs).collect()
    val nRefs = MediaPipeline.refs(docs).count()
    assert(dec.length.toLong === nRefs)
    val bad = dec.filter(_.getAs[Int]("ok") == 0)
    val (missing, corrupt) =
      bad.partition(_.getAs[String]("media_ref").startsWith("missing-"))
    assert(missing.nonEmpty && corrupt.nonEmpty)
    missing.foreach { r =>
      assert(r.getAs[String]("error")
        === "Unable to decode " + r.getAs[String]("media_ref"))
      assert(r.getAs[Int]("n_bytes") === 0)
    }
    corrupt.foreach { r =>
      assert(graft.operators.MediaContainers.corruptRef(r.getAs[String]("media_ref")))
      assert(r.getAs[String]("error")
        === "bad container: " + r.getAs[String]("media_ref"))
      assert(r.getAs[Int]("n_bytes") === 0)
    }
    // every corrupt ref errors (none sneak through the parser)
    assert(corrupt.length ===
      dec.count(r => !r.getAs[String]("media_ref").startsWith("missing-")
        && graft.operators.MediaContainers.corruptRef(r.getAs[String]("media_ref"))))
    // payload bytes never appear as a column of the decode surface
    assert(!dec.head.schema.fields.exists(_.dataType.typeName == "binary"))
  }

  test("container construction -> header parse round trip recovers the metadata") {
    import graft.operators.{ContainerCodec, MediaContainers}
    val refs = MediaPipeline.refs(docs).collect().map(_.getString(0))
      .filter(r => !r.startsWith("missing-") && !MediaContainers.corruptRef(r))
    assert(refs.length > 100)
    refs.take(200).foreach { ref =>
      val body = MediaPipeline.payloadFor(ref)
      val mime = MediaPipeline.mimeFor(ref)
      val d = ContainerCodec.decode(mime, MediaContainers.containerFor(ref, mime, body))
      def b(i: Int) = body(i) & 0xff
      assert(d.content.toSeq === body.toSeq, s"$ref content must round-trip")
      mime match {
        case "image/png" =>
          assert((d.w, d.h, d.durationMs, d.nFrames) === (64 + b(0), 64 + b(1), 0, 1))
        case "audio/wav" =>
          assert((d.w, d.h, d.durationMs, d.nFrames) === (0, 0, (b(2) << 8) | b(3), 0))
        case _ =>
          assert((d.w, d.h, d.durationMs, d.nFrames)
            === (64 + b(0), 64 + b(1), (b(2) << 8) | b(3), 1 + b(4) % 16))
      }
    }
  }

  test("fuzz: chunk and box sizes near Int.MaxValue hit the overrun check, not copyOfRange") {
    import graft.operators.ContainerCodec
    def le32(v: Int) = Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    def be32(v: Int) = le32(v).reverse
    def cc(s: String) = s.getBytes("US-ASCII")
    val rnd = new scala.util.Random(7)
    val sizes = Seq(Int.MaxValue, Int.MaxValue - 7, Int.MaxValue - 8, Int.MaxValue - 20,
      Int.MinValue, -8, -1) ++ Seq.fill(40)(Int.MaxValue - rnd.nextInt(64))
    val tail = Array.fill[Byte](16)(1)
    // a valid leading chunk/box puts the oversized one at a non-zero offset, where
    // Int arithmetic on offset + size wraps negative and slips past the bound check
    for (sz <- sizes; chunk <- Seq("fmt ", "dur ", "data")) {
      val wav = cc("RIFF") ++ le32(0) ++ cc("WAVE") ++ cc("pad ") ++ le32(4) ++
        le32(0) ++ cc(chunk) ++ le32(sz) ++ tail
      val ex = intercept[IllegalArgumentException](ContainerCodec.decode("audio/wav", wav))
      assert(ex.getMessage === s"bad container: riff chunk '$chunk' overruns", s"size $sz")
    }
    for (sz <- sizes; box <- Seq("free", "gmvh", "mdat")) {
      val mp4 = be32(16) ++ cc("ftyp") ++ cc("isom") ++ be32(0) ++ be32(sz) ++ cc(box) ++ tail
      val ex = intercept[IllegalArgumentException](ContainerCodec.decode("video/mp4", mp4))
      assert(ex.getMessage === s"bad container: bmff box '$box' overruns", s"size $sz")
    }
  }

  test("the codec is strategy-injectable (dummyStrategy analogue): the stub skips validation") {
    import graft.operators.{MediaContainers, StubMediaCodec}
    // the injected fake peeks bytes without parsing, so even CORRUPT containers
    // "decode" — proof the island's behavior is the strategy's, not hard-wired
    val dec = MediaPipeline.decodeAll(docs, StubMediaCodec).toDF()
    val corruptOk = dec
      .filter(!col("media_ref").startsWith("missing-"))
      .filter(col("ok"))
      .collect()
      .count(r => MediaContainers.corruptRef(r.getAs[String]("media_ref")))
    assert(corruptOk > 0, "stub codec must not reject corrupt containers")
  }

  test("frame count per video equals its decoded n_frames; t_ms is monotone") {
    val meta = MediaPipeline.decodeAll(docs).toDF()
      .filter(col("ok") && col("mime") === "video/mp4")
      .select(col("media_ref"), col("n_frames")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(meta.nonEmpty)
    val byRef = MediaPipeline.frames(docs).collect().groupBy(_.getString(0))
    assert(byRef.keySet === meta.keySet)
    byRef.foreach { case (ref, rows) =>
      assert(rows.length === meta(ref), s"ref $ref")
      val ts = rows.sortBy(_.getAs[Int]("frame_idx")).map(_.getAs[Int]("t_ms")).toSeq
      assert(ts === ts.sorted, s"ref $ref t_ms not monotone")
    }
  }

  test("features equal a direct byte-level recomputation (distributed plumbing is lossless)") {
    val feats = MediaPipeline.features(docs).collect()
    assert(feats.nonEmpty)
    feats.take(50).foreach { r =>
      val p = MediaPipeline.payloadFor(r.getString(0)).map(_ & 0xff)
      assert(r.getAs[Int]("n_bytes") === p.length)
      assert(r.getAs[Long]("byte_sum") === p.map(_.toLong).sum)
      assert(r.getAs[Long]("f3")
        === p.zipWithIndex.filter(_._2 % 8 == 3).map(_._1.toLong).sum)
    }
  }
}
