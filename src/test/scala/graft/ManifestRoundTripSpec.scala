package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{Interleave, SnapshotSink}
import graft.sources.SnapshotSink.ManifestEntry
import org.scalatest.funsuite.AnyFunSuite

/**
 * The manifest's JSON-lines format: [[SnapshotSink.jsonOf]] and the driver-side
 * [[SnapshotSink.parseManifest]] are exact inverses (escaped file names, extreme
 * longs, shortest-repr doubles), and a line from an older format version — no
 * per-file arrays — invalidates and rebuilds its bucket instead of throwing.
 */
class ManifestRoundTripSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val NB = 8

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-manifest-$tag")
    SnapshotSink.deleteRecursively(p)
    Files.createDirectories(p)
    p.toString
  }

  private def entry(bucket: Long, files: Seq[String], confSum: Double) = ManifestEntry(
    bucket = bucket, rows = 3L * bucket, content_hash = f"${bucket}%032x",
    files = files, file_sizes = files.indices.map(i => Long.MaxValue - i),
    file_hashes = files.map(f => f"${f.hashCode}%032x"),
    engine_version = "det-ocr/1 \"quoted\" \\ slash", n_spans = 3L * bucket,
    n_media = 1L, n_text = 2L, n_err = 0L, ocr_chars = Long.MinValue + 1,
    n_words = 7L, conf_sum = confSum, wall_ms = 12L)

  test("jsonOf -> parseManifest is the identity") {
    val entries = Seq(
      entry(0L, Seq.empty, 0.0),
      entry(1L, Seq("part-0.parquet", "with \"quotes\".parquet",
        "back\\slash\\.parquet", "both \\\"mixed\\\".parquet"), 0.1 + 0.2),
      entry(2L, Seq("ünïcödé 日本.parquet"), 1e-300),
      entry(3L, Seq("a.parquet"), Double.MinPositiveValue),
      entry(4L, Seq("b.parquet"), Double.MaxValue),
      entry(5L, Seq("c.parquet"), -123456.789e10),
      entry(Long.MaxValue, Seq("d.parquet"), 2.0 / 3.0))
    val p = Paths.get(tmpDir("identity"), "manifest.json")
    Files.writeString(p, entries.map(SnapshotSink.jsonOf).mkString("", "\n", "\n"))
    assert(SnapshotSink.parseManifest(p) === entries)
    assert(SnapshotSink.parseManifest(p.resolveSibling("absent.json")) === Seq.empty)
  }

  test("a manifest line without the per-file arrays invalidates and rebuilds its bucket") {
    val out = tmpDir("legacy")
    val docs = Interleave.docs(spark, "/root/testdata/sf0.001")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val before = SnapshotSink.readManifest(spark, out)
    val head = Paths.get(out, "manifest.json")
    val Arrays = """"files":\[[^\]]*\],"file_sizes":\[[^\]]*\],"file_hashes":\[[^\]]*\],""".r
    val legacy = Files.readAllLines(head).asScala.map { line =>
      if (line.startsWith("{\"bucket\":3,")) Arrays.replaceFirstIn(line, "") else line
    }
    assert(legacy.count(!_.contains("\"files\"")) === 1)
    Files.writeString(head, legacy.mkString("", "\n", "\n"))

    val parsed = SnapshotSink.readManifest(spark, out).find(_.bucket == 3L).get
    assert(parsed.files === null && parsed.file_sizes === null && parsed.file_hashes === null)
    val report = SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    assert(report.invalidated === Seq(3L))
    assert(report.processed === Seq(3L))
    val after = SnapshotSink.readManifest(spark, out)
    assert(after.map(e => (e.bucket, e.rows)) === before.map(e => (e.bucket, e.rows)))
    assert(after.find(_.bucket == 3L).get.files.nonEmpty)
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
  }
}
