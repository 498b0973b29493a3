package graft

import graft.model._
import graft.operators.{ExtractPipeline, Oracle}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * ScalaCheck-generated properties (SURVEY.md §5.2), driven with fixed seeds (the
 * scalatest+scalacheck bridge is not in the offline cache, so Gen is sampled directly):
 * the pipeline is a permutation-free identity on (kind, media_ref, offset); output is
 * invariant to input partitioning and span order; the union of the media/text branch
 * outputs partitions the span set exactly; the doc form equals the oracle, and equals
 * the flat form's reassembly where the oracle's stable sort is not the contract.
 */
class ExtractionPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val genSpan: Gen[Span] = for {
    kind <- Gen.frequency(4 -> "text", 4 -> "image", 1 -> "table", 1 -> (null: String))
    txt <- Gen.oneOf(
      "<p>plain body</p>",
      "<nav>m</nav><p>hello world</p><a href=\"u\">more</a>",
      "<ul><a href=\"u0\">all link</a></ul>",
      "no tags at all",
      "")
    ref <- Gen.oneOf("m-1-0", "m-2-9", "missing-7", "m-xyz")
  } yield
    if (kind == "text") Span("text", txt, null, 0)
    else Span(kind, null, ref, 0)

  private val genDoc: Gen[Doc] = for {
    id <- Gen.choose(0, 999999)
    lang <- Gen.oneOf("en", "fr", "zh", "xx")
    nSpans <- Gen.choose(1, 12)
    spans <- Gen.listOfN(nSpans, genSpan)
  } yield Doc(f"doc-$id%06d", lang,
    spans.zipWithIndex.map { case (s, i) => s.copy(offset = i) })

  private def sampleDocs(seed: Long, n: Int): Seq[Doc] =
    Gen.listOfN(n, genDoc).pureApply(Gen.Parameters.default, Seed(seed))
      .groupBy(_.doc_id).values.map(_.head).toSeq // unique ids

  private def runPipeline(docs: Seq[Doc], partitions: Int): Map[String, Seq[(Int, String, String, String)]] = {
    val df = spark.createDataset(docs).repartition(partitions).toDF()
    ExtractPipeline.extractFlat(df).collect()
      .groupBy(_.getAs[String]("doc_id"))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getAs[Int]("offset")).map(r =>
          (r.getAs[Int]("offset"), r.getAs[String]("kind"), r.getAs[String]("text"),
            r.getAs[String]("media_ref"))).toSeq
      }
  }

  test("pipeline == oracle on arbitrary docs, invariant to partitioning and span order") {
    (1L to 6L).foreach { seed =>
      val docs = sampleDocs(seed, 8)
      val expected = docs.map { d =>
        d.doc_id -> Oracle.extract(d).spans.map(s => (s.offset, s.kind, s.text, s.media_ref))
      }.toMap
      assert(runPipeline(docs, 1) === expected, s"seed $seed, 1 partition")
      // reversing span order within the array and fanning out to 7 partitions must not
      // change the output sequence
      assert(runPipeline(docs.map(d => d.copy(spans = d.spans.reverse)), 7) === expected,
        s"seed $seed, reversed spans, 7 partitions")
    }
  }

  test("branch outputs partition the span set (no loss, no duplication)") {
    (10L to 13L).foreach { seed =>
      val docs = sampleDocs(seed, 10)
      val flat = ExtractPipeline.extractFlat(spark.createDataset(docs).toDF())
      val nIn = docs.map(_.spans.size).sum
      assert(flat.count() === nIn, s"seed $seed")
      val keys = flat.select(col("doc_id"), col("offset")).collect()
        .map(r => (r.getString(0), r.getInt(1)))
      assert(keys.distinct.length === keys.length, s"seed $seed")
    }
  }

  test("giant document (5000 spans): flat and doc-form reassembly stay exact") {
    // far above SaltThreshold: exercises the flat form's two-stage salted aggregation
    // deliberately, and the doc form's in-row sort on the same document
    val spans = (0 until 5000).map { i =>
      if (i % 3 == 0) Span("image", null, if (i % 41 == 0) s"missing-$i" else s"m-9-$i", i)
      else Span("text", s"<p>body $i</p><a href=\"u\">x</a>", null, i)
    }
    val doc = Doc("doc-900001", "en", spans)
    val small = Doc("doc-900002", "fr", Seq(Span("text", "<p>tiny</p>", null, 0)))
    val flat = ExtractPipeline.extractFlat(spark.createDataset(Seq(doc, small)).toDF())
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), to_json(col("spans")), col("ok"), col("error"), col("n_spans"))
        .collect().map(_.mkString("|")).sorted.toSeq
    val salted = canon(ExtractPipeline.reassemble(flat, salted = true))
    val plain = canon(ExtractPipeline.reassemble(flat, salted = false))
    assert(salted === plain)
    // and both equal the oracle
    val expected = Seq(doc, small).map(d => Oracle.extract(d))
    val got = ExtractPipeline.reassemble(flat).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Long]("n_spans")).toMap
    expected.foreach(e => assert(got(e.doc_id) === e.spans.size.toLong, e.doc_id))
    assert(canon(ExtractPipeline.extractAndReassemble(
      spark.createDataset(Seq(doc, small)).toDF())) === plain)
  }

  test("salting never reorders: reassemble(salted) == reassemble(unsalted)") {
    (20L to 22L).foreach { seed =>
      val docs = sampleDocs(seed, 6)
      val flat = ExtractPipeline.extractFlat(spark.createDataset(docs).toDF())
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), to_json(col("spans"))).collect()
          .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
      assert(canon(ExtractPipeline.reassemble(flat, salted = true))
        === canon(ExtractPipeline.reassemble(flat, salted = false)), s"seed $seed")
    }
  }

  private def docRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getAs[String]("doc_id"),
        r.getSeq[Row](r.fieldIndex("spans")).map(s => (s.getAs[Int]("offset"),
          s.getAs[String]("kind"), s.getAs[String]("text"), s.getAs[String]("media_ref"))),
        r.getAs[Boolean]("ok"), Option(r.getAs[String]("error")), r.getAs[Long]("n_spans"))
    }.sortBy(_._1).toSeq

  private def runDocForm(docs: Seq[Doc], partitions: Int) =
    docRows(ExtractPipeline.extractAndReassemble(
      spark.createDataset(docs).repartition(partitions).toDF()))

  test("doc form == oracle (spans, ok, error, n_spans), any partitioning or span order") {
    (30L to 35L).foreach { seed =>
      val docs = sampleDocs(seed, 8)
      val expected = docs.map { d =>
        val e = Oracle.extract(d)
        (d.doc_id, e.spans.map(s => (s.offset, s.kind, s.text, s.media_ref)), e.ok,
          Option(e.error), d.spans.size.toLong)
      }.sortBy(_._1)
      assert(runDocForm(docs, 1) === expected, s"seed $seed, 1 partition")
      assert(runDocForm(docs.map(d => d.copy(spans = d.spans.reverse)), 7) === expected,
        s"seed $seed, reversed spans, 7 partitions")
    }
  }

  // Duplicate offsets, several errors at one offset, null text, kinds whose UTF-16
  // and UTF-8 orders differ (U+FF21 sorts after U+1F600 by UTF-8 bytes, before it by
  // String.compareTo), and empty or null span arrays: here the order of equal-offset
  // spans and the pick among equal-offset errors are array_sort's, which the flat
  // form's reassembly implements and the oracle's stable sortBy does not.
  private val genMessySpan: Gen[Span] = for {
    base <- genSpan
    kind <- Gen.frequency(8 -> base.kind, 1 -> "\uFF21", 1 -> "\uD83D\uDE00")
    txt <- Gen.frequency(4 -> base.text, 1 -> (null: String))
    ref <- Gen.oneOf("missing-7", "missing-8", "m-1-0")
    offset <- Gen.choose(0, 3)
  } yield
    if (kind == "text") Span("text", txt, null, offset)
    else if (kind == "image" || kind == null) base.copy(offset = offset)
    else Span(kind, null, ref, offset)

  private val genMessyDoc: Gen[Doc] = for {
    id <- Gen.choose(0, 999999)
    lang <- Gen.oneOf("en", "zh")
    nSpans <- Gen.choose(0, 10)
    spans <- Gen.listOfN(nSpans, genMessySpan)
  } yield Doc(f"doc-$id%06d", lang, spans)

  test("doc form == reassemble(extractFlat, salted = false) on duplicate offsets") {
    (40L to 45L).foreach { seed =>
      val docs = (Gen.listOfN(12, genMessyDoc)
        .pureApply(Gen.Parameters.default, Seed(seed))
        ++ Seq(Doc("doc-empty", "en", Nil), Doc("doc-null", "en", null)))
        .groupBy(_.doc_id).values.map(_.head).toSeq
      val flat = ExtractPipeline.extractFlat(spark.createDataset(docs).toDF())
      val expected = docRows(ExtractPipeline.reassemble(flat, salted = false))
      assert(!expected.exists(e => e._1 == "doc-empty" || e._1 == "doc-null"))
      assert(runDocForm(docs, 1) === expected, s"seed $seed, 1 partition")
      assert(runDocForm(docs.map(d => d.copy(spans = Option(d.spans).map(_.reverse).orNull)),
        7) === expected, s"seed $seed, reversed spans, 7 partitions")
    }
  }
}
