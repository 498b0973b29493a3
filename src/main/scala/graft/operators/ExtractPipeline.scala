package graft.operators

import graft.functions.BoilerplateOps
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The flagship operator: interleaved documents -> extracted span sequences.
 *
 * Two forms share one per-span contract (OCR for `image`, the boilerplate classifier
 * for `text`, an error span for any other kind, `null` included):
 *
 * {{{
 *   doc form  (extractAndReassemble):
 *     docs(doc_id, lang, spans) |- size(spans) > 0
 *                               \- typed mapPartitions, one ReassembledDoc per row
 *
 *   flat form (extractFlat):
 *     docs(doc_id, lang, spans)
 *       |- explode(spans)
 *       |- kind='image' --> typed mapPartitions over per-executor EnginePool  (OCR island)
 *       |- kind='text'  --> TextClassifier (pure Catalyst, whole-stage codegen)
 *       \- unionByName
 * }}}
 *
 *  - The doc form is one scan plus one map: every span of a document already sits in
 *    that document's row, so the spans are extracted and sorted in place — no
 *    explode, no shuffle, no salted tail. Its parallelism is the input's split count.
 *  - The flat form (one row per span, used by [[graft.sources.SnapshotSink]] and the
 *    streaming extractors) has NO shuffle either. Each branch scans the input once;
 *    with nested-schema pruning the media branch reads only (doc_id, lang,
 *    spans.kind, spans.media_ref, spans.offset) and the text branch only (...,
 *    spans.text, spans.offset), and the text branch keeps whole-stage codegen.
 *  - [[reassemble]] groups flat rows back into documents (a shuffle, salted for the
 *    heavy tail). It is the path for input that arrives flat, and the reference the
 *    tests hold the doc form to.
 *  - Engine init happens once per (executor JVM, language) via [[EnginePool]], mirroring
 *    the reference's one TessBaseAPI::Init per Reader (uiucprescon/ocr/reader2.cpp:16).
 */
object ExtractPipeline {

  /** Salt fan-out for the re-assembly of skewed (multi-page) documents. */
  val SaltBuckets = 8

  /** Documents with more spans than this take the salted two-stage re-assembly path;
    * everything else aggregates in a single shuffle. */
  val SaltThreshold = 16

  /** Flat extraction: one row per span, schema
    * (doc_id, lang, offset, kind, text, media_ref, ok, error). */
  def extractFlat(docs: DataFrame, config: EngineConfig = EngineConfig.default): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // Each branch explodes an arrays_zip of ONLY the subfield arrays it consumes.
    // This shape is deliberate: `explode(spans)` with doc_id/lang carried alongside
    // defeats generator nested-column aliasing (the scan then reads the FULL span
    // struct in both branches), whereas projecting the subfield arrays first makes
    // pruning a plain projection case — the media branch's scan never reads
    // spans.text (the bulk of the bytes at web scale) and the text branch never
    // reads spans.media_ref. Verify with PlanAudit: per-branch ReadSchema.
    // n_doc_spans likewise counts the `kind` subfield, not size(spans).
    def explodedWith(third: String): DataFrame = docs
      .select(col("doc_id"), col("lang"),
        arrays_zip(col("spans.kind").as("kind"), col(s"spans.$third").as(third),
          col("spans.offset").as("offset")).as("zs"))
      .select(col("doc_id"), col("lang"), size(col("zs")).as("n_doc_spans"),
        explode(col("zs")).as("s"))
      .select(col("doc_id"), col("lang"), col("n_doc_spans"), col("s.kind"),
        col(s"s.$third"), col("s.offset"))

    val explodedMedia = explodedWith("media_ref")
    val explodedText = explodedWith("text")

    // ---- media branch: the OCR island -------------------------------------------
    val mediaTasks: Dataset[MediaTaskL] = explodedMedia
      .filter(col("kind") === "image")
      .select(col("doc_id"), col("lang"), col("n_doc_spans"), col("offset"),
        col("media_ref"))
      .as[MediaTaskL]

    val ocrResults: Dataset[OcrSpanWithLang] = mediaTasks.mapPartitions { it =>
      val memo = decodeMemo()
      it.map(t => ocrOne(t, config, memo))
    }

    val mediaOut = ocrResults.toDF()
      .select(col("doc_id"), col("lang"), col("n_doc_spans"), col("offset"), col("kind"),
        col("text"), col("media_ref"), col("ok"), col("error"), col("n_words"),
        col("conf_sum"))

    // ---- text branch: pure Catalyst ----------------------------------------------
    val textOut = explodedText
      .filter(col("kind") === "text")
      .select(
        col("doc_id"), col("lang"), col("n_doc_spans"), col("offset"), col("kind"),
        TextClassifier.classify(col("text")).as("text"),
        lit(null).cast("string").as("media_ref"),
        lit(true).as("ok"),
        lit(null).cast("string").as("error"),
        lit(0).as("n_words"),
        lit(0.0).as("conf_sum"))

    // ---- unknown-kind branch: contract parity with the golden oracle -------------
    // Oracle.extract maps any kind other than text/image to an EMPTY error span
    // ("unknown span kind: ..."), never silent omission — silently dropping the
    // span would also break the n_doc_spans re-assembly invariant. A null kind is
    // unknown too: `kind =!= "text"` alone is null for it, and so is `concat` with
    // a null argument. Unreachable with the current synthesizer (two kinds); real
    // corpora grow kinds.
    val unknownOut = explodedMedia
      .filter(col("kind").isNull || (col("kind") =!= "text" && col("kind") =!= "image"))
      .select(col("doc_id"), col("lang"), col("n_doc_spans"), col("offset"),
        col("kind"),
        lit("").as("text"),
        col("media_ref"),
        lit(false).as("ok"),
        concat(lit("unknown span kind: "), coalesce(col("kind"), lit("null"))).as("error"),
        lit(0).as("n_words"),
        lit(0.0).as("conf_sum"))

    mediaOut.unionByName(textOut).unionByName(unknownOut)
  }

  /** Per-partition decode memo: load-once/read-many within a partition, the distributed
    * analogue of Reader.read_image vs Reader.read (uiucprescon/ocr/reader.py:52-75). */
  private def decodeMemo(): java.util.Map[String, Either[String, Array[Byte]]] =
    new java.util.LinkedHashMap[String, Either[String, Array[Byte]]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Either[String, Array[Byte]]]): Boolean = size > 256
    }

  /** OCR one media task. Decode runs BEFORE the engine-goodness check, mirroring
    * Reader2::get_ocr = load THEN get_ocr_from_image (uiucprescon/ocr/reader2.cpp:31-34):
    * a bad file errors even when the engine is bad. */
  private def ocrOne(
      t: MediaTaskL,
      config: EngineConfig,
      memo: java.util.Map[String, Either[String, Array[Byte]]]): OcrSpanWithLang = {
    val eng = EnginePool.get(t.lang, config)
    memo.computeIfAbsent(t.media_ref, StandardMediaDecoder.decode(_)) match {
      case Left(err) =>
        OcrSpanWithLang(t.doc_id, t.lang, t.n_doc_spans, t.offset, "image", "",
          t.media_ref, ok = false, err, 0, 0.0)
      case Right(payload) =>
        if (!eng.isGood)
          OcrSpanWithLang(t.doc_id, t.lang, t.n_doc_spans, t.offset, "image", "",
            t.media_ref, ok = false, "engine not initialized: " + t.lang, 0, 0.0)
        else {
          val page = eng.recognize(payload)
          OcrSpanWithLang(t.doc_id, t.lang, t.n_doc_spans, t.offset, "image", page.text,
            t.media_ref, ok = true, null, page.wordConfidences.length,
            page.wordConfidences.sum)
        }
    }
  }

  /**
   * Re-assemble the flat span stream into per-document span sequences
   * (doc_id, spans, ok, error, n_spans). This is the path for input that arrives flat
   * (one row per span); documents already in one row take [[extractAndReassemble]],
   * which the test suites hold equal to `reassemble(extractFlat(docs))`.
   *
   * Skew-routed aggregation: documents are split by their span count (known per row —
   * `n_doc_spans` is stamped at explode time, so routing needs NO counting pre-pass):
   *
   *  - normal documents (<= [[SaltThreshold]] spans, the overwhelming majority) take
   *    the sort-based path ([[reassembleSorted]]): ONE shuffle, in-partition sort on
   *    unsafe rows, streaming group emit — their span data moves across the wire once
   *    and never sits in per-group aggregation buffers;
   *  - the heavy tail (multi-page documents; 10^5+ spans at web scale, every 37th doc
   *    in the synthetic corpus) takes the two-stage salted path: stage 1 groups on
   *    (doc_id, salt = offset % [[SaltBuckets]]) collecting partial lists so no single
   *    reducer materializes a giant collect_list — AQE cannot split one aggregation
   *    key, salting is the only remedy — and stage 2 merges partials and re-sorts.
   *
   * Only the tail (a small, bounded fraction of bytes) pays the second shuffle; the
   * earlier always-salt design shuffled EVERY document's text twice. The salt comes
   * from the span offset (dense per doc) so spans spread evenly, and stage 2's
   * array_sort makes the result independent of bucket placement. `salted=false` forces
   * the single-shuffle plan for everything (skew-free inputs / correctness baseline —
   * outputs are asserted identical in the test suites).
   */
  private def spanStruct = struct(
    col("offset"), col("kind"),
    coalesce(col("text"), lit("")).as("text"),
    col("media_ref"))
  private def errStruct = struct(col("offset"), col("error"))

  private def singleStage(df: DataFrame): DataFrame =
    df.groupBy(col("doc_id")).agg(
      array_sort(collect_list(spanStruct)).as("spans"),
      min(col("ok")).as("ok"),
      array_sort(collect_list(when(col("error").isNotNull, errStruct))).as("errs"),
      count(lit(1)).as("n_spans")
    ).select(
      col("doc_id"), col("spans"), col("ok"),
      get(col("errs"), lit(0)).getField("error").as("error"), col("n_spans"))

  private def twoStage(df: DataFrame): DataFrame =
    df.withColumn("salt", pmod(col("offset"), lit(SaltBuckets)))
      .groupBy(col("doc_id"), col("salt"))
      .agg(
        collect_list(spanStruct).as("part"),
        min(col("ok")).as("ok_p"),
        collect_list(when(col("error").isNotNull, errStruct)).as("errs_p"),
        count(lit(1)).as("n_p"))
      .groupBy(col("doc_id"))
      .agg(
        array_sort(flatten(collect_list(col("part")))).as("spans"),
        min(col("ok_p")).as("ok"),
        array_sort(flatten(collect_list(col("errs_p")))).as("errs"),
        sum(col("n_p")).as("n_spans"))
      .select(
        col("doc_id"), col("spans"), col("ok"),
        get(col("errs"), lit(0)).getField("error").as("error"), col("n_spans"))

  def reassemble(flat: DataFrame, salted: Boolean = true): DataFrame =
    if (!salted) singleStage(flat)
    else if (!flat.columns.contains("n_doc_spans")) twoStage(flat)
    else reassembleSorted(flat.filter(col("n_doc_spans") <= SaltThreshold))
      .unionByName(twoStage(flat.filter(col("n_doc_spans") > SaltThreshold)))

  /**
   * Extract every document in place: (doc_id, spans, ok, error, n_spans), one output
   * row per input row with at least one span.
   *
   * Input contract: ONE row per `doc_id` (the table shape; [[graft.sources.Interleave]]
   * enforces it for replicated corpora through its replica-stride `require`). Every
   * span of a document is then in that document's row, so a single typed map over the
   * rows does the whole job: one scan, no explode, no shuffle. Per span it calls what
   * the flat form calls — [[ocrOne]] over the [[EnginePool]] for `image`, the
   * boilerplate scanner behind [[TextClassifier.classify]] for `text`, the
   * unknown-kind error span for anything else — and per document it reproduces
   * [[reassemble]] exactly: spans sorted by (offset, kind, text, media_ref) with nulls
   * first and strings in UTF-8 byte order (array_sort's struct order), `ok` = every
   * span ok, `error` = the least (offset, error), `n_spans` = the span count. A row
   * whose `spans` is null or empty gives no output row, as `explode` does.
   * `reassemble(extractFlat(docs))` is the reference the test suites compare against.
   */
  def extractAndReassemble(
      docs: DataFrame, config: EngineConfig = EngineConfig.default): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("lang"), col("spans"))
      .filter(size(col("spans")) > 0)
      .as[Doc]
      .mapPartitions { it =>
        val memo = decodeMemo()
        it.map(d => extractDoc(d, config, memo))
      }
      .toDF()
  }

  private def extractDoc(
      d: Doc,
      config: EngineConfig,
      memo: java.util.Map[String, Either[String, Array[Byte]]]): ReassembledDoc = {
    val n = d.spans.size
    val spans = new Array[OutSpan](n)
    var errOffset = 0
    var err: String = null
    var i = 0
    d.spans.foreach { s =>
      val (out, error) = s.kind match {
        case "image" =>
          val r = ocrOne(MediaTaskL(d.doc_id, d.lang, n, s.offset, s.media_ref), config, memo)
          (OutSpan(s.offset, "image", r.text, s.media_ref), r.error)
        case "text" =>
          val t = BoilerplateOps.extract(UTF8String.fromString(s.text))
          (OutSpan(s.offset, "text", if (t == null) "" else t.toString, null), null)
        case k =>
          (OutSpan(s.offset, k, "", s.media_ref), "unknown span kind: " + k)
      }
      spans(i) = out
      i += 1
      if (error != null && (err == null || s.offset < errOffset
          || (s.offset == errOffset && utf8Compare(error, err) < 0))) {
        errOffset = s.offset
        err = error
      }
    }
    java.util.Arrays.sort(spans, spanOrder)
    // every span that is not ok carries an error, so ok == "no error"
    ReassembledDoc(d.doc_id, scala.collection.immutable.ArraySeq.unsafeWrapArray(spans),
      err == null, err, n.toLong)
  }

  /** array_sort's order on the (offset, kind, text, media_ref) struct: nulls first,
    * strings in UTF-8 byte order (not `String.compareTo`, which orders UTF-16 units). */
  private val spanOrder: Ordering[OutSpan] = new Ordering[OutSpan] {
    def compare(a: OutSpan, b: OutSpan): Int = {
      var c = Integer.compare(a.offset, b.offset)
      if (c == 0) c = utf8Compare(a.kind, b.kind)
      if (c == 0) c = utf8Compare(a.text, b.text)
      if (c == 0) c = utf8Compare(a.media_ref, b.media_ref)
      c
    }
  }

  private def utf8Compare(a: String, b: String): Int =
    if (a eq b) 0
    else if (a == null) -1
    else if (b == null) 1
    else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /**
   * Sort-based re-assembly: one repartition on doc_id, an in-partition sort over
   * compact binary rows (SortExec, cache-friendly, no per-group buffers), then a
   * streaming group iterator that emits each document as its rows stream past.
   * Produces EXACTLY the [[reassemble]] output (asserted in the test suites); exists
   * because the collect_list object-aggregation path allocates a buffer per group and
   * copies every span into it — at high core counts that allocation rate saturates the
   * collector, while this path's sort runs on unsafe rows with near-zero garbage.
   * Skew caveat: one giant document still lands in one task (same as single-stage agg);
   * route the heavy tail through the salted agg when span counts are unbounded.
   */
  def reassembleSorted(flat: DataFrame): DataFrame = {
    val spark = flat.sparkSession
    import spark.implicits._
    flat
      .select(col("doc_id"), col("offset"), col("kind"),
        coalesce(col("text"), lit("")).as("text"), col("media_ref"), col("ok"),
        col("error"))
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("offset"), col("kind"), col("text"),
        col("media_ref"))
      .as[FlatSpanRow]
      .mapPartitions(groupSorted)
      .toDF()
  }

  /** Streaming group-by over doc_id-sorted rows. */
  private def groupSorted(it: Iterator[FlatSpanRow]): Iterator[ReassembledDoc] =
    new Iterator[ReassembledDoc] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): ReassembledDoc = {
        val docId = buf.head.doc_id
        val spans = Vector.newBuilder[graft.model.OutSpan]
        var ok = true
        var err: (Int, String) = null
        var n = 0L
        while (buf.hasNext && buf.head.doc_id == docId) {
          val r = buf.next()
          spans += graft.model.OutSpan(r.offset, r.kind, r.text, r.media_ref)
          if (!r.ok) ok = false
          if (r.error != null) {
            val cand = (r.offset, r.error)
            // first error by (offset, error) — same tiebreak as array_sort on the
            // (offset, error) struct in the aggregation path
            if (err == null || cand._1 < err._1 || (cand._1 == err._1 && cand._2 < err._2))
              err = cand
          }
          n += 1
        }
        ReassembledDoc(docId, spans.result(), ok, if (err == null) null else err._2, n)
      }
    }
}

/** Input row of the sort-based re-assembly (post-coalesce: text is never null). */
final case class FlatSpanRow(
    doc_id: String, offset: Int, kind: String, text: String, media_ref: String,
    ok: Boolean, error: String)

/** Output row of the sort-based re-assembly — same shape as [[reassemble]]'s. */
final case class ReassembledDoc(
    doc_id: String, spans: Seq[graft.model.OutSpan], ok: Boolean, error: String,
    n_spans: Long)

/** Typed unit of work for the OCR island, with document lang and the document's span
  * count (for skew routing at re-assembly) riding along. */
final case class MediaTaskL(
    doc_id: String, lang: String, n_doc_spans: Int, offset: Int, media_ref: String)

/** OCR result carrying lang + span count through the typed boundary (no re-join). */
final case class OcrSpanWithLang(
    doc_id: String,
    lang: String,
    n_doc_spans: Int,
    offset: Int,
    kind: String,
    text: String,
    media_ref: String,
    ok: Boolean,
    error: String,
    n_words: Int,
    conf_sum: Double)
