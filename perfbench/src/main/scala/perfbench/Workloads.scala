package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.SparkEntry
import graft.model.OutSpan
import graft.operators.{ExtractPipeline, Oracle}
import graft.sources.{CommitIo, Interleave, SnapshotSink}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What every workload shares. `tmp` is the private directory of the current set-up;
  * `problems` collects failed output checks. */
final class Ctx(val spark: SparkSession, dataRoot: String, val work: Path,
    val seed: Long, val tracer: Tracer, val listener: StageListener, val slots: Int) {
  /** The sf0.1 tables the corpora are synthesized from; sf0.01 for the curation
    * queries. */
  val data: String = s"$dataRoot/sf0.1"
  val smallData: String = s"$dataRoot/sf0.01"
  var tmp: Path = work
  val problems = mutable.ArrayBuffer[String]()
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
}

/** Per-layer metrics of one traced operation: name -> (value, unit). */
final class Layers {
  val values = mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
}

/**
 * One benchmark workload: a closed loop with one client. `setup` builds the fixtures
 * (repeatable: it is run several times and timed), `prepare` resets state between
 * operations outside the timed region, `op` is the timed call into the program,
 * `verify` checks the program's output in an untimed pass.
 */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def span[T](name: String)(body: => T): T = ctx.tracer.span(name)(body)
  /** Times the corpus materialization of set-up (Interleave.materialize_s). */
  protected def materialized(body: => DataFrame): DataFrame = {
    val (df, s) = Stats.seconds(body)
    extra.put("Interleave.materialize_s", s, "s")
    df
  }
  /** Documents one operation covers. */
  def docsPerOp: Long
  def setup(): Unit
  def prepare(): Unit = ()
  def op(io: CommitIo): Unit
  /** The untimed first operation, reported as harness.warmup_s. */
  def warmup(): Unit = op(graft.sources.PosixCommitIo)
  /** Per-layer metrics of the traced operation whose root span is `root`. May run
    * further traced calls of its own (they are not part of any timed sample). */
  def layers(root: Span, out: Layers): Unit
  def verify(): Unit
  /** Per-layer values measured outside the traced operation: in set-up or `verify`. */
  val extra = new Layers
  /** Damage the output so that `verify` must fail (self-test of the checks). */
  def corrupt(): Unit
  /** Traced measurements made once per traced run, after the timed loop. */
  def traceOnce(out: Layers): Unit = ()
  /** Where results for the DuckDB oracle check were written, with their tables. */
  def oracle: Option[(Path, String)] = None
}

/** One row of documents.parquet, the input every corpus is synthesized from. */
final case class BaseDoc(id: Long, text: String, lang: String, source: String, nChars: Long)

object Workload {
  val Buckets = SnapshotSink.DefaultBuckets
  /** Interleave's doc-id stride between replicas of the base corpus. */
  val ReplicaStride = 10000000L

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "extract" => new Extract(ctx)
    case "commit" => new Commit(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def baseDocs(spark: SparkSession, data: String): Seq[BaseDoc] =
    spark.read.parquet(s"$data/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .collect().toSeq
      .map(r => BaseDoc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))

  /** The replicated corpus as (replicated id, base row), in Interleave's id scheme. */
  def replicated(base: Seq[BaseDoc], replicas: Int): Iterator[(Long, BaseDoc)] =
    Iterator.range(0, replicas).flatMap(r => base.iterator.map(d => (d.id + r * ReplicaStride, d)))

  def synthesize(id: Long, d: BaseDoc) = Oracle.synthesize(id, d.text, d.lang, d.source, d.nChars)

  def docIdString(id: Long): String = f"doc-$id%013d"

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Stage metrics of the spans called `name` under `root`, summed. */
  def stats(ctx: Ctx, root: Span, name: String): (Double, StageStats) = {
    val spans = (root +: ctx.tracer.descendants(root)).filter(_.name == name)
    val total = new StageStats
    spans.foreach(s => total.add(ctx.listener.inclusive(ctx.tracer, s)))
    (spans.map(_.seconds).sum, total)
  }

  /** Publish calls made under `root`: CommitIo.publish_{dir,file}_calls, publish_s. */
  def commitIo(ctx: Ctx, root: Span, out: Layers): Unit = {
    val below = ctx.tracer.descendants(root)
    val dirs = below.filter(_.name == "CommitIo.publishDir")
    val files = below.filter(_.name == "CommitIo.publishFile")
    out.put("CommitIo.publish_dir_calls", dirs.size, "count")
    out.put("CommitIo.publish_file_calls", files.size, "count")
    out.put("CommitIo.publish_s", (dirs ++ files).map(_.seconds).sum, "s")
  }

  /** Damage one committed data file: same name, different bytes. */
  def corruptSnapshot(dir: Path): Unit = {
    val s = Files.walk(dir.resolve("data"))
    val f = try s.filter(_.toString.endsWith(".parquet")).findFirst().get() finally s.close()
    Files.write(f, Array.fill[Byte](Files.size(f).toInt)(0))
  }
}

import Workload._

/** `ExtractPipeline.extractAndReassemble` over the materialized corpus into a noop sink. */
final class Extract(ctx: Ctx) extends Workload(ctx) {
  val Replicas = 2
  private var base: Seq[BaseDoc] = Nil
  private var docs: DataFrame = _

  def docsPerOp: Long = base.size.toLong * Replicas

  def setup(): Unit = {
    base = baseDocs(spark, ctx.data)
    docs = materialized(Interleave.materializedDocs(spark, ctx.data, Replicas))
  }

  private def extracted: DataFrame = ExtractPipeline.extractAndReassemble(docs)

  def op(io: CommitIo): Unit =
    span("ExtractPipeline.extractAndReassemble")(noop(extracted))

  private def checked: Path = ctx.work.resolve("extract-check")

  /** The same call into a parquet sink instead: the output `verify` checks. */
  override def warmup(): Unit = extracted.write.parquet(checked.toString)

  def layers(root: Span, out: Layers): Unit = {
    val scanS = Stats.seconds(span("Interleave.scan")(noop(docs)))._2
    val flatS = Stats.seconds(span("ExtractPipeline.extractFlat")(
      noop(ExtractPipeline.extractFlat(docs))))._2
    StageListener.drain(spark.sparkContext)
    val (fullS, st) = stats(ctx, root, "ExtractPipeline.extractAndReassemble")
    out.put("Interleave.scan_s", scanS, "s")
    out.put("ExtractPipeline.flat_s", flatS, "s")
    out.put("ExtractPipeline.reassemble_s", fullS - flatS, "s")
    out.put("ExtractPipeline.shuffle_bytes", st.shuffleBytes, "bytes")
    out.put("ExtractPipeline.spill_bytes", st.spillBytes, "bytes")
    out.put("ExtractPipeline.gc_s", st.gcSeconds, "s")
    out.put("ExtractPipeline.reassemble_task_skew", st.shuffleTaskSkew, "ratio")
    out.put("ExtractPipeline.slot_idle_share", st.slotIdleShare(fullS, ctx.slots), "share")
  }

  private var dropped: Option[String] = None
  def corrupt(): Unit = dropped = Some(docIdString(base.head.id))

  private lazy val curation = new Curation(ctx)
  private var curated = false

  /** The curation operator modules have no workload of their own (see README.md):
    * the traced run of `extract` measures them, on the tables the corpus is built from. */
  override def traceOnce(out: Layers): Unit = {
    curation.writeResults(emptied = dropped.nonEmpty)
    curated = true
    curation.tracedPass(out)
  }

  override def oracle: Option[(Path, String)] =
    if (curated) Some((curation.resultDir, ctx.smallData)) else None

  /** The warm-up's output: every doc and span present, and a fixed sample equal to
    * `Oracle.extract`. */
  def verify(): Unit = {
    val written = spark.read.parquet(checked.toString)
    val out = dropped.fold(written)(id => written.filter(col("doc_id") =!= id))
    val all = replicated(base, Replicas).toSeq
    val expSpans = all.iterator.map { case (id, d) => synthesize(id, d).spans.size.toLong }.sum
    val totals = out.agg(count(lit(1)), sum(col("n_spans"))).head
    ctx.check(totals.getLong(0) == all.size, s"extract: ${totals.getLong(0)} docs, expected ${all.size}")
    ctx.check(totals.getLong(1) == expSpans, s"extract: ${totals.getLong(1)} spans, expected $expSpans")
    // the sample: skew docs (37th), missing-media docs (41st), bad-engine 'zh' docs
    // and ordinary docs, 3 of each from the first and from the last replica
    val kinds = Seq[((Long, BaseDoc)) => Boolean](
      _._1 % 37 == 0, _._1 % 41 == 0, _._2.lang == "zh",
      p => p._1 % 37 != 0 && p._1 % 41 != 0 && p._2.lang != "zh")
    val sample = Seq(0L, Replicas - 1L).distinct.flatMap { r =>
      val replica = all.filter(_._1 / ReplicaStride == r)
      kinds.flatMap { k =>
        val xs = replica.filter(k)
        xs.grouped(math.max(1, xs.size / 3)).map(_.head).take(3)
      }
    }
    val expected = sample.map { case (id, d) => docIdString(id) -> Oracle.extract(synthesize(id, d)) }.toMap
    val got = out.filter(col("doc_id").isin(expected.keys.toSeq: _*)).collect()
      .map(r => r.getAs[String]("doc_id") -> r).toMap
    expected.foreach { case (id, e) =>
      got.get(id) match {
        case None => ctx.check(false, s"extract: sample doc $id missing")
        case Some(r) =>
          val spans = r.getAs[scala.collection.Seq[Row]]("spans").map(s => OutSpan(s.getAs[Int]("offset"),
            s.getAs[String]("kind"), s.getAs[String]("text"), s.getAs[String]("media_ref")))
          ctx.check(spans == e.spans && r.getAs[Boolean]("ok") == e.ok &&
            r.getAs[String]("error") == e.error && r.getAs[Long]("n_spans") == e.spans.size,
            s"extract: sample doc $id differs from Oracle.extract")
      }
    }
    val media = out.select(explode(col("spans")).as("s")).filter(col("s.kind") === "image")
      .agg(count(lit(1)), sum(when(col("s.text") =!= "", 1L).otherwise(0L))).head
    extra.put("OcrEngine.media_spans", media.getLong(0), "count")
    extra.put("OcrEngine.ok_share", media.getLong(1).toDouble / media.getLong(0), "share")
  }
}

/**
 * Curation queries (`SparkEntry.queries`), one per curation operator module, over the
 * sf0.01 tables, in a seeded order. The first pass writes each result for the DuckDB
 * oracle check in run.py and builds the derived store `lm_score` commits; the second,
 * traced, pass takes the warm-store path into noop sinks.
 */
final class Curation(ctx: Ctx) {
  val Queries = Seq("minhash_bands", "knn_graph", "lm_score", "bm25_topk", "pagerank",
    "curate_pipeline", "hocr_words", "media_features")
  private val order = new scala.util.Random(ctx.seed).shuffle(Queries)
  val resultDir: Path = ctx.work.resolve("curation-results")

  private def query(q: String): DataFrame = SparkEntry.queries(q)(ctx.spark, ctx.smallData)

  /** With `emptied`, the first query's result is written empty (the harness self-test). */
  def writeResults(emptied: Boolean): Unit = {
    order.foreach { q =>
      val df = if (emptied && q == order.head) query(q).limit(0) else query(q)
      df.write.parquet(resultDir.resolve(q).toString)
    }
    val sql = order.map(q => Stats.json(q) + ":" + Stats.json(SparkEntry.oracleSql(q)))
    Files.writeString(resultDir.resolve("oracle_sql.json"), sql.mkString("{", ",", "}"))
  }

  def tracedPass(out: Layers): Unit = {
    ctx.tracer.span("curation") {
      order.foreach(q => ctx.tracer.span(s"query.$q")(noop(query(q))))
    }
    StageListener.drain(ctx.spark.sparkContext)
    val pass = ctx.tracer.spans.last
    order.foreach(q => out.put(s"query.${q}_s", stats(ctx, pass, s"query.$q")._1, "s"))
    val st = ctx.listener.inclusive(ctx.tracer, pass)
    out.put("curation.s", pass.seconds, "s")
    out.put("curation.gc_s", st.gcSeconds, "s")
    out.put("curation.shuffle_bytes", st.shuffleBytes, "bytes")
    out.put("curation.slot_idle_share", st.slotIdleShare(pass.seconds, ctx.slots), "share")
  }
}

/**
 * The commit protocol end to end, with no reassembly: `SnapshotSink.run` of the
 * bucket-partitioned corpus into a fresh directory (ingest), then a seeded re-crawl
 * merged with `upsertDocs`, a seeded takedown with `deleteDocs`, and the reads
 * (maintain). The re-crawl is extracted in set-up, so maintenance runs no OCR.
 */
final class Commit(ctx: Ctx) extends Workload(ctx) {
  val Replicas = 1
  val WaveSize = 4
  /** One document in RecrawlMod is re-crawled (the seed picks which residue). */
  val RecrawlMod = 100
  /** The takedown hits this many seeded buckets; its cost follows buckets touched. */
  val VictimBuckets = 2
  val VictimsPerBucket = 20
  private def out: Path = ctx.work.resolve("commit-out")
  private var nDocs = 0L
  private var docs, updates: DataFrame = _
  private var victims: Seq[String] = Nil
  private var recrawlBuckets, victimBuckets = Set.empty[Long]
  private var spans, recrawled, replacedRows, v2Rows, deletedRows, rowsAfter, changedRows = 0L
  /** Rows per bucket once the re-crawl is merged. */
  private var afterUpsert = Map.empty[Long, Long]
  private var ingestVersion = 0L
  private var lastUp: SnapshotSink.UpsertReport = _
  private var lastDel: SnapshotSink.DeleteReport = _

  def docsPerOp: Long = nDocs

  def setup(): Unit = {
    val base = baseDocs(spark, ctx.data)
    nDocs = base.size.toLong * Replicas
    docs = materialized(
      Interleave.materializedDocsBucketed(spark, ctx.data, Buckets, Replicas))

    val rng = new scala.util.Random(ctx.seed)
    val residue = rng.nextInt(RecrawlMod)
    val all = replicated(base, Replicas).map { case (id, d) => (id, synthesize(id, d)) }.toSeq
    def rows(doc: graft.model.Doc) = doc.spans.size.toLong
    def textRows(doc: graft.model.Doc) = doc.spans.count(_.kind == "text").toLong
    val recrawl = all.filter(_._1 % RecrawlMod == residue)
    victimBuckets = rng.shuffle((0 until Buckets).map(_.toLong)).take(VictimBuckets).toSet
    val picked = victimBuckets.toSeq.sorted.flatMap(b => rng.shuffle(
      all.filter(p => p._1 % Buckets == b && p._1 % RecrawlMod != residue)).take(VictimsPerBucket))
    victims = picked.map(p => docIdString(p._1))
    recrawlBuckets = recrawl.map(_._1 % Buckets).toSet
    spans = all.map(p => rows(p._2)).sum
    recrawled = recrawl.size
    replacedRows = recrawl.map(p => rows(p._2)).sum
    v2Rows = recrawl.map(p => textRows(p._2)).sum
    deletedRows = picked.map(p => rows(p._2)).sum
    rowsAfter = spans - replacedRows + v2Rows - deletedRows
    afterUpsert = all.groupBy(_._1 % Buckets).map { case (b, ds) =>
      b -> ds.map(p => if (p._1 % RecrawlMod == residue) textRows(p._2) else rows(p._2)).sum
    }
    val deletedIn = picked.groupBy(_._1 % Buckets).map { case (b, ds) => b -> ds.map(p => rows(p._2)).sum }
    changedRows = (recrawlBuckets ++ victimBuckets).toSeq
      .map(b => afterUpsert(b) - deletedIn.getOrElse(b, 0L)).sum

    // the re-crawl's revised extraction: its text spans only, 'v2:'-prefixed (the
    // shape of the snapshot_upsert query)
    val numId = substring(col("doc_id"), 5, Interleave.DocIdDigits).cast("long")
    val updDir = ctx.tmp.resolve("commit-updates").toString
    ExtractPipeline.extractFlat(Interleave.docs(spark, ctx.data, Replicas)
        .filter(pmod(numId, lit(RecrawlMod.toLong)) === residue))
      .filter(col("kind") === "text")
      .withColumn("text", concat(lit("v2:"), col("text")))
      .withColumn("n_doc_spans", (lit(2) + pmod(numId, lit(3L))).cast("int"))
      .write.parquet(updDir)
    updates = spark.read.parquet(updDir)
  }

  override def prepare(): Unit = Stats.deleteTree(out)

  def op(io: CommitIo): Unit = {
    val dir = out.toString
    val r = span("SnapshotSink.run")(SnapshotSink.run(docs, dir, Buckets, WaveSize, io = io))
    ingestVersion = SnapshotSink.versions(dir).max
    val up = span("SnapshotSink.upsertDocs")(
      SnapshotSink.upsertDocs(spark, dir, updates, Buckets, io = io))
    val del = span("SnapshotSink.deleteDocs")(
      SnapshotSink.deleteDocs(spark, dir, victims, Buckets, io))
    val (n, changed, bad) = span("SnapshotSink.reads") {
      val head = SnapshotSink.versions(dir).max
      (span("SnapshotSink.readCommitted")(SnapshotSink.readCommitted(spark, dir).count()),
        span("SnapshotSink.readChangesBetween")(
          SnapshotSink.readChangesBetween(spark, dir, ingestVersion, head).count()),
        span("SnapshotSink.verifySnapshot")(SnapshotSink.verifySnapshot(spark, dir)))
    }
    lastUp = up
    lastDel = del
    ctx.check(r.totalRows == spans && r.processed.size == Buckets,
      s"commit: run committed ${r.totalRows} rows in ${r.processed.size} buckets, " +
        s"expected $spans in $Buckets")
    ctx.check(up.matchedDocs == recrawled && up.insertedDocs == 0 &&
      up.replacedRows == replacedRows && up.upsertRows == v2Rows &&
      up.rewrittenBuckets.toSet == recrawlBuckets,
      s"commit: upsert report $up, expected $recrawled docs, $replacedRows -> " +
        s"$v2Rows rows in buckets $recrawlBuckets")
    ctx.check(del.deletedRows == deletedRows && del.rewrittenBuckets.toSet == victimBuckets,
      s"commit: takedown report $del, expected $deletedRows rows in buckets $victimBuckets")
    ctx.check(n == rowsAfter, s"commit: read $n rows, expected $rowsAfter")
    ctx.check(changed == changedRows, s"commit: $changed changed rows, expected $changedRows")
    ctx.check(bad.isEmpty, s"commit: verifySnapshot flags buckets ${bad.mkString(",")}")
  }

  def layers(root: Span, out: Layers): Unit = {
    StageListener.drain(spark.sparkContext)
    def put(name: String, v: Double, unit: String) = out.put(s"SnapshotSink.$name", v, unit)
    val (runS, run) = stats(ctx, root, "SnapshotSink.run")
    val tableBytes = SnapshotSink.readManifestAt(spark, this.out.toString, ingestVersion)
      .flatMap(_.file_sizes).sum
    put("run_s", runS, "s")
    put("run_jobs", run.jobs, "count")
    put("run_stages", run.stages, "count")
    put("run_task_s", run.taskSeconds, "s")
    put("run_bytes_written", run.bytesWritten, "bytes")
    put("run_bytes_read", run.bytesRead, "bytes")
    put("run_shuffle_bytes", run.shuffleBytes, "bytes")
    put("run_write_amplification", run.bytesWritten.toDouble / tableBytes, "ratio")
    put("run_slot_idle_share", run.slotIdleShare(runS, ctx.slots), "share")
    put("table_bytes_per_span", tableBytes.toDouble / spans, "bytes")

    val (upS, up) = stats(ctx, root, "SnapshotSink.upsertDocs")
    val (delS, del) = stats(ctx, root, "SnapshotSink.deleteDocs")
    put("upsert_s", upS, "s")
    put("upsert_buckets_rewritten", lastUp.rewrittenBuckets.size, "count")
    put("upsert_bytes_rewritten", up.bytesWritten, "bytes")
    put("upsert_useful_share", lastUp.upsertRows.toDouble /
      lastUp.rewrittenBuckets.map(b => afterUpsert(b % Buckets)).sum, "share")
    put("takedown_s", delS, "s")
    put("takedown_buckets_rewritten", lastDel.rewrittenBuckets.size, "count")
    put("takedown_bytes_rewritten", del.bytesWritten, "bytes")
    put("takedown_useful_share", lastDel.deletedRows.toDouble /
      lastDel.rewrittenBuckets.map(b => afterUpsert(b % Buckets)).sum, "share")
    put("takedown_stages", del.stages, "count")
    put("takedown_slot_idle_share", del.slotIdleShare(delS, ctx.slots), "share")
    put("read_s", stats(ctx, root, "SnapshotSink.reads")._1, "s")
    put("read_committed_s", stats(ctx, root, "SnapshotSink.readCommitted")._1, "s")
    put("changes_s", stats(ctx, root, "SnapshotSink.readChangesBetween")._1, "s")
    put("verify_s", stats(ctx, root, "SnapshotSink.verifySnapshot")._1, "s")
    put("manifest_versions", SnapshotSink.versions(this.out.toString).size, "count")
    commitIo(ctx, root, out)
  }

  def corrupt(): Unit = corruptSnapshot(out)

  def verify(): Unit = {
    val dir = out.toString
    val bad = SnapshotSink.verifySnapshot(spark, dir)
    ctx.check(bad.isEmpty, s"commit: verifySnapshot flags buckets ${bad.mkString(",")}")
    val t = SnapshotSink.readCommitted(spark, dir)
    val c = t.agg(count(lit(1)), sum(when(col("doc_id").isin(victims: _*), 1L).otherwise(0L)),
      sum(when(col("text").startsWith("v2:"), 1L).otherwise(0L))).head
    ctx.check(c.getLong(0) == rowsAfter, s"commit: ${c.getLong(0)} rows, expected $rowsAfter")
    ctx.check(c.getLong(1) == 0, s"commit: ${c.getLong(1)} rows of taken-down docs remain")
    ctx.check(c.getLong(2) == v2Rows, s"commit: ${c.getLong(2)} re-crawled rows, expected $v2Rows")
  }
}
