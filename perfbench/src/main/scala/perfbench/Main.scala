package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.operators.{EngineConfig, EnginePool, StandardMediaDecoder}
import graft.sources.{PosixCommitIo, SnapshotSink}
import org.apache.spark.sql.SparkSession

/**
 * Runs one workload in this JVM and writes its result as JSON (see run.py, which
 * builds this program, starts it, adds the DuckDB check of `curate` and prints the
 * benchmark's result line).
 *
 * Args: --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
 * --result FILE [--inject fail|corrupt]. `--inject` is the self-test of the harness:
 * `fail` adds one call that throws, `corrupt` damages the output before it is checked.
 */
object Main {
  /** Set-up runs this many times; setup_s reports the median. */
  val SetupReps = 3
  /** Fewest timed operations per run: a `commit` operation takes about as long as the
    * window, and a median of two halves the pull of one slowed operation. */
  val MinSamples = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val name = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Path.of(a("work"))
    val inject = a.get("inject")
    val slots = Runtime.getRuntime.availableProcessors

    val (spark, sessionS) = Stats.seconds(session(work, slots))
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, enabled = false)
    val listener = new StageListener
    val ctx = new Ctx(spark, a("data"), work, a("seed").toLong, tracer, listener, slots)
    val w = Workload(name, ctx)

    var attempted, failed = 0
    val errors = mutable.ArrayBuffer[String]()
    def attempt(body: => Unit): Option[Double] = {
      attempted += 1
      try Some(Stats.seconds(body)._2)
      catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"${e.getClass.getName}: ${e.getMessage}"
          None
      }
    }

    // set-up, several times, each into a fresh temp directory (the program keeps its
    // materialized corpora and derived stores under java.io.tmpdir)
    val setupS = (1 to SetupReps).map { rep =>
      val dir = work.resolve(s"setup-$rep")
      Files.createDirectories(dir)
      System.setProperty("java.io.tmpdir", dir.toString)
      ctx.tmp = dir
      Stats.seconds(w.setup())._2
    }
    (1 until SetupReps).foreach(rep => Stats.deleteTree(work.resolve(s"setup-$rep")))

    // warm-up: untimed operations until they have taken `seconds`; the first one is
    // reported (harness.warmup_s) and its output is what `verify` checks
    w.prepare()
    val warmupS = attempt(w.warmup())
    var warm = warmupS.getOrElse(seconds)
    while (warm < seconds) {
      w.prepare()
      warm += attempt(w.op(PosixCommitIo)).getOrElse(seconds)
    }

    if (inject.contains("fail"))
      attempt(SnapshotSink.deleteDocs(spark, work.resolve("no-snapshot").toString,
        Seq("doc-0000000000000")))

    // the timed loop: operations start while the next one is expected to end within
    // `seconds`, and until MinSamples untraced ones have run; a trace run alternates
    // untraced and traced operations
    val untraced, traced = mutable.ArrayBuffer[Double]()
    val layerSamples = mutable.ArrayBuffer[Layers]()
    def tracing[T](body: => T): T = {
      tracer.enabled = true
      sc.addSparkListener(listener)
      try body
      finally {
        sc.removeSparkListener(listener)
        tracer.enabled = false
      }
    }
    def enough = untraced.size >= MinSamples && (!trace || traced.nonEmpty)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def nextFits = {
      val done = (untraced ++ traced).toSeq
      done.isEmpty || elapsed + Stats.median(done) <= seconds
    }
    var i = 0
    while (nextFits || (!enough && elapsed < 4 * seconds)) {
      w.prepare()
      if (trace && i % 2 == 1) tracing {
        attempt(tracer.span(s"$name.op")(w.op(new TimingCommitIo(tracer)))).foreach { s =>
          traced += s
          val l = new Layers
          w.layers(tracer.spans.last, l)
          layerSamples += l
        }
      } else attempt(w.op(PosixCommitIo)).foreach(untraced += _)
      i += 1
    }

    if (inject.contains("corrupt")) w.corrupt()
    val verifyS = Stats.seconds {
      try w.verify()
      catch { case NonFatal(e) => ctx.problems += s"$name: verify threw $e" }
    }._2

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (untraced.nonEmpty) {
      val opS = Stats.median(untraced.toSeq)
      if (!trace) {
        metrics("setup_s") = (sessionS + Stats.median(setupS), "s")
        metrics("op_s") = (opS, "s")
        metrics("docs_per_sec") = (w.docsPerOp / opS, "docs/s")
        metrics("peak_rss_mb") = (Stats.peakRssMb(), "MB")
      } else if (traced.nonEmpty) {
        layerSamples.flatMap(_.values.keys).distinct.foreach { k =>
          val xs = layerSamples.flatMap(_.values.get(k))
          metrics(k) = (Stats.median(xs.map(_._1).toSeq), xs.head._2)
        }
        metrics ++= w.extra.values
        val once = new Layers
        tracing(attempt(w.traceOnce(once)))
        metrics ++= once.values
        ocrEngine(metrics)
        metrics("harness.session_s") = (sessionS, "s")
        warmupS.foreach(s => metrics("harness.warmup_s") = (s, "s"))
        metrics("harness.trace_overhead_share") =
          (Stats.median(traced.toSeq) / opS - 1, "share")
        tracer.write(Path.of(a("result")).resolveSibling(s"trace-$name-${ctx.seed}.jsonl"))
      }
    }
    System.err.println(s"perfbench: $name: ${untraced.size} untraced and ${traced.size} " +
      s"traced operations; set-up ${setupS.map(s => f"$s%.2f").mkString(", ")} s; " +
      s"warm-up ${warmupS.map(s => f"$s%.2f").getOrElse("failed")} s; " +
      f"session $sessionS%.2f s; verify $verifyS%.2f s; operations " +
      (untraced ++ traced).map(s => f"$s%.2f").mkString(", ") + " s")

    val m = metrics.map { case (k, (v, u)) =>
      s"${Stats.json(k)}:{" + "\"value\":" + v + ",\"unit\":" + Stats.json(u) + "}" }
    val oracle = w.oracle.fold("") { case (dir, data) =>
      s",\"oracle_dir\":${Stats.json(dir.toString)},\"oracle_data\":${Stats.json(data)}" }
    Files.writeString(Path.of(a("result")),
      s"""{"attempted":$attempted,"failed":$failed,""" +
        s""""errors":${errors.map(Stats.json).mkString("[", ",", "]")},""" +
        s""""problems":${ctx.problems.map(Stats.json).mkString("[", ",", "]")},""" +
        s""""metrics":${m.mkString("{", ",", "}")}$oracle}""")
    spark.stop()
  }

  def session(work: Path, slots: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Driver-timed decode and recognize over a fixed sample of media refs, per call. */
  private def ocrEngine(metrics: mutable.Map[String, (Double, String)]): Unit = {
    val refs = (0 until 2000).map(i => s"m-${i / 4}-${i % 4}")
    val payloads = refs.map(r => StandardMediaDecoder.decode(r).toOption.get)
    val engine = EnginePool.get("en", EngineConfig.default)
    var sink = 0L
    def perCallUs(n: Int)(call: Int => Int): Double = Stats.median((1 to 7).map { _ =>
      val (_, s) = Stats.seconds((0 until n).foreach(i => sink += call(i)))
      s * 1e6 / n
    })
    metrics("OcrEngine.decode_us") =
      (perCallUs(refs.size)(i => StandardMediaDecoder.decode(refs(i)).toOption.get.length), "us")
    metrics("OcrEngine.recognize_us") =
      (perCallUs(payloads.size)(i => engine.recognize(payloads(i)).text.length), "us")
    require(sink > 0)
  }
}
