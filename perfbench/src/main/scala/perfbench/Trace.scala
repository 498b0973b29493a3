package perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.sources.{CommitIo, PosixCommitIo}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. All spans of a run share `run`; `parent` is -1 at the root. */
final case class Span(run: String, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Span recorder. With `enabled = false` a span is just the call it wraps, so untimed
 * and untraced runs go through the same code. When enabled, each span also becomes
 * the Spark job group of the jobs its call starts, so [[StageListener]] can attribute
 * stage and task metrics to it. Spans stay in memory until [[write]].
 */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  val run: String = java.util.UUID.randomUUID().toString
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(id.toString, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(run, id, parent, name, t0, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, "")
          case None => sc.clearJobGroup()
        }
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def descendants(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(descendants)
  }

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val covered = children(s).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end)
        else (sum + b - math.max(a, end), b)
      }._1
    (s.endNs - s.startNs - covered) / 1e9
  }

  def write(path: Path): Unit = {
    val lines = spans.map(s =>
      s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Stage and task totals of the jobs run under one span. */
final class StageStats {
  var jobs = 0
  var stages = 0
  var taskSeconds = 0.0
  var gcSeconds = 0.0
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** Task durations per stage; a stage that read shuffle output is marked. */
  val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val readsShuffle = mutable.Set[Int]()

  def add(o: StageStats): Unit = {
    jobs += o.jobs; stages += o.stages; taskSeconds += o.taskSeconds
    gcSeconds += o.gcSeconds; bytesRead += o.bytesRead; bytesWritten += o.bytesWritten
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    o.taskMs.foreach { case (k, v) => taskMs.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
    readsShuffle ++= o.readsShuffle
  }

  /** Max over the stages that read shuffle output and ran 2+ tasks of (slowest task /
    * median task); 1 when there is no such stage. */
  def shuffleTaskSkew: Double = {
    val ratios = taskMs.toSeq
      .filter { case (st, ts) => ts.size >= 2 && readsShuffle(st) }
      .map { case (_, ts) => ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq)) }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** 1 - task time / (wall time x slots). */
  def slotIdleShare(wallSeconds: Double, slots: Int): Double =
    1.0 - taskSeconds / (wallSeconds * slots)
}

/** Collects [[StageStats]] per job group (a [[Tracer]] span id). */
final class StageListener extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val byGroup = mutable.Map[String, StageStats]()

  private def stats(g: String) = byGroup.getOrElseUpdate(g, new StageStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        stats(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      s.taskSeconds += e.taskInfo.duration / 1e3
      Option(e.taskMetrics).foreach { m =>
        s.gcSeconds += m.jvmGCTime / 1e3
        s.bytesRead += m.inputMetrics.bytesRead
        s.bytesWritten += m.outputMetrics.bytesWritten
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (m.shuffleReadMetrics.totalBytesRead > 0) s.readsShuffle += e.stageId
      }
    }
  }

  /** Totals over a span and all spans below it. */
  def inclusive(t: Tracer, s: Span): StageStats = synchronized {
    val out = new StageStats
    (s +: t.descendants(s)).foreach(x => byGroup.get(x.id.toString).foreach(out.add))
    out
  }
}

object StageListener {
  /** Block until every posted listener event has been delivered. The bus method is
    * package-private in Spark, hence the reflective call. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** [[CommitIo]] decorator: each publish becomes a span, then delegates to POSIX. */
final class TimingCommitIo(t: Tracer) extends CommitIo {
  override def publishDir(src: Path, dst: Path): Unit =
    t.span("CommitIo.publishDir")(PosixCommitIo.publishDir(src, dst))
  override def publishFile(tmp: Path, dst: Path): Unit =
    t.span("CommitIo.publishFile")(PosixCommitIo.publishFile(tmp, dst))
}
