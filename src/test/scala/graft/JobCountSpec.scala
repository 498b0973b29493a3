package graft

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import graft.sources.{Interleave, SnapshotSink}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Spark jobs per commit-protocol operation, counted by a [[SparkListener]]: manifest
 * reads are driver-side metadata and start no job, and a takedown's job count and
 * published versions do not grow with the buckets it rewrites (one grouped count,
 * one commit).
 */
class JobCountSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val NB = 8

  /** Job groups of every started job, in listener-bus order. */
  private object JobLog extends SparkListener {
    val groups = ArrayBuffer.empty[String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      groups += Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    }
  }
  private lazy val registered = spark.sparkContext.addSparkListener(JobLog)
  private var marks = 0

  /** Run a one-task job in its own group and wait until the listener saw it. The
    * listener bus delivers in order, so every earlier job has been logged too. */
  private def mark(): String = {
    registered
    marks += 1
    val tag = s"job-count-mark-$marks"
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60e9.toLong
    while (!JobLog.synchronized(JobLog.groups.contains(tag))) {
      assert(System.nanoTime() < deadline, s"listener never saw $tag")
      Thread.sleep(10)
    }
    tag
  }

  /** Spark jobs `body` starts. */
  private def jobsOf(body: => Any): Int = {
    val from = mark()
    body
    val to = mark()
    JobLog.synchronized {
      JobLog.groups.indexOf(to) - JobLog.groups.indexOf(from) - 1
    }
  }

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-jobs-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private lazy val out: String = {
    val dir = tmpDir("snapshot")
    SnapshotSink.run(Interleave.docs(spark, "/root/testdata/sf0.001"), dir,
      nBuckets = NB, waveSize = NB)
    dir
  }

  private def docIdsInBucket(b: Long, n: Int): Seq[String] =
    SnapshotSink.readCommitted(spark, out)
      .filter(col("bucket") === b).select(col("doc_id")).distinct()
      .orderBy(col("doc_id")).limit(n)
      .collect().map(_.getString(0)).toSeq

  test("manifest reads start no Spark job") {
    val v = SnapshotSink.versions(out).last
    assert(jobsOf(SnapshotSink.readManifest(spark, out)) === 0)
    assert(jobsOf(SnapshotSink.readManifestAt(spark, out, v)) === 0)
    assert(jobsOf(SnapshotSink.lineage(spark, out)) === 0)
    assert(SnapshotSink.readManifest(spark, out).size === NB)
  }

  test("a takedown in 3 buckets starts as many jobs as one in 1 bucket, one version each") {
    val one = docIdsInBucket(1L, 2)
    val three = Seq(2L, 4L, 7L).flatMap(docIdsInBucket(_, 1))
    def takedown(ids: Seq[String], buckets: Seq[Long]): Int = {
      val v0 = SnapshotSink.versions(out).last
      var report: SnapshotSink.DeleteReport = null
      val jobs = jobsOf { report = SnapshotSink.deleteDocs(spark, out, ids, NB) }
      assert(report.rewrittenBuckets === buckets)
      assert(SnapshotSink.versions(out).last === v0 + 1)
      jobs
    }
    val jobsOne = takedown(one, Seq(1L))
    val jobsThree = takedown(three, Seq(2L, 4L, 7L))
    assert(jobsThree === jobsOne)
    assert(SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id").isInCollection(one ++ three)).count() === 0L)
  }
}
