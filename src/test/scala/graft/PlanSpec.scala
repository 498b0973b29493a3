package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape regression gates (VERDICT r1 #9): the scale properties the engine's
 * scaladocs claim are asserted here so a later change cannot silently regress them.
 *
 *  - NO registered query may plan a BroadcastNestedLoopJoin or CartesianProduct —
 *    at 10^12 rows either one is a dead plan (the round-1 offenders ann_topk /
 *    ivf_topk / embed_neardup now use literal-dimension fan-out and the triangle
 *    equi-join respectively);
 *  - the flagship's per-branch nested-schema pruning must hold on a materialized
 *    corpus scan: the media branch never reads spans.text (the bulk of the bytes),
 *    the text branch never reads spans.media_ref;
 *  - the flagship's doc form is one scan plus one map: no Exchange.
 */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  // Excluded from the registered-builder sweep: queries whose DataFrame
  // CONSTRUCTION runs a protocol or iterative job — the snapshot_* family commits
  // snapshots (covered by SnapshotResumeSpec / SnapshotCompactSpec /
  // SnapshotTimeTravelSpec / DeleteDocsSpec), and the committed-derived-table /
  // iterative queries run TableSnapshot commits or the CC loop as a side effect of
  // building (a "plan-only" audit must not trigger corpus-scale writes). Their
  // join topology is identical to the plan-only ad-hoc forms checked in the second
  // test below.
  private val buildExecutes = Set(
    "snapshot_lineage", "snapshot_resume", "snapshot_compact",
    "snapshot_compact_sorted",
    "snapshot_timetravel", "snapshot_changes", "snapshot_takedown",
    "snapshot_upsert",
    "neardup_pairs", "top_terms", "dedup_groups", "dedup_apply",
    "neardup_incremental", "window_dup", "semantic_dedup",
    // pagerank's construction RUNS the 5 eager-checkpoint rounds (its join+agg
    // round topology is pinned by LinkGraphSpec instead); lm_score's registered
    // form commits the model TableSnapshot — its lazy ad-hoc form is swept below
    "pagerank", "pagerank_anchors", "lm_score", "dsir_weights",
    // reembed_incremental's construction commits the embeddings snapshot + the
    // codebook TableSnapshot (the diff subject); its encode join topology is the
    // same literal-codebook fan-out pq_encode's plan-only form covers
    "reembed_incremental")

  private val planChecked =
    SparkEntry.queries.keys.filterNot(buildExecutes).toSeq.sorted

  private def assertNoQuadraticJoin(name: String, df: DataFrame): Option[String] = {
    val plan = planOf(df)
    Seq("BroadcastNestedLoopJoin", "CartesianProduct")
      .filter(plan.contains).map(op => s"$name: $op").headOption
  }

  test("no registered query plans a BroadcastNestedLoopJoin or CartesianProduct") {
    val offenders = planChecked.flatMap { name =>
      assertNoQuadraticJoin(name, SparkEntry.queries(name)(spark, sfDir))
    }
    assert(offenders.isEmpty, s"quadratic join operators in plans: $offenders")
  }

  test("protocol-backed pipelines' ad-hoc forms plan no quadratic join either") {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // same join topology as the registered committed-table forms, but lazy
    // (localCheckpoint(eager=false) islands) — plan inspection runs nothing
    val offenders = Seq(
      "neardup_pairs(ad-hoc)" -> Dedup.neardupPairs(Dedup.withMutants(docs)),
      "window_dup(ad-hoc)" -> Dedup.windowDup(Dedup.withMutants(docs)),
      "top_terms(ad-hoc)" -> TextAnalysis.topTerms(docs, tfStore = None),
      "lm_score(ad-hoc)" -> TextAnalysis.lmScore(docs, modelStore = None),
      "dsir_weights(ad-hoc)" -> TextAnalysis.dsirWeights(docs),
      // semantic_dedup's pre-closure stage (assignment + capped cell self-join) —
      // the CC loop itself executes per round and is plan-audited via these same
      // join shapes inside connectedComponents
      "semantic_dedup(edges)" -> graft.operators.Similarity.semanticDedupEdges(
        graft.operators.Similarity.withEmbMutants(
          spark.read.parquet(s"$sfDir/embeddings.parquet")))
    ).flatMap { case (n, df) => assertNoQuadraticJoin(n, df) }
    assert(offenders.isEmpty, s"quadratic join operators in plans: $offenders")
  }

  test("decontaminate_bloom probes with the native BloomFilterMightContain, not a ScalaUDF") {
    // The Bloom probe runs on EVERY training shingle — the dominant scan at
    // 100 TB — so it must stay inside whole-stage codegen (VERDICT r4). The
    // construction runs the filter-build jobs (bounded: eval shingles only);
    // the assertion is on the resulting probe-side plan.
    val df = SparkEntry.queries("decontaminate_bloom")(spark, sfDir)
    val plan = planOf(df)
    assert(!plan.contains("ScalaUDF"),
      s"decontaminate_bloom plans a ScalaUDF probe:\n$plan")
    assert(plan.contains("might_contain"),
      s"decontaminate_bloom lost the native Bloom probe:\n$plan")
  }

  test("flagship branches prune nested columns on a materialized corpus scan") {
    val flat = graft.operators.ExtractPipeline.extractFlat(
      graft.sources.Interleave.materializedDocs(spark, sfDir))
    // executedPlan hides scan details behind AQE; the formatted explain keeps them
    val plan = flat.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.size >= 2, s"expected two branch scans, got: $scans")
    assert(scans.exists(s => !s.contains("text")),
      s"media branch scan must not read spans.text: $scans")
    assert(scans.exists(s => !s.contains("media_ref")),
      s"text branch scan must not read spans.media_ref: $scans")
  }

  test("doc-form extraction plans one file scan and no Exchange") {
    val df = graft.operators.ExtractPipeline.extractAndReassemble(
      graft.sources.Interleave.materializedDocs(spark, sfDir))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.size === 1, s"expected one scan, got: $scans")
    assert(!planOf(df).contains("Exchange"), s"doc form plans a shuffle:\n$plan")
  }

  // (the zero-Exchange bucketed-join property is asserted in BucketedJoinSpec, which
  // controls autoBroadcastJoinThreshold — a naive re-check here just sees the small
  // table get broadcast)
}
