package graft

import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the LocalExact hybrid queries' two paths equal: the
  * single-task sequential pass (default at test scale) must produce
  * the exact rows of the distributed plan (forced via the
  * spark.graft.localExactMaxRows=0 override). So that a case cannot
  * pass because the override never reached the operator, the two runs'
  * executed plans must differ in the path itself: the kernel's one-task
  * result scan appears in the default run's plans and in none of the
  * forced run's. The plans are those of every action the run takes,
  * the final collect and the construction-time counts and eager
  * checkpoints alike, since a caller may consume the kernel's result
  * behind a checkpoint of its own (q103's SemanticDedup). The forced
  * run must also launch more Spark jobs than the default one. Runs on
  * the sf0.001 testdata when present.
  */
class LocalExactParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"
  private def available: Boolean = new java.io.File(dir).isDirectory

  /** One run of a query: its result rows, the Spark jobs started while
    * it was built and collected, and the LocalExact kernel scans in the
    * executed plans of its actions, both counted after a listener-bus
    * drain. */
  private case class Run(rows: Seq[String], jobs: Int, kernelScans: Int)

  /** Scans of a LocalExact one-task result in `qe`'s executed plan.
    * LocalExact lazily checkpoints the kernel's output, so a plan reads
    * it through an RDD scan whose RDD was created by the
    * `localCheckpoint` call in LocalExact.scala, which its call site
    * (in the RDD's `toString`) names. */
  private def kernelScans(qe: QueryExecution): Int =
    collectWithSubqueries(qe.executedPlan) {
      case s: RDDScanExec if s.rdd.toString.contains("LocalExact.scala") => s
    }.size

  private def run(name: String): Run = {
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val actions = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        scans.addAndGet(kernelScans(qe))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(actions)
    try {
      // withJobs drains the listener bus, which also delivers `actions`
      val (rows, jobs) = withJobs(graft.queries.Registry.byName(name).run(spark, dir)
        .collect().map(_.toString).toSeq)
      Run(rows, jobs, scans.get)
    } finally spark.listenerManager.unregister(actions)
  }

  /** `kernel = false` for a hybrid whose local path is not a LocalExact
    * dispatch (no kernel scan to look for); the jobs check still holds. */
  private def bothPaths(name: String, kernel: Boolean = true): Unit = {
    assume(available, s"$dir not present")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val local = run(name)
    val dist = forcedDistributed(run(name))
    assert(local.rows == dist.rows, s"$name: local path != distributed path")
    assert(local.rows.nonEmpty, s"$name returned no rows")
    if (kernel) assert(local.kernelScans > 0 && dist.kernelScans == 0,
      s"$name: the default run's plans scan ${local.kernelScans} kernel result(s), " +
        s"the forced run's ${dist.kernelScans}")
    assert(dist.jobs > local.jobs, s"$name: the forced run launched ${dist.jobs} " +
      s"jobs, the default run ${local.jobs} — the override did not change the path")
  }

  test("q135 decision stump: local scan equals the DECIMAL(38) plan") {
    bothPaths("q135_decision_stump")
  }

  test("q130 MAD outliers: local scan equals the window-median plan") {
    bothPaths("q130_mad_outliers")
  }

  test("q146 PSI drift: local scan equals the distributed bounds plan") {
    bothPaths("q146_psi_drift")
  }

  test("q150 max concurrency: local scan equals the prefix-sum plan") {
    bothPaths("q150_max_concurrency")
  }

  test("q133 all-pairs jaccard: one-task kernel equals the Bayardo join") {
    bothPaths("q133_allpairs_jaccard")
  }

  test("q165 incremental dedup: one-task kernel equals the oriented join") {
    bothPaths("q165_incremental_dedup")
  }

  test("q143 containment: one-task kernel equals the one-sided prefix join") {
    bothPaths("q143_containment_join")
  }

  test("q127 NB classify: one-task train+score equals the model-grid plan") {
    bothPaths("q127_nb_classify")
  }

  test("q134 source entropy: one-task pass equals the two-aggregate plan") {
    bothPaths("q134_source_entropy")
  }

  test("q155 RFM segments: one-task pass equals the grouped prefix-sum plan") {
    bothPaths("q155_rfm_segments")
  }

  test("q98 LM quality: one-task train+score equals the broadcast-model plan") {
    bothPaths("q98_lm_quality")
  }

  test("q99 DSIR select: one-task pass equals the bucket-model plan") {
    bothPaths("q99_dsir_select")
  }

  test("q121 PMI collocations: one-task pass equals the count-join plan") {
    bothPaths("q121_pmi_collocations")
  }

  test("q131 profile: one-task pass equals the 6-way countDistinct plan") {
    bothPaths("q131_profile")
  }

  test("q76 tfidf top terms: one-task pass equals the TopKPhysical plan") {
    bothPaths("q76_tfidf_topterms")
  }

  test("q153 keep-first scrub: one-task pass equals the span-join plan") {
    bothPaths("q153_keepfirst_scrub")
  }

  test("q167 RRF fusion: one-task pass equals the two-ranking plan") {
    bothPaths("q167_rrf_fusion")
  }

  test("q113 inverted index: one-task pass equals the TopKPerGroup plan") {
    bothPaths("q113_inverted_index")
  }

  test("q126 BM25 top-k: one-task pass equals the broadcast-stats plan") {
    bothPaths("q126_bm25_topk")
  }

  test("q81 contamination: one-task pass equals the hash semi-join plan") {
    bothPaths("q81_contamination")
  }

  test("q114 boilerplate scrub: one-task pass equals the span-join plan") {
    bothPaths("q114_boilerplate_scrub")
  }

  // pins the distributed LSH tail (banded bucket join + star cap +
  // the r15 flat-term est_jaccard projection) against the one-task
  // banding kernel — the registry default at test scale never runs
  // the tail, so without this force the candidatesFromSignatures
  // expression path would be spec-dark
  test("q22 minhash LSH: one-task banding kernel equals the distributed tail") {
    bothPaths("q22_minhash_lsh")
  }

  test("q41 cluster unify: union-find task equals pointer jumping") {
    bothPaths("q41_cluster_unify")
  }

  test("q86 dedup survivors: one-task banding and union-find equal the distributed plans") {
    bothPaths("q86_dedup_survivors")
  }

  test("q163 entity resolution: union-find task equals pointer jumping") {
    bothPaths("q163_er_resolve")
  }

  test("q103 trained semdedup: one-task Lloyd loop equals the broadcast iterations") {
    bothPaths("q103_semdedup_trained")
  }

  test("q106 pagerank: one-task power iteration equals the Pregel loop") {
    bothPaths("q106_pagerank")
  }

  test("q115 triangle count: one-task CSR count equals the wedge join") {
    bothPaths("q115_triangle_count")
  }

  test("q180 perceptron: one-task rounds equal the per-round aggregates") {
    bothPaths("q180_perceptron")
  }

  // BpeTrain's local path is a driver-side merge loop over the collected
  // vocabulary, not a LocalExact task, so only the jobs check applies
  test("q102 BPE train: the in-memory merge loop equals the per-rank Spark loop") {
    bothPaths("q102_bpe_train", kernel = false)
  }
}
