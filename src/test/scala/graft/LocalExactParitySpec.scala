package graft

import org.apache.spark.graftprobe.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Pins the LocalExact hybrid queries' two paths equal: the
  * single-task sequential pass (default at test scale) must produce
  * the exact rows of the distributed plan (forced via the
  * spark.graft.localExactMaxRows=0 override). The forced run must also
  * launch more Spark jobs than the default one, so a case cannot pass
  * because the override never reached the operator. Runs on the
  * sf0.001 testdata when present.
  */
class LocalExactParitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def available: Boolean = new java.io.File(dir).isDirectory

  /** The rows of `name`'s result and the Spark jobs started while it
    * was built and collected, counted after a listener-bus drain. */
  private def rowsAndJobs(name: String): (Seq[String], Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bus.drain(sc)
    sc.addSparkListener(l)
    try {
      val rows = graft.queries.Registry.byName(name).run(spark, dir)
        .collect().map(_.toString).toSeq
      Bus.drain(sc)
      (rows, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private def bothPaths(name: String): Unit = {
    assume(available, s"$dir not present")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val (local, localJobs) = rowsAndJobs(name)
    val (dist, distJobs) = forcedDistributed(rowsAndJobs(name))
    assert(local == dist, s"$name: local path != distributed path")
    assert(local.nonEmpty, s"$name returned no rows")
    assert(distJobs > localJobs, s"$name: the forced run launched $distJobs " +
      s"jobs, the default run $localJobs — the override did not change the path")
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

  test("q102 BPE train: the in-memory merge loop equals the per-rank Spark loop") {
    bothPaths("q102_bpe_train")
  }
}
