package graft

import graft.queries.Registry
import graft.util.{Probe, SetConf}
import org.apache.spark.sql.functions.{col, count}

/** Pins `graft.util.Probe` to Bench's protocol: the same every-column
  * force, scratch released back to the kept-RDD snapshot after every
  * query, and a build/plan/exec split that adds up to the run. Runs
  * without `Tables.enableSessionCache()` (JVM-wide: it would leak the
  * cached scans into the plan-assertion specs). */
class ProbeSpec extends SparkSpec {
  private val queries = Seq("q01_pricing_summary", "q41_cluster_unify", "q92_streaming_drain")

  /** Bench.force, written out again: Σ count(c) over every output column. */
  private def benchForce(q: String): Long = {
    val df = Registry.byName(q).run(spark, sf001)
    df.select(df.columns.map(c => count(col(c))).reduce(_ + _)).collect()(0).getLong(0)
  }

  test("Probe.measure: Bench's force value, scratch released, phases add up") {
    val sc = spark.sparkContext
    // a query's scratch outlives it unless released: q41's checkpoints
    val before = sc.getPersistentRDDs.keySet.toSet
    benchForce("q41_cluster_unify")
    val scratch = sc.getPersistentRDDs.keySet.toSet -- before
    assert(scratch.nonEmpty, "q41 no longer leaves scratch; pick another query")
    scratch.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))

    val kept = spark.range(10).rdd.cache()
    kept.count()
    val probe = new Probe(spark)
    try {
      assert(probe.keep.contains(kept.id))
      val recs = queries.map { q =>
        val r = probe.measure(sf001, q)
        assert(r.error.isEmpty, s"$q failed: ${r.error}")
        assert(sc.getPersistentRDDs.keySet.toSet === probe.keep, s"$q left scratch behind")
        assert(r.value === benchForce(q), s"$q force value")
        sc.getPersistentRDDs.keySet.filterNot(probe.keep).foreach(
          id => sc.getPersistentRDDs(id).unpersist(blocking = true))
        assert(math.abs(r.buildS + r.planS + r.execS - r.totalS) < 1e-9, q)
        assert(r.buildS > 0 && r.planS > 0 && r.execS > 0, q)
        assert(r.jobs >= r.buildJobs && r.stages > 0 && r.tasks > 0, q)
        assert(r.plan.contains("AdaptiveSparkPlan isFinalPlan=true"), q)
        q -> r
      }.toMap
      // LocalExact's gating count runs while q41's DataFrame is built
      assert(recs("q41_cluster_unify").buildJobs >= 1)
      val stream = recs("q92_streaming_drain")
      assert(stream.batches.nonEmpty, "no micro-batch progress seen")
      assert(stream.batches.forall(_.durationMs.contains("triggerExecution")))
      assert(stream.batches.map(_.inputRows).sum > 0)
      assert(stream.json.startsWith("""{"query":"q92_streaming_drain","ok":true,"""))
      assert(stream.json.contains(""""batches":[{"batch":0,"""))
      assert(stream.compiles >= 0 && stream.compileMs.forall(_ >= 0) &&
        """"compiles":\d+,"compile_ms":(\d+|null),""".r.findFirstIn(stream.json).nonEmpty,
        "q92's record lacks its codegen fields")
      assert(recs("q01_pricing_summary").batches.isEmpty)
    } finally {
      probe.close()
      kept.unpersist(blocking = true)
    }
  }

  test("Probe.sweep: one record per query, each the faster of two timed runs") {
    val probe = new Probe(spark)
    try {
      val names = Seq("q01_pricing_summary", "q02_filter_project")
      val recs = probe.sweep(sf001, names)
      assert(recs.map(_.query) === names)
      assert(recs.forall(_.error.isEmpty))
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === probe.keep)
      val r = recs.head
      val (fast, slow) = (r.copy(totalS = 1.0), r.copy(totalS = 2.0))
      val failed = r.copy(totalS = 0.5, error = Some("boom"))
      assert(Probe.faster(slow, fast) === fast && Probe.faster(fast, slow) === fast)
      assert(Probe.faster(fast, failed) === failed && Probe.faster(failed, fast) === failed)
    } finally probe.close()
  }

  test("SetConf.parse: k=v pairs in order, the value may hold '='") {
    assert(SetConf.parse("a=1;b=x=y;junk;c=") === Seq("a" -> "1", "b" -> "x=y", "c" -> ""))
    assert(SetConf.parse("") === Seq())
  }
}
