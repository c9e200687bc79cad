package graft

import graft.operators.SetGroups
import org.apache.spark.sql.functions._

/** Pins for the round-14 identical-set group collapse in the
  * DISTRIBUTED prefix-filter family (q133/q143/q165). The sf0.001/
  * sf0.01 corpora are duplicate-free, so the standing
  * LocalExactParitySpec pins never engage the collapse — these do,
  * on a replicated-documents fixture (the adversarial case the 30×
  * sweep hit: dup² candidate pairs spilled ~78 GB on q133 before the
  * collapse). Parity target is the one-task LocalExact kernel, which
  * is oracle-pinned and duplication-insensitive.
  */
class SetGroupsSpec extends SparkSpec {

  test("collapse gate: duplicate-free frame returns None") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, Array(10L, 20L), 2L),
      (2L, Array(10L, 30L), 2L),
      (3L, Array(40L), 1L)).toDF("doc_id", "arr", "sz")
    assert(SetGroups.collapse(docs, "doc_id", Seq("arr", "sz"), 1000).isEmpty)
  }

  test("collapse: min-id reps, full membership, key columns preserved") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (5L, Array(10L, 20L), 2L), (3L, Array(10L, 20L), 2L),
      (9L, Array(10L, 20L), 2L),                       // g{3,5,9}
      (7L, Array(10L, 30L), 2L),                       // singleton
      (2L, Array.empty[Long], 0L), (8L, Array.empty[Long], 0L)) // empty g
      .toDF("doc_id", "arr", "sz")
    // 3 duplicate extras sit below the r14 default threshold
    // (SetGroups.collapse) — force the machinery on for the pin
    spark.conf.set("spark.graft.dupCollapseMinExtras", "1")
    val Some(g) =
      try SetGroups.collapse(docs, "doc_id", Seq("arr", "sz"), 1000)
      finally spark.conf.unset("spark.graft.dupCollapseMinExtras")
    val (reps, mem) = (g.reps, g.members)
    val repRows = reps.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq, r.getLong(2))).toSet
    assert(repRows == Set((3L, Seq(10L, 20L), 2L), (7L, Seq(10L, 30L), 2L),
      (2L, Seq(), 0L)))
    val memRows = mem.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(memRows == Set((3L, 3L), (3L, 5L), (3L, 9L), (7L, 7L),
      (2L, 2L), (2L, 8L)))
  }

  // ---- query-level parity on a mass-duplicate corpus ----

  private lazy val dupDir: String = {
    val out = java.nio.file.Files
      .createTempDirectory("setgroups_fixture").toString
    // 5× replicated documents: every text appears five times under
    // distinct doc_ids — countDistinct(arr) < count, so the collapse
    // engages on the forced-distributed path
    graft.util.ScaleTrial.replicate(spark, sf001, out,
      replicas = 5, tables = Seq("documents"))
    out
  }

  private def bothPaths(name: String): Unit = {
    assume(new java.io.File(sf001).isDirectory, s"$sf001 not present")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val q = graft.queries.Registry.byName(name)
    val local = q.run(spark, dupDir).collect().map(_.toString).toSeq
    val collapsed = forcedDistributed(q.run(spark, dupDir).collect().map(_.toString).toSeq)
    assert(local == collapsed,
      s"$name: collapsed distributed plan != one-task exact kernel")
    assert(local.nonEmpty, s"$name returned no rows on the dup fixture")
  }

  test("q133 all-pairs: collapsed Bayardo join equals exact kernel at 5× dup") {
    bothPaths("q133_allpairs_jaccard")
  }

  test("q143 containment: collapsed directed join equals exact kernel at 5× dup") {
    bothPaths("q143_containment_join")
  }

  test("q165 incremental: collapsed oriented join equals exact kernel at 5× dup") {
    bothPaths("q165_incremental_dedup")
  }

  // ---- minhash-family collapse (round-14 extension of the same
  // pattern into Dedup.minhashCandidates/lshVerified): analytic
  // oracle computed from the pinned signature primitives only —
  // banding, collapse, fan-out, and within-group emission are all
  // independently re-derived here ----

  test("minhash collapse: duplicated corpus equals the analytic banded-pair set") {
    import graft.operators.Dedup
    val s = spark; import s.implicits._
    // long texts differing only in the LAST word: 3 of ~38 shingles
    // change, so most of the 16 min-hashes — and with high probability
    // at least one 4-row band — survive intact (the sanity assert
    // below pins that the fixture actually exercises cross-group
    // fan-out; if a hash-param change ever breaks the collision,
    // lengthen the shared prefix)
    val stem = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen " +
      "nineteen twenty alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma tau "
    val a = stem + "dog"
    val b = stem + "cat"
    val c = "a completely unrelated document about catalyst physical planning"
    val docs = Seq(
      1L -> a, 2L -> a, 3L -> a,      // group A ×3
      10L -> b, 11L -> b,             // group B ×2 (near-dup of A)
      30L -> c,                       // singleton
      40L -> "", 41L -> " ")          // empty-shingle group ×2
      .toDF("doc_id", "text")
    // independent expectation: per-doc 16-slot signature from the
    // public primitives, then all pairs sharing >= 1 of 4 bands
    val sigCols = Dedup.hashParams(16).zipWithIndex.map { case ((p, q), i) =>
      org.apache.spark.sql.functions.min(
        (col("hv") * p + q) % Dedup.HashPrime).as(s"_s$i")
    }
    val sigs = docs
      .select(col("doc_id"), explode(graft.functions.TextFns
        .shingles(col("text"), 3)).as("_sh"))
      .select(col("doc_id"), Dedup.md5Int32(col("_sh")).as("hv"))
      .groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toArray).toMap
    val expected = (for {
      x <- sigs.keys; y <- sigs.keys if x < y
      if (0 until 4).exists(bd => sigs(x).slice(bd * 4, bd * 4 + 4)
        .sameElements(sigs(y).slice(bd * 4, bd * 4 + 4)))
    } yield (x, y,
      sigs(x).zip(sigs(y)).count { case (u, v) => u == v } / 16.0)).toSet
    // fixture sanity: within-group pairs present, empty docs absent,
    // and the A×B cross-group fan-out actually collides in a band
    assert(expected((1L, 2L, 1.0)) && expected((10L, 11L, 1.0)))
    assert(expected.exists(p => p._1 <= 3L && p._2 >= 10L && p._2 <= 11L),
      "fixture lost its A-B band collision — adjust texts")
    assert(!expected.exists(p => p._1 >= 40L || p._2 >= 40L))
    // default threshold: 4 duplicate extras < maxBucket/2, so the
    // collapse stays OFF and the uncollapsed plan must already equal
    // the analytic set (both plans are exact below the cap)
    val gotDefault = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotDefault == expected,
      s"missing=${expected -- gotDefault} extra=${gotDefault -- expected}")
    // forced collapse (the machinery pin): identical output
    spark.conf.set("spark.graft.dupCollapseMinExtras", "1")
    try {
      val got = Dedup.minhashCandidates(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected,
        s"missing=${expected -- got} extra=${got -- expected}")
      // and the verified composition agrees on the same pair set with
      // exact within-group jaccard 1.0
      val ver = Dedup.lshVerified(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(ver == expected.map(p => (p._1, p._2)))
      val j = Dedup.lshVerified(docs, "doc_id", "text")
        .filter(col("id_a") === 1L && col("id_b") === 2L)
        .select(col("jaccard")).head().getDouble(0)
      assert(j == 1.0)
    } finally spark.conf.unset("spark.graft.dupCollapseMinExtras")
  }
}
