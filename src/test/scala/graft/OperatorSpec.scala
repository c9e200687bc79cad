package graft

import graft.operators.{CdcDelta, MergeUpsert, Sessionize, SimilaritySearch}
import graft.functions.VectorFns
import org.apache.spark.sql.functions._

class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("merge upsert resolves insert/update/keep/delete") {
    val target = Seq(
      (1L, "active", "h1"), (2L, "active", "h2"), (3L, "active", "h3")
    ).toDF("k", "status", "hash")
    val batch = Seq(
      (2L, "active", "h2"),      // same hash → keep
      (3L, "active", "h3b"),     // changed → update
      (4L, "active", "h4")       // new → insert
    ).toDF("k", "status", "hash")
    val out = MergeUpsert(target, batch, Seq("k"), "hash")
      .select("k", "status", "merge_action").as[(Long, String, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ("deleted", "delete"))
    assert(out(2L) == ("active", "keep"))
    assert(out(3L) == ("active", "update"))
    assert(out(4L) == ("active", "insert"))
  }

  test("cdc delta honors tolerance and new keys") {
    val src = Seq(
      (1L, "u1", java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      (2L, "u2", java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      (3L, "u3", java.sql.Timestamp.valueOf("2024-01-01 00:10:00"))
    ).toDF("id", "user", "ts")
    val known = Seq(
      ("u1", java.sql.Timestamp.valueOf("2024-01-01 00:09:30")), // within 60s → unchanged
      ("u2", java.sql.Timestamp.valueOf("2024-01-01 00:05:00"))  // stale → updated
    ).toDF("user", "last_ts")
    val out = CdcDelta(src, known, Seq("user"), "ts", "last_ts", 60L)
      .select("id", "change_type").as[(Long, String)].collect().toMap
    assert(!out.contains(1L))
    assert(out(2L) == "updated")
    assert(out(3L) == "new")
  }

  test("sessionize splits on gap with deterministic ordering") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, 10L, t(0)), (2L, 10L, t(10)), (3L, 10L, t(50)), (4L, 11L, t(5))
    ).toDF("event_id", "user_id", "ts")
    val out = Sessionize(ev, "user_id", "ts", "event_id", 1200L)
      .select("user_id", "session_seq", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((10L, 1L, 2L), (10L, 2L, 1L), (11L, 1L, 1L)))
  }

  test("as-of join picks latest right row at or before, null when none") {
    import graft.operators.AsOfJoin
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val left = Seq((1L, "u1", t(10)), (2L, "u1", t(30)), (3L, "u2", t(5)))
      .toDF("event_id", "user", "ts")
    val right = Seq((100L, "u1", t(10)), (101L, "u1", t(20)), (102L, "u2", t(6)))
      .toDF("rid", "user", "rts")
    val out = AsOfJoin(left, right, "user", "ts", "rts", Seq("rid"), "rid")
      .select("event_id", "r_rid").as[(Long, Option[Long])].collect().toMap
    assert(out(1L).contains(100L)) // equal ts counts ("at or before")
    assert(out(2L).contains(101L)) // most recent earlier
    assert(out(3L).isEmpty)        // right row is in the future
  }

  test("halfUpLong matches BigDecimal HALF_UP on boundaries and negatives") {
    val cases = Seq(2.5, -2.5, 0.5, -0.5, 2.4999999999999996, -2.4999999999999996,
      1e10 + 0.5, -(1e10 + 0.5), 0.49999999999999994, 123456789.5, 0.0, -0.0,
      7.499999999999999, 7.500000000000001)
    cases.foreach { x =>
      val expected = new java.math.BigDecimal(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      assert(graft.functions.VectorKernels.halfUpLong(x) == expected,
        s"halfUpLong($x)")
    }
  }

  test("codegen dot kernel equals the higher-order formulation") {
    val df = Seq((Array(0.1f, -0.25f, 3.75f), Array(-1.5f, 0.5f, 2.25f)))
      .toDF("a", "b")
    val kernel = df.select(VectorFns.dotScaled(col("a"), col("b"))).head().getLong(0)
    val hof = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) =>
        round(x.cast("double") * y.cast("double") * lit(1e10), 0).cast("long")),
      lit(0L), (acc, e) => acc + e)).head().getLong(0)
    assert(kernel == hof)
  }

  test("cosine of identical unit vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 1f))
    ).toDF("a", "b").select(VectorFns.cosine(col("a"), col("b")).as("c"))
    val cs = df.collect().map(_.getDouble(0))
    assert(math.abs(cs(0) - 1.0) < 1e-9 && math.abs(cs(1)) < 1e-9)
  }

  test("brute-force topk ranks by cosine desc with id tiebreak") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(1f, 0.01f, 0f))
    ).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0).select(
      col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val out = SimilaritySearch.bruteForceTopK(
      q, vecs.withColumnRenamed("vec_id", "n_id"), "q_id", "q_vec", "n_id", "embedding", 2)
      .select("n_id", "rnk").as[(Long, Int)].collect().toMap
    assert(out.keySet == Set(3L, 1L) && out(3L) == 1)
  }

  test("semantic dedup keeps the min-id representative within a cell") {
    // two well-separated cells; ids 0/1/2 near-parallel (cell x-axis),
    // id 3 orthogonal-ish in the same cell, ids 10/11 the y-axis cell
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.99f, 0.01f, 0f)),
      (2L, Array(0.98f, 0f, 0.02f)), (3L, Array(0.6f, 0f, 0.8f)),
      (10L, Array(0f, 1f, 0f)), (11L, Array(0.01f, 0.99f, 0f))
    ).toDF("vec_id", "embedding")
    val centroids = Seq(
      (100L, Array(1f, 0f, 0f)), (200L, Array(0f, 1f, 0f))
    ).toDF("cell_id", "cell_vec")
    val out = graft.operators.SemanticDedup(
      vecs, "vec_id", "embedding", centroids, threshold = 0.95)
      .select("id", "cell_id", "kept").as[(Long, Long, Int)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    // cells assigned by nearest centroid
    assert(Seq(0L, 1L, 2L, 3L).forall(out(_)._1 == 100L))
    assert(Seq(10L, 11L).forall(out(_)._1 == 200L))
    // 0 survives as min id; 1 and 2 are its near-dups; 3 is far from
    // the x-axis group (cos ≈ 0.6) and survives; 10 keeps, 11 drops
    assert(out(0L)._2 == 1 && out(1L)._2 == 0 && out(2L)._2 == 0)
    assert(out(3L)._2 == 1)
    assert(out(10L)._2 == 1 && out(11L)._2 == 0)

    // partition invariance: the exact scaled-long arithmetic + min-id
    // rule must give identical kept sets however the input is split
    val repart = graft.operators.SemanticDedup(
      vecs.repartition(7), "vec_id", "embedding", centroids, threshold = 0.95)
      .select("id", "cell_id", "kept").as[(Long, Long, Int)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(repart == out)
  }

  test("semantic dedup fails loudly when a cell exceeds the star-cap") {
    val vecs = (0L until 8L).map(i => (i, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val centroids = Seq((100L, Array(1f, 0f))).toDF("cell_id", "cell_vec")
    val e = intercept[IllegalStateException] {
      graft.operators.SemanticDedup(vecs, "vec_id", "embedding",
        centroids, threshold = 0.95, maxCell = 5)
    }
    assert(e.getMessage.contains("maxCell"))
    // capped best-effort mode still runs
    val out = graft.operators.SemanticDedup(vecs, "vec_id", "embedding",
      centroids, threshold = 0.95, maxCell = 5, strictCap = false)
    assert(out.count() == 8)
  }

  test("kmeans trainer converges to the obvious centroids on separated blobs") {
    import graft.operators.KMeansTrain
    // ids 0,1 seed the two clusters (min-id init); members sit
    // symmetrically so the converged centroid is the blob mean
    val vecs = Seq(
      (0L, Array(1f, 0f)), (2L, Array(3f, 0f)),
      (1L, Array(0f, 1f)), (3L, Array(0f, 3f))
    ).toDF("vec_id", "embedding")
    val cents = KMeansTrain.train(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Seq[Double])].collect().toMap
    assert(cents(0L) == Seq(2.0, 0.0) && cents(1L) == Seq(0.0, 2.0))

    // partition invariance: scaled-long sums and fixed division order
    val repart = KMeansTrain.train(
      vecs.repartition(5), "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Seq[Double])].collect().toMap
    assert(repart == cents)
  }

  test("kmeans trainer keeps an empty cluster's previous centroid") {
    import graft.operators.KMeansTrain
    // both seeds are the identical vector: the (distance, cell_id)
    // tie-break routes EVERY point to centroid 0, so cluster 1 is
    // empty from the first iteration and must keep its previous
    // centroid rather than NULL out
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)), (2L, Array(1f, 0f))
    ).toDF("vec_id", "embedding")
    val cents = KMeansTrain.train(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .as[(Long, Seq[Double])].collect().toMap
    assert(cents.size == 2)
    assert(cents(0L) == Seq(1.0, 0.0) && cents(1L) == Seq(1.0, 0.0))
  }

  test("kmeans local single-task path is bit-equal to the distributed loop") {
    import graft.operators.KMeansTrain
    // irregular blobs with non-trivial means (rounding to 6 decimals
    // must agree bit-for-bit), plus a tie-broken point equidistant to
    // both seeds
    val vecs = Seq(
      (0L, Array(1f, 0.1f)), (1L, Array(0f, 1.7f)), (2L, Array(2.9f, 0.3f)),
      (3L, Array(0.2f, 3.3f)), (4L, Array(0.5f, 0.9f)), (5L, Array(1.1f, 1.1f))
    ).toDF("vec_id", "embedding")
    def run() = KMeansTrain.train(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Seq[Double])].collect().toMap
    val local = run()
    val dist = forcedDistributed(run())
    assert(local == dist, s"local $local != distributed $dist")
  }

  test("mixed float/double dot kernel equals the all-double computation") {
    val df = Seq((Array(0.1f, -0.25f, 3.75f), Array(-1.523456, 0.5, 2.25)))
      .toDF("a", "b")
    val kernel = df.select(VectorFns.dotScaled(col("a"), col("b"))).head().getLong(0)
    val hof = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) =>
        round(x.cast("double") * y.cast("double") * lit(1e10), 0).cast("long")),
      lit(0L), (acc, e) => acc + e)).head().getLong(0)
    assert(kernel == hof)
  }

  test("bigram LM scores match hand-computed smoothed probabilities") {
    // corpus "aab","ab": grams aa→1 ab→2; context a→3; V=1
    // p(aa)=(1+1)/(3+1)=0.5→5e11 (floor-log2 38, surprisal 2)
    // p(ab)=(2+1)/(3+1)=0.75→7.5e11 (floor-log2 39, surprisal 1)
    val docs = Seq((1L, "aab"), (2L, "ab"), (3L, ""), (4L, "z"))
      .toDF("doc_id", "text")
    val out = graft.operators.NgramLm.selfScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1d else r.getDouble(3))).toMap
    assert(out(1L) == ((2L, 625000000000L, 1.5))) // mean(5e11,7.5e11), mean(2,1)
    assert(out(2L) == ((1L, 750000000000L, 1.0)))
    // empty and single-char docs surface with zero bigrams, not dropped
    assert(out(3L) == ((0L, -1L, -1d)))
    assert(out(4L) == ((0L, -1L, -1d)))
  }

  test("dsir select ranks target-like docs first, caps at k, partition-invariant") {
    import org.apache.spark.sql.functions.col
    // target grams are all "aa"; source grams all "bb". The held-out
    // docs 10 ("aaa") and 11 ("bbb") must rank target-like/-unlike.
    val docs = Seq(
      (1L, "aaaaaa", "en"), (2L, "aaaa", "en"),
      (3L, "bbbbbb", "xx"), (4L, "bbbb", "xx"),
      (10L, "aaa", "xx"), (11L, "bbb", "en"), (12L, "", "en"))
      .toDF("doc_id", "text", "lang")
    val out = graft.operators.DsirSelect
      .select(docs, "doc_id", "text", col("lang") === "en", 64, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 3) // k caps; doc 12 has no bigrams, unselectable
    val byW = out.sortBy(t => (-t._3, t._1)).map(_._1)
    // "aa"-heavy docs carry the positive weight; "bbb" must not appear
    assert(byW.toSet.subsetOf(Set(1L, 2L, 10L)))
    assert(!out.map(_._1).contains(11L))
    val repart = graft.operators.DsirSelect
      .select(docs.repartition(7), "doc_id", "text", col("lang") === "en", 64, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(repart == out.toSet)
  }

  test("widen adds no shuffle to an already-wide input") {
    // the 100-TB contract: widen only repairs a partition DEFICIT
    // (small single-file scans); a corpus already at or above the
    // session's parallelism must pass through exchange-free
    val target = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, target).toDF("doc_id")
    assert(graft.operators.NgramLm.widen(wide)
      .queryExecution.executedPlan.toString.linesIterator
      .count(_.contains("Exchange")) == 0)
    val narrow = spark.range(0, 1000, 1, 1).toDF("doc_id")
    val widened = graft.operators.NgramLm.widen(narrow)
    assert(widened.rdd.getNumPartitions == target)
  }

  test("pagerank conserves mass, ranks hubs above leaves, partition-invariant") {
    // star: hub 0 ↔ leaves 1..4 (symmetrized)
    val star = (1L to 4L).flatMap(l => Seq(("a", 0L, "a", l), ("a", l, "a", 0L)))
      .toDF("srcType", "srcKey", "dstType", "dstKey")
    val scores = graft.operators.PageRank(star, iters = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // integer floor-division loses at most a few units per node/step
    assert(math.abs(scores.values.sum - 1000000000000L) < 1000L)
    val hub = scores(0L)
    (1L to 4L).foreach(l => assert(hub > scores(l)))
    assert((1L to 4L).map(scores).distinct.size == 1) // symmetric leaves tie
    // two symmetric nodes end equal regardless of input partitioning
    val pair = Seq(("a", 10L, "a", 20L), ("a", 20L, "a", 10L))
      .toDF("srcType", "srcKey", "dstType", "dstKey")
    Seq(1, 7).foreach { p =>
      val s = graft.operators.PageRank(pair.repartition(p), iters = 3)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
      assert(s(10L) == s(20L))
      assert(math.abs(s.values.sum - 1000000000000L) < 1000L)
    }
  }

  test("triangle count local path equals the distributed wedge join") {
    // K4 on {1,2,3,4} (every node in C(3,2)=3 triangles), a pendant
    // 4-5 edge (no triangle), and a separate triangle {6,7,8}
    val e = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L), (6L, 8L), (7L, 8L))).toDF("u", "v")
    def run() = graft.operators.TriangleCount.perNode(e)
      .as[(Long, Long)].collect().toMap
    val expect = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      6L -> 1L, 7L -> 1L, 8L -> 1L)
    assert(run() == expect, "local path")
    assert(forcedDistributed(run()) == expect, "distributed path")
  }

  test("pagerank local single-task path is bit-equal to the distributed loop") {
    // asymmetric bipartite-ish graph with a src-only node (30 never a
    // dst: it must DROP OUT of the state after iteration 1 on both
    // paths), a SINK destination (99 never a src: the distributed
    // eAug dst-degree inner join drops its incoming edge, so it must
    // never appear in the output and must not siphon contributions)
    // and unequal outdegrees
    val edges = Seq(
      ("c", 1L, "s", 10L), ("c", 1L, "s", 20L), ("c", 2L, "s", 10L),
      ("s", 10L, "c", 1L), ("s", 20L, "c", 2L), ("c", 30L, "s", 10L),
      ("c", 2L, "s", 99L))
      .toDF("srcType", "srcKey", "dstType", "dstKey")
    def runPath(): Map[(String, Long), Long] =
      graft.operators.PageRank(edges, iters = 4)
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val local = runPath()
    val dist = forcedDistributed(runPath())
    assert(local == dist, s"local $local != distributed $dist")
    assert(!local.contains(("c", 30L))) // src-only node dropped out
    assert(!local.contains(("s", 99L))) // sink dest never enters state
  }

  test("batch perceptron matches the in-memory reference, learns a separable set, partition-invariant") {
    // two docs per class over 3 buckets (bucket 2 = bias); class +1
    // leans on bucket 0, class −1 on bucket 1 — linearly separable
    val feats = Seq(
      (1L, 1L, 0L, 3L), (1L, 1L, 2L, 1L),
      (2L, 1L, 0L, 2L), (2L, 1L, 1L, 1L), (2L, 1L, 2L, 1L),
      (3L, -1L, 1L, 3L), (3L, -1L, 2L, 1L),
      (4L, -1L, 1L, 2L), (4L, -1L, 0L, 1L), (4L, -1L, 2L, 1L)
    ).toDF("doc_id", "y", "b", "x")
    // in-memory replay of the exact batch update rule
    def reference(iters: Int): Map[Long, Long] = {
      val rows = Seq(
        (1L, 1L, Map(0L -> 3L, 2L -> 1L)),
        (2L, 1L, Map(0L -> 2L, 1L -> 1L, 2L -> 1L)),
        (3L, -1L, Map(1L -> 3L, 2L -> 1L)),
        (4L, -1L, Map(1L -> 2L, 0L -> 1L, 2L -> 1L)))
      var w = Map(0L -> 0L, 1L -> 0L, 2L -> 0L)
      for (_ <- 1 to iters) {
        val miss = rows.filter { case (_, y, x) =>
          y * x.map { case (b, v) => w(b) * v }.sum <= 0 }
        val upd = miss.flatMap { case (_, y, x) => x.map { case (b, v) => b -> y * v } }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        w = w.map { case (b, v) => b -> (v + upd.getOrElse(b, 0L)) }
      }
      w
    }
    Seq(1, 3).foreach { iters =>
      val got = graft.operators.Perceptron.train(feats, nBuckets = 2, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == reference(iters), s"iters=$iters")
    }
    // after training, the learned weights separate the toy set
    val w3 = reference(3)
    assert(w3(0L) > 0 && w3(1L) < 0)
    // partition invariance: the update is a sum of longs, so weights
    // cannot depend on how the feature table is split
    Seq(1, 7).foreach { p =>
      val got = graft.operators.Perceptron
        .train(feats.repartition(p), nBuckets = 2, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == reference(3))
    }
    // the distributed per-round aggregate (forced via the conf) must
    // agree with the local single-task path and the reference
    val dist = forcedDistributed(graft.operators.Perceptron
      .train(feats, nBuckets = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(dist == reference(3), "distributed path")
  }
}
