package graft

import graft.operators.{Dedup, EmbeddingDedup}
import org.apache.spark.sql.functions._

/** Skew-guard stress: thousands of IDENTICAL documents/vectors land in
  * one LSH bucket; without the cap the self-join emits O(n²) pairs
  * (≈12.5M for 5k dups). With the star fallback the candidate count
  * stays linear and every duplicate still pairs with the hub.
  */
class DedupSkewSpec extends SparkSpec {
  import spark.implicits._

  test("codegen shingle-hash kernel equals the composed md5 column form") {
    import graft.functions.{ShingleHashes, TextFns}
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "  spaced   out\ttokens \n and more  ",
      "\tleading tab then words here",  // Spark trim strips ONLY 0x20
      "trailing newline after words\n", // → edge \t/\n must match too
      "short one",            // < n tokens → empty
      "",                     // empty → empty
      "   ",                  // space-only → empty
      "\t\n ",                // non-0x20 whitespace only → empty
      "Cañón José über naïve façade résumé test").toDF("text")
    val viaKernel = docs.select(ShingleHashes(col("text"), 3).as("h"))
      .collect().map(_.getSeq[Long](0))
    val viaColumns = docs.select(
      transform(TextFns.shingles(col("text"), 3),
        s => graft.operators.Dedup.md5Int32(s)).as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(viaKernel.toSeq == viaColumns.toSeq)
    assert(viaKernel(0).nonEmpty && viaKernel(4).isEmpty && viaKernel(5).isEmpty)
    assert(viaKernel(6).isEmpty && viaKernel(7).isEmpty)
  }

  test("tokenization contract: no empty tokens from any whitespace shape") {
    import graft.functions.TextFns
    val docs = Seq("", "   ", "\t\n ", "\ta b\n", " x ").toDF("text")
    // composed form and kernel agree, and neither ever emits ""
    val composed = docs.select(TextFns.tokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(composed.toSeq == Seq(Nil, Nil, Nil, Seq("a", "b"), Seq("x")))
    val viaKernel = Seq("", "   ", "\t\n ", "\ta b\n", " x ")
      .map(s => graft.functions.Md5Kernel.tokenize(s).toSeq)
    assert(viaKernel == composed.map(_.toSeq).toSeq)
  }

  private val nDup = 5000
  private def hotBucketDocs =
    ((0 until nDup).map(i => (i.toLong, "the same exact duplicated text body repeated verbatim")) ++
      Seq((90001L, "a completely different document about spark physical planning"),
          (90002L, "a completely different document about spark physical planning"),
          (90003L, "yet another unique text body mentioning catalyst optimizer internals")))
      .toDF("doc_id", "text")

  test("minhash hot bucket emits linear star pairs, not quadratic") {
    val pairs = Dedup.minhashCandidates(hotBucketDocs, "doc_id", "text", maxBucket = 100)
      .cache()
    val n = pairs.count()
    // star shape: nDup-1 hub pairs for the dup cluster + 1 cold pair
    assert(n.toInt == (nDup - 1) + 1, s"expected linear pair count, got $n")
    // every duplicate is paired with the hub (min id 0) at est 1.0
    val hubPairs = pairs.filter(col("id_a") === 0L && col("est_jaccard") === 1.0).count()
    assert(hubPairs.toInt == nDup - 1)
    // the small identical pair (90001, 90002) survives the cold path
    assert(pairs.filter(col("id_a") === 90001L && col("id_b") === 90002L).count() == 1)
    pairs.unpersist()
  }

  test("minhash with a String id (the distributed fall-through) pairs as with the Long id") {
    // a non-Long id skips the one-task kernel; its pairs, as unordered
    // numeric id pairs, must be the Long run's
    def pairs(docs: org.apache.spark.sql.DataFrame) =
      Dedup.minhashCandidates(docs, "doc_id", "text", maxBucket = 100).collect().map { r =>
        val (a, b) = (r.get(0).toString.toLong, r.get(1).toString.toLong)
        (math.min(a, b), math.max(a, b), r.getDouble(2))
      }.toSet
    val byLong = pairs(hotBucketDocs)
    val byString = pairs(hotBucketDocs.withColumn("doc_id", col("doc_id").cast("string")))
    assert(byLong.size == nDup)
    assert(byString == byLong, s"missing=${(byLong -- byString).take(5)} extra=${(byString -- byLong).take(5)}")
  }

  test("wide-simhash kernel equals the composed per-bit md5-vote column form") {
    import graft.functions.{SimHashWide, TextFns}
    import org.apache.spark.sql.types.LongType
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "  spaced   out\ttokens \n and more  ",
      "\tleading tab then words here",
      "trailing newline after words\n",
      "single",
      "",                     // empty → fingerprint 0
      "\t\n ",                // whitespace-only → fingerprint 0
      "Cañón José über naïve façade résumé test").toDF("text")
    val viaKernel = docs.select(SimHashWide(col("text")).as("sh"))
      .collect().map(_.getLong(0))
    // independent composed form: one 60-bit md5 hash per token, bit b
    // of the fingerprint = sign of the bit-b vote sum
    val composed = (0 until 60).map { b =>
      val vote = aggregate(TextFns.tokens(col("text")), lit(0L), (acc, t) => {
        val h = conv(substring(md5(t), 1, 15), 16, 10).cast(LongType)
        acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)
      })
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val viaColumns = docs.select(composed.as("sh")).collect().map(_.getLong(0))
    assert(viaKernel.toSeq == viaColumns.toSeq)
    assert(viaKernel(5) == 0L && viaKernel(6) == 0L && viaKernel(0) != 0L)
  }

  test("wide-simhash pairs: exact dups pair at hamming 0, unrelated docs don't pair") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "completely unrelated prose concerning distributed shuffle exchanges and columnar parquet readers"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsWide(docs, "doc_id", "text").collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getInt(2) == 0)
  }

  test("wide-simhash group collapse: duplicate groups under the cap expand EXACTLY") {
    // 3 near-dup text variants × 3 exact copies each + 1 unrelated doc:
    // the replicated-corpus shape where the r12 member-level banding
    // pushed buckets toward the cap. Expected = brute force over the
    // per-doc fingerprints (every pair within hamming 3 — the band
    // pigeonhole has perfect recall at the rep level, and groups of 3
    // are far under the cap, so the collapse must reproduce the full
    // exact answer including all duplicate-internal pairs).
    val variants = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda",
      "alpha beta gamma delta epsilon zeta EXTRA theta iota kappa")
    val docs = (for {
      (t, vi) <- variants.zipWithIndex
      copy <- 0 until 3
    } yield ((vi * 10 + copy).toLong, t))
      .:+((900L, "completely unrelated prose concerning distributed shuffle exchanges"))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
        graft.functions.SimHashWide(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (a, sa) <- fps; (b, sb) <- fps
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    // duplicate-internal pairs must be present; cross-group distances
    // depend on token votes, so the controlled cross-group fan-out
    // cases live in DedupCollapseSpec's direct fingerprint tests
    assert(expected.exists(_._3 == 0),
      "fixture must exercise duplicate-internal pairs")
    // force the collapse on (6 duplicate extras sit below the r14
    // maxBucket/2 default threshold, where the uncollapsed plan is
    // equally exact — this pin targets the collapse machinery)
    spark.conf.set("spark.graft.dupCollapseMinExtras", "1")
    val got =
      try Dedup.simhashPairsWide(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      finally spark.conf.unset("spark.graft.dupCollapseMinExtras")
    assert(got == expected,
      s"collapsed expansion diverged from brute force: missing=" +
        s"${expected -- got} extra=${got -- expected}")
    // default threshold path (collapse off at 6 extras) must agree
    val gotDefault = Dedup.simhashPairsWide(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotDefault == expected)
  }

  test("embedding group collapse: duplicate vectors under the cap expand EXACTLY") {
    // all vectors project positive on every plane (one bucket), so the
    // expected answer is plain brute-force cosine over all pairs —
    // duplicates included. 3 copies × 3 distinct vectors; threshold
    // set so cross-group pairs both pass and fail.
    val vs = Seq(
      Array(1.0f, 0.8f, 0.6f, 0.4f),
      Array(0.9f, 0.9f, 0.5f, 0.5f),
      Array(0.2f, 0.3f, 0.9f, 1.0f))
    val rows = (for {
      (v, vi) <- vs.zipWithIndex
      copy <- 0 until 3
    } yield ((vi * 10 + copy).toLong, v)) ++
      // two identical zero vectors: brute force's 0/0 cosine is NaN and
      // never passes, so a collapsed group of them must emit no pair
      Seq(90L, 91L).map(_ -> Array.fill(4)(0f))
    val vecs = rows.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    }
    val thr = 0.9
    val expected = (for {
      (a, va) <- rows; (b, vb) <- rows
      if a < b && cos(va, vb) >= thr + 1e-9 // scaled-long quantization margin
    } yield (a, b)).toSet
    assert(expected.exists { case (a, b) => a / 10 == b / 10 } &&
      expected.exists { case (a, b) => a / 10 != b / 10 } &&
      !expected.exists { case (a, b) => a / 10 == 0 && b / 10 == 2 } &&
      !expected.exists { case (a, b) => a >= 90 || b >= 90 },
      "fixture must have internal pairs, a passing cross pair, and a failing cross pair")
    // force the collapse on (7 extras < the maxBucket/2 default)
    spark.conf.set("spark.graft.dupCollapseMinExtras", "1")
    val got =
      try EmbeddingDedup(vecs, "vec_id", "embedding",
        nPlanes = 2, threshold = thr, maxBucket = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("spark.graft.dupCollapseMinExtras")
    assert(got == expected,
      s"collapsed expansion diverged: missing=${expected -- got} extra=${got -- expected}")
    // default threshold path (collapse off at 7 extras) must agree
    val gotDefault = EmbeddingDedup(vecs, "vec_id", "embedding",
      nPlanes = 2, threshold = thr, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotDefault == expected)
  }

  test("wide-simhash hot bucket emits linear star pairs, not quadratic") {
    val nDup = 3000
    val docs = ((0 until nDup).map(i => (i.toLong, "the same exact duplicated text body repeated verbatim")) ++
      Seq((90001L, "a completely different document about spark physical planning")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsWide(docs, "doc_id", "text", maxBucket = 100).cache()
    // star shape: nDup-1 hub pairs, all at hamming 0; the singleton
    // unrelated doc pairs with nothing
    assert(pairs.count().toInt == nDup - 1)
    assert(pairs.filter(col("id_a") === 0L && col("hamming") === 0).count().toInt == nDup - 1)
    pairs.unpersist()
  }

  test("winnowing kernel equals the composed explode/window-min column form") {
    import graft.functions.WinnowFingerprint
    import org.apache.spark.sql.expressions.Window
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps on running"),
      (2L, "  padded   with spaces and\ttabs\nand newlines inside the body  "),
      (3L, "short"),                       // < k chars → no fingerprints
      (4L, "exactly11ch"),                 // k+w-1 = 11 chars → 1 window
      (5L, "Cañón José über naïve façade résumé and more unicode content here"))
      .toDF("doc_id", "text")
    val viaKernel = docs
      .select(col("doc_id"), WinnowFingerprint(col("text"), 8, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composed = docs
      .select(col("doc_id"), trim(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), length(col("t")) - 6)).as("p"))
      .select(col("doc_id"), col("p"),
        expr("cast(conv(substr(md5(substr(t, p, 8)), 1, 8), 16, 10) as bigint)").as("hv"))
      .withColumn("fp", min(col("hv")).over(Window.partitionBy(col("doc_id"))
        .orderBy(col("p")).rowsBetween(-3, 0)))
      .filter(col("p") >= 4)
      .select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("fp"))).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for (id <- Seq(1L, 2L, 4L, 5L))
      assert(viaKernel(id) == composed(id), s"doc $id")
    assert(viaKernel(3L).isEmpty && !composed.contains(3L))
    assert(viaKernel(4L).length == 1)
  }

  test("winnowing pairs find a shared >=11-char substring, skip unrelated docs") {
    val shared = "a distinctive shared passage that is plenty long enough"
    val docs = Seq(
      (1L, s"first document begins here. $shared. and then diverges completely xyzzy"),
      (2L, s"second one opens differently! $shared! closing words are not alike qwerty"),
      (3L, "totally disjoint content with zero overlap in any eleven character run"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.winnowingPairs(
      docs, "doc_id", "text", minShared = 1).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("winnowing drops over-common fingerprints before the pair join (maxDf guard)") {
    // 500 byte-identical documents — the boilerplate-flood hot key:
    // every fingerprint has df=500 > maxDf, so ALL are dropped and the
    // inverted-index join emits ZERO pairs instead of ~125k. (Exact
    // duplicates are exact-dedup/minhash territory; winnowing's df
    // filter deliberately blinds it to universal content.)
    val boiler = "this exact boilerplate footer appears in every single document"
    val docs = (1L to 500L).map(i => (i, boiler)).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.winnowingPairs(
      docs, "doc_id", "text", maxDf = 50, minShared = 1)
    assert(pairs.count() == 0)
  }

  test("embedding hot bucket emits linear star pairs at cosine 1") {
    val nDup = 3000
    val base = Array.fill(8)(0.5f)
    val vecs = ((0 until nDup).map(i => (i.toLong, base)) ++
      Seq((90001L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
          (90002L, Array(-1f, 0.2f, 0f, 0f, 0f, 0f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val pairs = EmbeddingDedup(vecs, "vec_id", "embedding",
      nPlanes = 4, threshold = 0.99, maxBucket = 100).cache()
    // all duplicates pair with hub id 0 at cosine 1; the two distinct
    // vectors are nowhere near threshold with anything
    assert(pairs.count().toInt == nDup - 1)
    assert(pairs.filter(col("id_a") === 0L && col("cosine") > 0.999).count().toInt == nDup - 1)
    pairs.unpersist()
  }
}
