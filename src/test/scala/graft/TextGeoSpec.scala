package graft

import graft.functions.{GeoFns, TextFns}
import graft.operators.{Dedup, GeoRadiusJoin}
import org.apache.spark.sql.functions._

class TextGeoSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeText strips diacritics and lowercases (NFD)") {
    val out = Seq("Cañón José ÀÉÎÕÜ", "plain").toDF("s")
      .select(TextFns.normalizeText(col("s")).as("n"))
      .collect().map(_.getString(0))
    assert(out(0) == "canon jose aeiou")
    assert(out(1) == "plain")
  }

  test("shingles produce token n-grams; short docs → empty") {
    val out = Seq("a b c d", "a b").toDF("s")
      .select(TextFns.shingles(col("s"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty)
  }

  test("langId picks the dominant stopword list deterministically") {
    val out = Seq("the cat is in the bag", "el perro de la casa", "xyz qqq")
      .toDF("s").select(TextFns.langId(col("s")).as("l"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "es", "und"))
  }

  test("haversine matches reference formula on a known pair") {
    // San José (9.9281,-84.0907) → Alajuela (10.0162,-84.2117): ~16.3 km
    val d = Seq((1)).toDF("x").select(
      GeoFns.haversineKm(lit(9.9281), lit(-84.0907), lit(10.0162), lit(-84.2117))
        .as("d")).head().getDouble(0)
    assert(math.abs(d - 16.3) < 0.3)
  }

  test("grid radius join equals brute force including cell-boundary pairs") {
    // points straddling cell boundaries at ~radius distance
    val left = (0 until 200).map(i => (i.toLong, 9.6 + i * 0.0017, -84.3 + (i % 7) * 0.013))
      .toDF("lid", "llat", "llon")
    val right = (0 until 100).map(j => (j.toLong, 9.6 + j * 0.0033, -84.3 + (j % 5) * 0.017))
      .toDF("rid", "rlat", "rlon")
    val fast = GeoRadiusJoin(left, right, "llat", "llon", "rlat", "rlon", 2.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val brute = left.crossJoin(right)
      .withColumn("d", GeoFns.haversineKm(col("llat"), col("llon"), col("rlat"), col("rlon")))
      .filter(col("d") <= 2.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(fast == brute && brute.nonEmpty)
  }

  test("minhash estimate correlates with exact jaccard on constructed dups") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),  // near-dup of 1
      (3L, "one two three four five six seven eight")        // unrelated
    ).toDF("doc_id", "text")
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text", n = 2, bands = 8, rowsPerBand = 2)
    val pairs = cand.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) || !pairs.contains((2L, 3L)))
    val verified = Dedup.lshVerified(docs, "doc_id", "text", n = 2, bands = 8,
        rowsPerBand = 2)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val j12 = verified.find(v => v._1 == 1L && v._2 == 2L).map(_._3)
    assert(j12.exists(j => j > 0.4 && j < 1.0))
  }

  test("exact dedup keeps min-id per key") {
    val df = Seq((5L, "k1"), (2L, "k1"), (7L, "k2")).toDF("id", "k")
    val out = Dedup.exact(df, "k", "id").select("id").as[Long].collect().toSet
    assert(out == Set(2L, 7L))
  }

  test("BPE apply merges back-to-back pairs like the scanner loop") {
    import graft.functions.BpeApply
    val merges = Seq(("a", "a"), ("aa", "b"))
    val df = Seq("aaaa", "aaa", "aab", "baaab", "xyz").toDF("word")
      .select(col("word"), BpeApply.tokens(col("word"), merges).as("toks"))
    val out = df.as[(String, Seq[String])].collect().toMap
    // left-to-right non-overlapping: [a,a,a,a]→[aa,aa], [a,a,a]→[aa,a]
    assert(out("aaaa") == Seq("aa", "aa"))
    assert(out("aaa") == Seq("aa", "a"))
    // multi-level merge: aa then aab
    assert(out("aab") == Seq("aab"))
    assert(out("baaab") == Seq("b", "aab", "b") ||
      out("baaab") == Seq("b", "aa", "a", "b")) // pin the actual below
    assert(out("xyz") == Seq("x", "y", "z"))
  }

  test("BPE apply is exact: baaab encodes like greedy min-rank") {
    import graft.functions.BpeApply
    // greedy: [b,a,a,a,b] → rank0 all occurrences L-to-R → [b,aa,a,b]
    // → no (a,a) left, (aa,b)? aa followed by a — no; so final.
    val merges = Seq(("a", "a"), ("aa", "b"))
    val out = Seq("baaab").toDF("word")
      .select(BpeApply.tokens(col("word"), merges)).as[Seq[String]].head()
    assert(out == Seq("b", "aa", "a", "b"))
  }

  test("BPE apply rejects a merge table where rank-order != greedy") {
    import graft.functions.BpeApply
    // rank1's output "ab" rebuilds rank0's left operand → resurrection
    val bad = Seq(("ab", "c"), ("a", "b"))
    val e = intercept[IllegalArgumentException] {
      BpeApply.tokens(col("word"), bad)
    }
    assert(e.getMessage.contains("rank-order"))
  }

  test("BPE trainer follows max-count-then-lexicographic on a hand case") {
    import graft.operators.BpeTrain
    // freqs: (a,b) appears in "abab"(2×)·3 + "ab"·2 = 8; (b,a) 3;
    // after merging (a,b): pairs (ab,ab) 3, (c,ab) 2 → tie? no: 3 > 2.
    val wf = Seq(("abab", 3L), ("cab", 2L)).toDF("word", "freq")
    val m = BpeTrain.merges(wf, 2)
    assert(m == Seq((0L, "a", "b"), (1L, "ab", "ab")))
  }

  test("BPE trainer breaks count ties lexicographically like the artifact trainer") {
    import graft.operators.BpeTrain
    // "xy" and "yx" both count 2: lexicographic (x,y) < (y,x)
    val wf = Seq(("xy", 2L), ("yx", 2L)).toDF("word", "freq")
    assert(BpeTrain.merges(wf, 1) == Seq((0L, "x", "y")))
  }

  test("BPE trainer stops early when no pairs remain") {
    import graft.operators.BpeTrain
    val wf = Seq(("ab", 5L), ("c", 9L)).toDF("word", "freq")
    // one merge fuses ab; every word is then single-token
    assert(BpeTrain.merges(wf, 10).map(t => (t._2, t._3)) == Seq(("a", "b")))
  }

  test("local BPE trainer path equals the distributed loop merge-for-merge") {
    import graft.operators.BpeTrain
    import graft.functions.TextFns
    // the two-level gate (mergeTable) picks the local loop for bounded
    // vocabularies — pin that both paths produce the identical table
    // on the real corpus AND on the tie/early-stop hand cases
    val wf = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val dist = BpeTrain.merges(wf, 16)
    val local = BpeTrain.mergesLocal(
      wf.collect().map(r => (r.getString(0), r.getLong(1))).toSeq, 16)
    assert(local == dist)
    val ties = Seq(("xy", 2L), ("yx", 2L))
    assert(BpeTrain.mergesLocal(ties, 1) ==
      BpeTrain.merges(ties.toDF("word", "freq"), 1))
    val early = Seq(("ab", 5L), ("c", 9L))
    assert(BpeTrain.mergesLocal(early, 10) ==
      BpeTrain.merges(early.toDF("word", "freq"), 10))
  }

  test("engine-trained BPE equals the independent Python artifact rank-for-rank") {
    import graft.operators.BpeTrain
    import graft.functions.{BpeApply, TextFns}
    // fixtures/bpe_merges.parquet was trained by scripts/
    // make_fixtures.py's classic scanner-loop trainer on the sf0.1
    // word frequencies — train in-engine on the same input and demand
    // identity, then close the loop: applying the ENGINE-trained
    // table must reproduce the fixture's independent encodings.
    val wf = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val mine = BpeTrain.merges(wf, 16)
    val fixture = spark.read
      .parquet(graft.util.RepoRoot.fixture("bpe_merges.parquet"))
      .orderBy(col("rank")).collect().toSeq
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("left"),
        r.getAs[String]("right")))
    assert(mine == fixture)
    val merges = mine.map(t => (t._2, t._3))
    val got = wf.select(col("word"),
        array_join(BpeApply.tokens(col("word"), merges), " ").as("tokens"))
      .as[(String, String)].collect().toMap
    val exp = spark.read
      .parquet(graft.util.RepoRoot.fixture("q101_expected.parquet"))
      .select(col("word"), array_join(col("tokens"), " ").as("tokens"))
      .as[(String, String)].collect().toMap
    assert(got == exp)
  }

  test("q107 repeated-span scrub removes covered tokens, keeps first occurrence") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q107").toString
    Seq(
      (1L, "a b c a b c a b c"), // all windows past the first 3 repeat
      (2L, "x y"),               // shorter than a window: pass-through
      (3L, "   "),               // whitespace-only: zero tokens
      (4L, "p q r s p q r")      // one repeated window at position 5
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.Registry.byName("q107_selfrepeat_scrub")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((9L, 6L, "a b c")))
    assert(got(2L) == ((2L, 0L, "x y")))
    assert(got(3L) == ((0L, 0L, "")))
    // spans start at window 5 ('p q r' again) → tokens 5,6,7 covered
    assert(got(4L) == ((7L, 3L, "p q r s")))
  }
}
