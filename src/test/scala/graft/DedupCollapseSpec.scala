package graft.operators

import org.apache.spark.sql.functions.col

/** Direct contract pins for the round-13 identical-fingerprint group
  * collapse in [[Dedup.hammingPairs]] — controlled 60-bit fingerprints
  * (no text → simhash indirection), so cross-group Hamming distances
  * are exact by construction:
  *
  *  - groups UNDER the cap expand exactly: all duplicate-internal
  *    pairs at hamming 0 plus full member×member fan-out of every
  *    rep pair within maxHamming;
  *  - groups OVER the cap degrade to the linear hub-star shape both
  *    internally and in cross-group fan-out;
  *  - a duplicate-free frame takes the identical uncollapsed plan
  *    (same pair set either way).
  */
class DedupCollapseSpec extends graft.SparkSpec {

  // fingerprints: g1=0b000 ×3 members, g2=0b001 ×2 (hamming 1 from
  // g1), g4=0b111 ×1 (hamming 3 from g1, 2 from g2), g3=0xFF ×1
  // (≥5 from everything — must never pair)
  private val fps = Seq(
    1L -> 0L, 2L -> 0L, 3L -> 0L,
    10L -> 1L, 11L -> 1L,
    30L -> 7L,
    20L -> 255L)

  private def run(maxBucket: Int): Set[(Long, Long, Int)] = {
    val s = spark; import s.implicits._
    val sims = fps.toDF("id", "simhash")
    Dedup.hammingPairs(sims, bits = 60, maxHamming = 3, maxBucket = maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  test("collapse: under-cap duplicate groups expand to the exact pair set") {
    val expected = (for {
      (a, sa) <- fps; (b, sb) <- fps
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    // sanity on the fixture: internal h0, cross h1/h2/h3, excluded h>3
    assert(expected((1L, 2L, 0)) && expected((1L, 10L, 1)) &&
      expected((10L, 30L, 2)) && expected((1L, 30L, 3)) &&
      !expected.exists(p => p._1 == 20L || p._2 == 20L))
    assert(run(maxBucket = 100) == expected)
  }

  test("collapse: an over-cap group emits hub-star pairs, linear not quadratic") {
    // g1 gets 6 members and the cap is 4: the GROUP cap engages for
    // g1 while the rep-level band buckets (4 distinct fingerprints
    // sharing the all-zero high bands) stay under the cap — this
    // isolates the group-cap contract from the band-bucket star cap
    val s = spark; import s.implicits._
    val fps6 = (1L to 6L).map(_ -> 0L) ++
      Seq(10L -> 1L, 11L -> 1L, 30L -> 7L, 20L -> 255L)
    val got = Dedup.hammingPairs(fps6.toDF("id", "simhash"),
        bits = 60, maxHamming = 3, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = Set(
      // g1 internal: star around hub 1 — NOT (2,3), (2,4), …
      (1L, 2L, 0), (1L, 3L, 0), (1L, 4L, 0), (1L, 5L, 0), (1L, 6L, 0),
      (10L, 11L, 0),              // g2 internal: m=2 ≤ cap, full
      (1L, 10L, 1), (1L, 11L, 1), // g1 fans out by hub only
      (1L, 30L, 3),
      (10L, 30L, 2), (11L, 30L, 2))
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("no duplicates → uncollapsed plan, same answer") {
    val s = spark; import s.implicits._
    val uniq = Seq(1L -> 0L, 10L -> 1L, 30L -> 7L, 20L -> 255L)
    val got = Dedup.hammingPairs(uniq.toDF("id", "simhash"),
        bits = 60, maxHamming = 3, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = (for {
      (a, sa) <- uniq; (b, sb) <- uniq
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    assert(got == expected)
  }

  test("threshold boundary: a naturally near-cap bucket tipped over by " +
       "sub-threshold duplicates takes the documented hub-star trade; " +
       "forcing the collapse restores exactness") {
    // maxBucket = 8 → default gate threshold = extras ≥ 4. Seven
    // DISTINCT fingerprints 0..6 differ only inside the low band, so
    // each of the three high bands holds ALL members in one bucket —
    // a natural bucket at maxBucket − 1. Three duplicates of fp 0
    // (extras = 3 < 4) keep the gate OFF while pushing the member-
    // level bucket to 10 > 8: this is exactly the residual the gate
    // scaladoc documents ([[graft.operators.SetGroups]]).
    val s = spark; import s.implicits._
    val fps = (1L to 4L).map(_ -> 0L) ++ // 1 natural member + 3 dups
      (5L to 10L).map(i => i -> (i - 4L)) // distinct fps 1..6
    def run(): Set[(Long, Long, Int)] =
      Dedup.hammingPairs(fps.toDF("id", "simhash"),
          bits = 60, maxHamming = 3, maxBucket = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = (for {
      (a, sa) <- fps; (b, sb) <- fps
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    assert(exact.size == 45) // every pair of 0..6 is within hamming 3
    // gate OFF (default): the overflowing high-band buckets emit the
    // hub star around min id 1; the under-cap low-band bucket of the
    // duplicate ids {1,2,3,4} still emits its full pairs — the
    // DOCUMENTED shape, a strict subset of exact
    val starred = run()
    val expectedStar =
      (2L to 10L).map(j => (1L, j, java.lang.Long.bitCount(
        fps.head._2 ^ fps(j.toInt - 1)._2))).toSet ++
      Set((2L, 3L, 0), (2L, 4L, 0), (3L, 4L, 0))
    assert(starred == expectedStar,
      s"missing=${expectedStar -- starred} extra=${starred -- expectedStar}")
    // gate ON (forced): rep-level buckets hold 7 distinct fps ≤ 8, so
    // the collapse recovers the full exact pair set
    spark.conf.set("spark.graft.dupCollapseMinExtras", "1")
    try assert(run() == exact)
    finally spark.conf.unset("spark.graft.dupCollapseMinExtras")
  }
}
