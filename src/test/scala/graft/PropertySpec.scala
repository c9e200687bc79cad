package graft

import graft.functions.{SequenceMatcherRatio, TextNorm}
import org.scalacheck.Gen

/** ScalaCheck properties for the pure kernels (SURVEY §5: F1-F7 are
  * pure and ideal for property-based tests — bounds, idempotence,
  * NULL/garbage safety). Column-level properties are exercised through
  * a single batched DataFrame evaluation per property for speed. */
class PropertySpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private val junky: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.numStr,
    Gen.asciiPrintableStr,
    Gen.oneOf("", ".", "..", "1.2.3.4", "∞", "NaN", "1e10", "-5", " 42 "))

  test("cleanPrice: price is 0 or within (0, 1e13]; currency always 3 known chars") {
    val samples = Gen.listOfN(300, junky).sample.get
    val rows = samples.toDF("v")
      .select(graft.functions.CleanFns.cleanPrice(col("v"), lit("USD")).as("p"))
      .select("p.price", "p.currency").collect()
    rows.foreach { r =>
      val price = r.getDouble(0)
      assert(price == 0d || (price > 0 && price <= 9999999999999.99d))
      assert(Set("USD", "CRC").contains(r.getString(1)))
    }
  }

  test("cleanArea: null or within (0, 9999999.99]") {
    val samples = Gen.listOfN(300, junky).sample.get
    samples.toDF("v").select(graft.functions.CleanFns.cleanArea(col("v")).as("a"))
      .collect().foreach { r =>
        if (!r.isNullAt(0)) {
          val a = r.getDouble(0)
          assert(a > 0 && a <= 9999999.99)
        }
      }
  }

  test("normalize is idempotent and never longer") {
    Gen.listOfN(200, Gen.asciiPrintableStr).sample.get.foreach { s =>
      val once = TextNorm.normalize(s)
      assert(TextNorm.normalize(once) == once)
    }
    // idempotence on accented unicode specifically
    Seq("Óscar Müller", "čarodějnice", "ñandú ÀÈÌ").foreach { s =>
      assert(TextNorm.normalize(TextNorm.normalize(s)) == TextNorm.normalize(s))
    }
  }

  test("difflib ratio: symmetric bounds, identity, and range") {
    Gen.listOfN(200, Gen.zip(Gen.alphaStr, Gen.alphaStr)).sample.get.foreach {
      case (a, b) =>
        val r = SequenceMatcherRatio.ratio(a, b)
        assert(r >= 0.0 && r <= 1.0)
        if (a == b) assert(r == 1.0)
    }
  }

  test("minhash est_jaccard and exact jaccard live in [0,1]; identical docs hit 1") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "a b c d e f"), (4L, "w1 w2 w3 x y z")
    ).toDF("doc_id", "text")
    val verified = graft.operators.Dedup
      .lshVerified(docs, "doc_id", "text", n = 2)
      .select("id_a", "id_b", "est_jaccard", "jaccard")
      .as[(Long, Long, Double, Double)].collect()
    assert(verified.forall(v => v._3 >= 0 && v._3 <= 1 && v._4 >= 0 && v._4 <= 1))
    val dup = verified.find(v => v._1 == 1L && v._2 == 2L)
    assert(dup.exists(v => v._3 == 1.0 && v._4 == 1.0))
  }

  test("haversine: symmetric, zero on identity, nonnegative") {
    val coords = Gen.listOfN(50,
      Gen.zip(Gen.choose(-80d, 80d), Gen.choose(-179d, 179d),
        Gen.choose(-80d, 80d), Gen.choose(-179d, 179d))).sample.get
    val rows = coords.toDF("a", "b", "c", "d").select(
      graft.functions.GeoFns.haversineKm(col("a"), col("b"), col("c"), col("d")).as("d1"),
      graft.functions.GeoFns.haversineKm(col("c"), col("d"), col("a"), col("b")).as("d2"),
      graft.functions.GeoFns.haversineKm(col("a"), col("b"), col("a"), col("b")).as("z"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
      assert(r.getDouble(0) >= 0)
      assert(r.getDouble(2) == 0.0)
    }
  }

  test("PrefixSum matches the sequential scan on arbitrary signed input") {
    // the operator whose offsets silently corrupt if its two branches
    // ever read diverging partitionings (see PrefixSum scaladoc) —
    // pin it against plain scanLeft on random keys/values, negatives
    // and duplicates of VALUE included (keys must be unique: the
    // operator's documented total-order contract)
    val pairs = Gen.listOfN(500,
      Gen.zip(Gen.choose(Long.MinValue / 4, Long.MaxValue / 4),
        Gen.choose(-1000L, 1000L))).sample.get
      .groupBy(_._1).map { case (k, vs) => (k, vs.head._2) }.toSeq
    val expected = pairs.sortBy(_._1)
      .scanLeft(0L) { case (acc, (_, v)) => acc + v }.tail
    val got = graft.operators.PrefixSum(
        pairs.toDF("k", "v"), "k", "v", "cum", numParts = 7)
      .orderBy(col("k")).select(col("cum")).collect().map(_.getLong(0)).toSeq
    assert(got == expected)
  }

  test("redactPii is idempotent and leaves no detectable PII behind") {
    val pii = Gen.oneOf(
      Gen.const("x9@a-b.io"),
      Gen.const("10.20.30.40"),
      Gen.const("555-1234"),
      Gen.alphaNumStr)
    val docs = Gen.listOfN(200,
      Gen.listOfN(5, Gen.oneOf(pii, Gen.asciiPrintableStr))
        .map(_.mkString(" "))).sample.get
    val rows = docs.toDF("t")
      .select(graft.functions.TextFns.redactPii(col("t")).as("r"))
      .select(col("r"),
        graft.functions.TextFns.redactPii(col("r")).as("rr"),
        graft.functions.TextFns.piiCount(col("r"),
          graft.functions.TextFns.EmailRe).as("e"),
        graft.functions.TextFns.piiCount(col("r"),
          graft.functions.TextFns.Ipv4Re).as("i"),
        graft.functions.TextFns.piiCount(col("r"),
          graft.functions.TextFns.PhoneRe).as("p"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), "redaction must be idempotent")
      assert(r.getLong(2) == 0 && r.getLong(3) == 0 && r.getLong(4) == 0,
        s"residual PII after redaction: ${r.getString(0)}")
    }
  }

  test("no-whitespace length equals the sum of token lengths (q192 shortcut)") {
    val texts = Gen.listOfN(200, Gen.listOfN(8, Gen.oneOf(
      Gen.alphaNumStr, Gen.const(""), Gen.const("  "),
      Gen.const("\t"), Gen.const("a.b,c")))
      .map(_.mkString(" "))).sample.get
    val rows = texts.toDF("t")
      .select(
        length(regexp_replace(col("t"), "\\s", "")).as("nl"),
        aggregate(graft.functions.TextFns.tokens(col("t")),
          lit(0), (acc, x) => acc + length(x)).as("sl"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }
}
