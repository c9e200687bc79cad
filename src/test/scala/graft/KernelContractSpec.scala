package graft.operators

import graft.functions.{Md5Kernel, VectorKernels}
import org.apache.spark.sql.functions._

/** Pins each kernel-exactness PRIMITIVE directly against its Catalyst
  * twin — not only through query parity. The one-task local kernels
  * (LocalExact family) re-implement Spark semantics on the JVM; each
  * re-implementation encodes a Spark invariant that is NOT the Java
  * default (code-point string order, 0x20-only trim, RE2's \s,
  * UTF8String code-point substring indexing, HALF_UP rounding). A
  * Spark version bump that changes any of these must fail HERE, at
  * the primitive, with a message naming the broken contract — not as
  * an opaque hash mismatch three layers up in a query oracle.
  */
class KernelContractSpec extends graft.SparkSpec {

  // strings chosen to split the Java default from the Spark contract:
  // supplementary chars (surrogate pairs), every RE2 \s member, Java's
  // extra \x0B, control chars <= 0x20 that Java trim strips, combining
  // marks, and empties
  private val trickyStrings = Seq(
    "", " ", "  a  b  ", "\ta\tb\t", "\na\nb\n", "\fx\fy\f", "\rp\rq\r",
    "vw", // \x0B: Java \s splits here, RE2/Spark \s does NOT
    "edge", // <=0x20 control: Java trim strips, Spark trim keeps
    "a😀b", "😀", "😀😀", "￿z", "éclair", "ﬁne ligature",
    "mixed 😀 and ￿ and plain", "trailing space ", " leading")

  private def df1(name: String, vals: Seq[String]) = {
    val s = spark; import s.implicits._
    vals.toDF(name)
  }

  test("tokenize: JVM twin = TextFns.tokens column (trim/\\s contract)") {
    val col0 = graft.functions.TextFns.tokens(col("t"))
    val got = df1("t", trickyStrings).select(col("t"), col0.as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    trickyStrings.foreach { t =>
      assert(Md5Kernel.tokenize(t).toList === got(t),
        s"tokenize('${t.replace("\n", "\\n")}') diverged from the " +
          "TextFns.tokens column form — trim/whitespace contract broken")
    }
  }

  test("sparkTrim: strips 0x20 ONLY (Spark trim, not Java String.trim)") {
    val got = df1("t", trickyStrings).select(col("t"), trim(col("t")).as("tr"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    trickyStrings.foreach { t =>
      assert(Md5Kernel.sparkTrim(t) === got(t),
        s"sparkTrim diverged from Catalyst trim on '$t'")
    }
    // the case that separates the two trims
    assert(Md5Kernel.sparkTrim("x") === "x")
    assert("x".trim === "x") // Java strips <= 0x20
  }

  test("md5Int32/md5Int60: first-hex-digits integers = SQL conv form") {
    val got = df1("t", trickyStrings).selectExpr("t",
        "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) AS i32",
        "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) AS i60")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    trickyStrings.foreach { t =>
      // both entry points: the String one the kernels call and the
      // raw-UTF-8 one the codegen Md5PrefixExpr calls
      val utf8 = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      assert(Md5Kernel.md5Int32(t) === got(t)._1, s"md5Int32('$t')")
      assert(Md5Kernel.md5Int60(t) === got(t)._2, s"md5Int60('$t')")
      assert(Md5Kernel.md5Prefix(utf8, 32) === got(t)._1, s"md5Prefix('$t', 32)")
      assert(Md5Kernel.md5Prefix(utf8, 60) === got(t)._2, s"md5Prefix('$t', 60)")
    }
  }

  test("utf8Lt: comparator order = Spark StringType sort order") {
    // array_sort on StringType sorts by UTF8-binary = code points
    val s = spark; import s.implicits._
    val sparkSorted = Seq(trickyStrings).toDF("a")
      .select(array_sort(col("a")).as("s")).collect()(0).getSeq[String](0).toList
    val kernelSorted = trickyStrings.sortWith(Md5Kernel.utf8Lt)
    assert(kernelSorted === sparkSorted,
      "utf8Lt order diverged from Spark StringType order (code points, " +
        "not Java UTF-16 compareTo)")
    // the case that separates them: BMP ￿ vs supplementary 😀
    assert(Md5Kernel.utf8Lt("￿z", "😀"), "code-point order: U+FFFF < U+1F600")
    assert("￿z".compareTo("😀") > 0) // Java ranks the surrogate lower
  }

  test("bigramsJvm: code-point bigrams = Catalyst substring(t, i, 2)") {
    val texts = trickyStrings.filter(_.nonEmpty)
    val got = df1("t", texts)
      .selectExpr("t",
        // Spark length() and substring() index by CODE POINT
        "CASE WHEN length(t) < 2 THEN CAST(array() AS ARRAY<STRING>) ELSE " +
          "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2)) " +
          "END AS bg")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    texts.foreach { t =>
      assert(NgramLm.bigramsJvm(t).toList === got(t),
        s"bigramsJvm('$t') diverged from UTF8String substring indexing")
    }
    // the separating case: surrogate pair counts as ONE position
    assert(NgramLm.bigramsJvm("a😀b").toList === List("a😀", "😀b"))
  }

  test("halfUpLong: exact-half handling = Catalyst round(x, 0)") {
    val xs = Seq(0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 1e9 + 0.5, -(1e9 + 0.5),
      0.49999999999, 7.5, -7.5, 123456789.5, 3.0, -3.0, 0.0,
      2.2250738585072014e-308, 1e15 + 0.5)
    val s = spark; import s.implicits._
    val got = xs.toDF("x")
      .selectExpr("x", "CAST(round(x, 0) AS BIGINT) AS r")
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    xs.foreach { x =>
      assert(VectorKernels.halfUpLong(x) === got(x),
        s"halfUpLong($x) != Catalyst round($x, 0) — HALF_UP contract broken")
    }
  }

  test("BigDecimal HALF_UP scale-6 = Catalyst round(x, 6)") {
    val xs = Seq(1.0000005, -1.0000005, 2.718281828459045, -2.718281828459045,
      0.12345645, 0.12345655, -0.12345645, 3.9999995, 1e-7, -1e-7, 0.0,
      12345.6789012345)
    val s = spark; import s.implicits._
    val got = xs.toDF("x").selectExpr("x", "round(x, 6) AS r")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    xs.foreach { x =>
      val jvm = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(jvm === got(x),
        s"BigDecimal.valueOf($x).setScale(6, HALF_UP) != Catalyst round(x, 6)")
    }
  }

  test("scaledPJvm: BigInt round-half-up = scaledP decimal-38 column") {
    // include c past ~4.6M where 2*Scale*(c+1) overflows int64 — the
    // zone the BigInt form exists for
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 7L), (999L, 1000L),
      (4600000L, 9200001L), (5000000L, 1L), (5000000L, 9999999L),
      (1L, 3L), (2L, 3L), (123456L, 654321L))
    val s = spark; import s.implicits._
    val got = pairs.toDF("c", "d")
      .select(col("c"), col("d"), NgramLm.scaledP(col("c"), col("d")).as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (c, d) =>
      assert(NgramLm.scaledPJvm(c, d) === got((c, d)),
        s"scaledPJvm($c, $d) != scaledP column (decimal-38 round-half-up)")
    }
  }

  test("fl2Jvm: integer floor-log2 = floorLog2 bin-length column") {
    val ps = Seq(0L, 1L, 2L, 3L, 4L, 7L, 8L, 15L, 16L, 1023L, 1024L,
      (1L << 40) - 1, 1L << 40, Long.MaxValue)
    val s = spark; import s.implicits._
    val got = ps.toDF("p")
      .select(col("p"), NgramLm.floorLog2(col("p")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ps.foreach { p =>
      assert(NgramLm.fl2Jvm(p) === got(p),
        s"fl2Jvm($p) != floorLog2 column")
    }
  }

  test("gatherDot: in-range margin = Σ w[b]·x; an out-of-range bucket throws") {
    import graft.functions.{GatherDotKernel, GatherDotLongExpr}
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def arr(xs: Long*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    val w = arr(3L, -2L, 7L)
    assert(GatherDotKernel.gatherDot(w, arr(0L, 2L, 2L), arr(5L, 1L, -4L)) ===
      3L * 5 + 7L * 1 + 7L * -4)
    // the long multiply-add wraps like the SQL composition it replaces
    assert(GatherDotKernel.gatherDot(arr(Long.MaxValue), arr(0L), arr(2L)) ===
      Long.MaxValue * 2)
    // 1L << 32 truncates to bucket 0 under a bare toInt
    Seq(3L, -1L, 1L << 32).foreach { b =>
      val e = intercept[IndexOutOfBoundsException](
        GatherDotKernel.gatherDot(w, arr(0L, b), arr(1L, 1L)))
      assert(e.getMessage.contains(s"index $b") && e.getMessage.contains("|w| = 3"),
        e.getMessage)
    }
    // the same check through the Catalyst expression
    val s = spark; import s.implicits._
    val df = Seq((Seq(3L, -2L, 7L), Seq(0L, 5L), Seq(1L, 1L))).toDF("w", "b", "x")
    val m = ColumnBridge.column(GatherDotLongExpr(ColumnBridge.expression(col("w")),
      ColumnBridge.expression(col("b")), ColumnBridge.expression(col("x"))))
    val err = intercept[Exception](df.select(m).collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("index 5")), msgs.mkString(" | "))
  }

  test("minhash: a signature over MaxHashes throws; at MaxHashes est_jaccard still codegens") {
    val docs = df1("text", Seq("the quick brown fox jumps over the lazy dog again",
      "the quick brown fox jumps over the lazy dog again",
      "the quick brown fox jumps over the lazy cat again"))
      .withColumn("doc_id", monotonically_increasing_id())
    val over = Dedup.MaxHashes + 1
    intercept[IllegalArgumentException](
      Dedup.minhashCandidates(docs, "doc_id", "text", bands = over, rowsPerBand = 1))
    intercept[IllegalArgumentException](
      Dedup.lshVerified(docs, "doc_id", "text", bands = 1, rowsPerBand = over))
    // the cap's premise: the projection's stage compiles under Spark's
    // hugeMethodLimit, so whole-stage codegen does not fall back
    forcedDistributed {
      val df = Dedup.minhashCandidates(docs, "doc_id", "text", bands = 1,
        rowsPerBand = Dedup.MaxHashes)
      assert(df.collect().length == 1)
      val sizes = org.apache.spark.sql.execution.debug.codegenStringSeq(
        df.queryExecution.executedPlan).filter(_._1.contains("est_jaccard"))
        .map(_._3.maxMethodCodeSize)
      val limit = spark.sessionState.conf.hugeMethodLimit
      assert(sizes.nonEmpty && sizes.forall(s => s > 0 && s <= limit),
        s"est_jaccard stage method sizes $sizes against a $limit-byte limit")
    }
  }

  test("LongSet: add reports each new key once (0 included); size survives growth") {
    val set = new LongSet(16)
    assert(set.add(0L) && !set.add(0L))
    // 10k keys from an initial 32-slot table: many grow() rehashes
    val keys = (1L to 10000L).map(_ * 0x9E3779B97F4A7C15L) :+ Long.MinValue :+ -1L
    assert(keys.forall(set.add))
    assert(!keys.exists(set.add), "a re-added key was reported new")
    assert(!set.add(0L))
    assert(set.size == keys.size + 1L)
  }
}
