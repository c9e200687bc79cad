package graft

/** Spark SQL text covers the same surface: custom functions registered
  * in the FunctionRegistry + test tables as views. */
class SqlSurfaceSpec extends SparkSpec {

  test("custom scalar functions are callable from SQL text") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT normalize_text('Cañón JOSÉ') AS n,
        |  difflib_ratio('Brand-13', 'Brand#13') AS r,
        |  round(haversine_km(9.9281, -84.0907, 10.0162, -84.2117), 1) AS d,
        |  cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
        |  dot_scaled(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS ds,
        |  shingle_hashes('a b c d', 3) AS sh
        |""".stripMargin).head()
    assert(r.getString(0) == "canon jose")
    assert(r.getDouble(1) == 0.875)
    assert(r.getDouble(2) == 16.5)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    assert(r.getLong(4) == 110000000000L) // (1*3 + 2*4) * 1e10
    assert(r.getSeq[Long](5).length == 2) // "a b c", "b c d"

    // the SQL names compose the DataFrame kernels: equal on table rows
    import graft.functions.{GeoFns, TextFns, VectorFns}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def same(viaSql: String, viaDf: org.apache.spark.sql.DataFrame): Unit = {
      val got = spark.sql(viaSql).collect().toSeq
      assert(got.nonEmpty)
      assert(got == viaDf.collect().toSeq, viaSql)
    }
    Seq[(Int, Option[Double], Double, Double, Double)](
        (1, Some(9.9281), -84.0907, 10.0162, -84.2117), (2, Some(0.0), 0.0, 0.0, 0.0),
        (3, Some(-33.45), -70.66, 41.4, 2.1), (4, Some(89.9), 180.0, -89.9, -180.0),
        (5, None, 1.0, 2.0, 3.0))
      .toDF("k", "lat1", "lon1", "lat2", "lon2").createOrReplaceTempView("geo_rows")
    same("SELECT k, haversine_km(lat1, lon1, lat2, lon2) FROM geo_rows ORDER BY k",
      spark.table("geo_rows").orderBy("k").select(col("k"), GeoFns.haversineKm(
        col("lat1"), col("lon1"), col("lat2"), col("lon2"))))
    graft.util.Tables(spark, sf001, "embeddings").select(col("vec_id"), col("embedding"))
      .union(Seq[(Long, Seq[Float])]((-1L, Seq(0f, 0f)), (-2L, Seq(-0.5f, 0.25f)),
        (-3L, Seq(0.5f, -0.25f))).toDF("vec_id", "embedding"))
      .createOrReplaceTempView("vec_rows")
    same("""SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) FROM vec_rows a
           |JOIN vec_rows b ON b.vec_id = a.vec_id - 1 ORDER BY a.vec_id""".stripMargin,
      spark.table("vec_rows").as("a")
        .join(spark.table("vec_rows").as("b"), col("b.vec_id") === col("a.vec_id") - 1)
        .orderBy(col("a.vec_id"))
        .select(col("a.vec_id"), VectorFns.cosine(col("a.embedding"), col("b.embedding"))))
    graft.util.Tables(spark, sf001, "documents").select(col("doc_id"), col("text"))
      .union(Seq[(Long, String)]((-1L, "mail a.b@c.org from 10.0.0.1, call 555-1234"),
        (-2L, null), (-3L, "")).toDF("doc_id", "text"))
      .createOrReplaceTempView("text_rows")
    same("SELECT doc_id, redact_pii(text) FROM text_rows ORDER BY doc_id",
      spark.table("text_rows").orderBy("doc_id")
        .select(col("doc_id"), TextFns.redactPii(col("text"))))
  }

  test("cosine_sim of a NULL vector is NULL") {
    GraftFunctions.registerAll(spark)
    assert(spark.sql("SELECT cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(1.0F))")
      .head().isNullAt(0))
  }

  test("image_dhash and redact_pii are callable from SQL text") {
    GraftFunctions.registerAll(spark)
    spark.read
      .parquet(graft.util.RepoRoot.fixture("image_assets.parquet"))
      .createOrReplaceTempView("image_assets")
    val r = spark.sql(
      """SELECT image_dhash(content) AS dh,
        |  redact_pii('mail a@b.co from 1.2.3.4') AS red
        |FROM image_assets WHERE asset_id = 1""".stripMargin).head()
    val expected = spark.read
      .parquet(graft.util.RepoRoot.fixture("image_dhash_expected.parquet"))
      .where("asset_id = 1").head().getLong(1)
    assert(r.getLong(0) == expected)
    assert(r.getString(1) == "mail <EMAIL> from <IP>")
    // undecodable payload -> NULL through the SQL face too
    assert(spark.sql(
      "SELECT image_dhash(content) FROM image_assets WHERE asset_id = 12")
      .head().isNullAt(0))
  }

  test("every public kernel in kernelNames resolves and evaluates from SQL text") {
    GraftFunctions.registerAll(spark)
    // closure: each registered name must parse, resolve, and produce a
    // value through pure SQL text — one probe call per kernel
    val probes = Map(
      "normalize_text" -> "normalize_text('Ábc')",
      "difflib_ratio" -> "difflib_ratio('ab', 'ab')",
      "dot_scaled" -> "dot_scaled(array(1.0F), array(2.0F))",
      "sorted_intersect_count" ->
        "sorted_intersect_count(array('a', 'b'), array('b', 'c'))",
      "shingle_hashes" -> "shingle_hashes('a b c d', 3)",
      "simhash_wide" -> "simhash_wide('hello world hello')",
      "winnow_fingerprints" -> "winnow_fingerprints('abcdefghij', 3, 4)",
      "bpe_apply" -> "bpe_apply('spark', array(array('s','p'), array('a','r')))",
      "bpe_tokens" -> "bpe_tokens('hello world 42!')",
      "bpe_token_count" -> "bpe_token_count('hello world 42!')",
      "clean_price" -> "clean_price('1.234,56', '€')",
      "clean_area" -> "clean_area('120 m2')",
      "clean_smallint" -> "clean_smallint('42')",
      "clean_numeric_small" -> "clean_numeric_small('3.5')",
      "title_type" -> "title_type('Apartamento en venta')",
      "content_hash" ->
        "content_hash('t', 1.0D, 'crc', 10.0D, 1.0D, 2.0D, map('a', '1'))",
      "poi_hash" -> "poi_hash('cafe', 9.9281D, -84.0907D)",
      "doc_hash" -> "doc_hash('body')",
      "html_to_text" -> "html_to_text('<p>hi &amp; bye</p>')",
      "lang_id" -> "lang_id('the cat sat on the mat and is happy')",
      "quality_score" -> "quality_score('the quick brown fox is in the barn')",
      "token_count" -> "token_count('a b  c')",
      "quantize_int8" -> "quantize_int8(array(0.5F, -0.5F))",
      "cosine_q8" ->
        "cosine_q8(quantize_int8(array(1.0F, 0.0F)), quantize_int8(array(1.0F, 0.0F)))",
      "l2_sq_scaled" -> "l2_sq_scaled(array(1.0F), array(2.0F))",
      "haversine_km" -> "haversine_km(0.0D, 0.0D, 0.0D, 1.0D)",
      "cosine_sim" -> "cosine_sim(array(1.0F), array(1.0F))",
      "image_dhash" -> "image_dhash(CAST(NULL AS BINARY))",
      "redact_pii" -> "redact_pii('a@b.co')")
    val missing = GraftFunctions.kernelNames.filterNot(probes.contains)
    assert(missing.isEmpty, s"kernelNames without a probe: $missing")
    GraftFunctions.kernelNames.foreach { k =>
      val row = spark.sql(s"SELECT ${probes(k)} AS v").head()
      // evaluation succeeded; null only where the probe is a null input
      if (k != "image_dhash") assert(!row.isNullAt(0), s"$k returned null")
    }
    // spot-check semantics through the SQL face
    assert(spark.sql("SELECT bpe_apply('spark', array(array('s','p'), array('a','r')))")
      .head().getSeq[String](0) == Seq("sp", "ar", "k"))
    assert(spark.sql("SELECT token_count('a b  c')").head().getInt(0) == 3)
    assert(spark.sql("SELECT lang_id('the cat sat on the mat and is happy')")
      .head().getString(0) == "en")
  }

  test("wrong-arity and null-merge SQL calls fail with named errors") {
    GraftFunctions.registerAll(spark)
    def msgChain(t: Throwable): String = {
      var m = ""; var c: Throwable = t
      while (c != null) { m += Option(c.getMessage).getOrElse(""); c = c.getCause }
      m
    }
    // wrong arity on a combinator kernel: named error, not IndexOutOfBounds
    val e1 = intercept[Throwable] { spark.sql("SELECT clean_price('x')").head() }
    assert(msgChain(e1).contains("clean_price expects 2 argument(s), got 1"))
    // wrong arity on a native-expression kernel
    val e2 = intercept[Throwable] {
      spark.sql("SELECT difflib_ratio('a', 'b', 'c')").head() }
    assert(msgChain(e2).contains("difflib_ratio expects 2 argument(s), got 3"))
    // NULL merge-pair element: named bpe_apply error, not an NPE
    val e3 = intercept[Throwable] {
      spark.sql("SELECT bpe_apply('sp', array(array('s', CAST(NULL AS STRING))))").head() }
    assert(msgChain(e3).contains("bpe_apply: merges[0] contains a NULL element"))
  }

  test("a full SQL query over registered views matches the DataFrame API") {
    GraftFunctions.registerAll(spark)
    GraftFunctions.registerViews(spark, sf001)
    val viaSql = spark.sql(
      """SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect().toSeq
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val viaDf = graft.util.Tables(spark, sf001, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("s"))
      .orderBy(col("l_returnflag")).collect().toSeq
    assert(viaSql == viaDf)
  }
}
