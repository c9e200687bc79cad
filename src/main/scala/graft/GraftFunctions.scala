package graft

import graft.functions._
import graft.util.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL-surface registration (SURVEY §7.1 module 8): every custom
  * scalar the engine adds is also callable from Spark SQL text, and
  * the test tables register as temp views — so `spark.sql("SELECT
  * normalize_text(name) ...")` covers the same surface as the
  * DataFrame API.
  */
object GraftFunctions {

  /** The full SQL-callable kernel list — the "DataFrame + Spark SQL
    * text" parity claim, pinned by SqlSurfaceSpec (which asserts every
    * name here resolves and evaluates from SQL text). Keep in sync
    * with [[registerAll]]. */
  val kernelNames: Seq[String] = Seq(
    "normalize_text", "difflib_ratio", "dot_scaled",
    "sorted_intersect_count", "shingle_hashes", "simhash_wide",
    "winnow_fingerprints", "bpe_apply", "bpe_tokens", "bpe_token_count",
    "clean_price", "clean_area", "clean_smallint", "clean_numeric_small",
    "title_type", "content_hash", "poi_hash", "doc_hash",
    "html_to_text", "lang_id", "quality_score", "token_count",
    "quantize_int8", "cosine_q8", "l2_sq_scaled",
    "haversine_km", "cosine_sim", "image_dhash", "redact_pii")

  private def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
                     fn: String, arg: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Number,
        org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.LongType |
        org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.ByteType) => v.intValue()
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** Register graft's custom scalar functions into the session's
    * function registry. Native Catalyst expressions go in directly
    * (stay codegen'd in SQL text too); Column combinators register as
    * expression builders — the SQL face composes the SAME native
    * expression tree the DataFrame path builds, so nothing leaves
    * whole-stage codegen. Only `image_dhash` (an image codec) is a
    * Scala UDF. */
  def registerAll(spark: SparkSession): Unit = {
    // wrong-arity SQL calls must fail with a NAMED error, not an
    // IndexOutOfBounds from cs(1) deep inside a builder (round-10
    // advisor finding)
    def arity(name: String, n: Int,
              exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")
      exprs
    }
    // a SQL name for a Column combinator: build columns from the call
    // arguments, compose, hand the composed expression tree back
    def combinator(name: String, n: Int)(f: Seq[org.apache.spark.sql.Column]
        => org.apache.spark.sql.Column): Unit =
      ColumnBridge.registerFunction(spark, name,
        exprs => ColumnBridge.eagerExpression(
          f(arity(name, n, exprs).map(ColumnBridge.column))))

    ColumnBridge.registerFunction(spark, "normalize_text",
      exprs => NormalizeTextExpr(arity("normalize_text", 1, exprs).head))
    ColumnBridge.registerFunction(spark, "difflib_ratio",
      exprs => { arity("difflib_ratio", 2, exprs)
        DifflibRatioExpr(exprs(0), exprs(1)) })
    ColumnBridge.registerFunction(spark, "dot_scaled",
      exprs => { arity("dot_scaled", 2, exprs)
        DotScaledExpr(exprs(0), exprs(1)) })
    ColumnBridge.registerFunction(spark, "sorted_intersect_count",
      exprs => { arity("sorted_intersect_count", 2, exprs)
        SortedIntersectCountExpr(exprs(0), exprs(1)) })
    ColumnBridge.registerFunction(spark, "shingle_hashes",
      exprs => { arity("shingle_hashes", 2, exprs)
        ShingleHashesExpr(exprs(0),
          intLit(exprs(1), "shingle_hashes(text, n)", "n")) })
    ColumnBridge.registerFunction(spark, "simhash_wide",
      exprs => SimHashWideExpr(arity("simhash_wide", 1, exprs).head))
    ColumnBridge.registerFunction(spark, "winnow_fingerprints",
      exprs => { arity("winnow_fingerprints", 3, exprs)
        WinnowFingerprintsExpr(exprs(0),
          intLit(exprs(1), "winnow_fingerprints(text, k, w)", "k"),
          intLit(exprs(2), "winnow_fingerprints(text, k, w)", "w")) })
    // rank-ordered BPE merge application: the merge table must be a
    // literal (foldable) array of [l, r] pairs — it is a trained
    // ARTIFACT, evaluated once at registration so the per-row path is
    // the same codegen'd regexp chain the DataFrame API builds
    ColumnBridge.registerFunction(spark, "bpe_apply", exprs => {
      require(exprs.length == 2 && exprs(1).foldable,
        "bpe_apply(word, merges): merges must be a literal array of [l, r] pairs")
      val arr = exprs(1).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val merges = (0 until arr.numElements()).map { i =>
        val p = arr.getArray(i)
        require(p != null && p.numElements() == 2,
          s"bpe_apply: merges[$i] must be a [l, r] pair")
        val (l, r) = (p.getUTF8String(0), p.getUTF8String(1))
        require(l != null && r != null,
          s"bpe_apply: merges[$i] contains a NULL element")
        (l.toString, r.toString)
      }
      ColumnBridge.eagerExpression(
        BpeApply.tokens(ColumnBridge.column(exprs(0)), merges))
    })
    combinator("bpe_tokens", 1)(cs => TextFns.bpeTokens(cs(0)))
    combinator("bpe_token_count", 1)(cs => TextFns.bpeTokenCount(cs(0)))
    combinator("clean_price", 2)(cs => CleanFns.cleanPrice(cs(0), cs(1)))
    combinator("clean_area", 1)(cs => CleanFns.cleanArea(cs(0)))
    combinator("clean_smallint", 1)(cs => CleanFns.cleanSmallint(cs(0)))
    combinator("clean_numeric_small", 1)(cs => CleanFns.cleanNumericSmall(cs(0)))
    combinator("title_type", 1)(cs => CleanFns.titleTypeClassifier(cs(0)))
    combinator("content_hash", 7)(cs => HashFns.contentHash(
      cs(0), cs(1), cs(2), cs(3), cs(4), cs(5), cs(6)))
    combinator("poi_hash", 3)(cs => HashFns.poiHash(cs(0), cs(1), cs(2)))
    combinator("doc_hash", 1)(cs => HashFns.docHash(cs(0)))
    combinator("html_to_text", 1)(cs => TextFns.htmlToText(cs(0)))
    combinator("lang_id", 1)(cs => TextFns.langId(cs(0)))
    combinator("quality_score", 1)(cs =>
      TextFns.qualityScore(cs(0), TextFns.langStopwords.head._2))
    combinator("token_count", 1)(cs => TextFns.tokenCount(cs(0)))
    combinator("quantize_int8", 1)(cs => VectorFns.quantizeInt8(cs(0)))
    combinator("cosine_q8", 2)(cs => VectorFns.cosineQ8(cs(0), cs(1)))
    combinator("l2_sq_scaled", 2)(cs => VectorFns.l2SqScaled(cs(0), cs(1)))
    combinator("haversine_km", 4)(cs =>
      GeoFns.haversineKm(cs(0), cs(1), cs(2), cs(3)))
    combinator("cosine_sim", 2)(cs => VectorFns.cosine(cs(0), cs(1)))
    combinator("redact_pii", 1)(cs => TextFns.redactPii(cs(0)))
    // perceptual image hash (ImageDedup.dhash — the q189/q190 kernel):
    // an image codec can't be a codegen expression, so the SQL face is
    // a UDF over the same function the DataFrame path runs
    spark.udf.register("image_dhash",
      (b: Array[Byte]) => graft.operators.ImageDedup.dhash(b)
        .map(java.lang.Long.valueOf).orNull)
  }

  /** Register the driver test tables as temp views for SQL access
    * (events gets the ns→µs conversion, see EventQueries.events). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach {
      case "events" =>
        graft.queries.EventQueries.events(spark, sfDir)
          .createOrReplaceTempView("events")
      case n =>
        Tables(spark, sfDir, n).createOrReplaceTempView(n)
    }
}
