package graft.queries

import graft.functions.TextFns
import graft.operators.{AllPairsLocal, SetGroups, SimilaritySearch}
import graft.util.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Retrieval / supervised-classification surface over `documents` —
  * the query-time counterparts of the corpus artifacts built by
  * q113 (inverted index) and the model-training stack (q97–q102).
  *
  * Everything the oracle compares is INTEGER: ratios are scaled into
  * exact decimal/HUGEINT arithmetic with integer (floor) division and
  * logs are the integer floor-log2 (`length(bin(r)) - 1`, the q98
  * discipline) — a floating log or sqrt would let 1-ulp engine
  * differences flip an ordering. The resulting scores are coarser
  * than float BM25/NB but rank-faithful and bit-reproducible across
  * engines, partition counts, and reduction orders.
  */
object RetrievalQueries {
  import VectorQueries.{dotSql, normSql}

  /** Fixed keyword query for the BM25 ranking demo (high-df corpus
    * terms — exercises the Lucene-style always-positive idf). */
  private val BmTerms = Seq("join", "hash", "vector")

  /** The prefix-filter family's (q133/q143/q165) doc relation: the
    * sorted distinct 3-shingle array `arr`, its size `sz`, and the
    * `extra` columns per doc, materialized once. Per-doc
    * array_distinct replaces a corpus-wide explode→DISTINCT shuffle
    * and the array-rebuilding groupBy — the doc's sorted array IS the
    * grouped form — and the one map-only materialization feeds dfw,
    * the prefix stream, and both verify joins. */
  private def shingleSets(s: SparkSession, dir: String,
                          extra: (String, Column)*): DataFrame =
    extra.foldLeft(Tables.wide(s, dir, "documents")
      .select(col("doc_id"),
        array_sort(array_distinct(TextFns.shingles(col("text"), 3))).as("arr"))
      .withColumn("sz", size(col("arr")).cast(LongType))) {
      case (d, (n, c)) => d.withColumn(n, c)
    }.localCheckpoint()

  /** Bayardo prefix filter front end over [[shingleSets]]: `sh` is the
    * exploded (doc_id, sz, carry…, w) stream; `prefix` is each doc's
    * first ⌊sz/div⌋+1 shingles by global (df, w) ascending — rarest
    * first, so candidate buckets are the smallest df buckets and the
    * Zipf head never generates candidates — as (doc_id, w, carry…). */
  private def prefixStream(docs: DataFrame, div: Int,
                           carry: String*): (DataFrame, DataFrame) = {
    val cs = carry.map(col)
    val sh = docs.select((col("doc_id") +: col("sz") +: cs) :+
      explode(col("arr")).as("w"): _*)
    val dfw = sh.groupBy(col("w"))
      .agg(count(lit(1)).cast(LongType).as("df"))
    val prefix = sh.join(dfw, "w")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("w"))))
      .filter(col("rn") <= expr(s"sz div $div + 1"))
      .select(col("doc_id") +: col("w") +: cs: _*)
    (sh, prefix)
  }

  /** The prefix family's collapse gate: it has no bucket cap (its
    * plans are exact all-pairs), so it gates at the MinHash family's
    * default cap of 1000, i.e. 500 duplicate extras. */
  private val GateBucket = 1000

  val all: Seq[Q] = Seq(

    // BM25 top-k retrieval (Robertson & Walker 1994; the Lucene
    // practical variant with idf = log(1 + (N - df + ½)/(df + ½)) =
    // log((N+1)/(df+½)), which never goes negative). k1 = 1.2 and
    // b = 0.75 are rational, so the tf-saturation term
    //   tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    // multiplies out to the exact integer form
    //   22·tf·S·2¹⁰ div (10·tf·S + 3·S + 9·dl·N)      (S = Σ dl)
    // and idf becomes floor-log2(((2N+2)·2²⁰) div (2df+1)) − 20.
    // Shape at scale: the tf table is a wordcount restricted to the
    // query terms (the predicate reaches the token stream before any
    // shuffle — per-doc work is O(dl), state is |q| rows per doc);
    // df and the 1-row corpus stats broadcast; the final top-50 is a
    // total order over (score, doc_id). At 100 TB this is the
    // standard query-evaluation shape: score only docs containing a
    // query term, never materialize the full corpus ranking.
    Q("q126_bm25_topk",
      (s, dir) => {
        // LocalExact hybrid (the q98/q127 convention): corpus stats,
        // query-term tf/df and the exact integer BM25 in one
        // sequential pass (BigInt = the DECIMAL(38) discipline)
        val localOut = graft.operators.LocalExact(
          Tables.wide(s, dir, "documents").select(col("doc_id"), col("text")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", LongType),
            org.apache.spark.sql.types.StructField("n_terms", LongType),
            org.apache.spark.sql.types.StructField("bm25_s", LongType))),
          200000L) { it =>
          import graft.functions.Md5Kernel
          val bm = BmTerms.toSet
          val docs = it.map(r =>
            (r.getLong(0), Md5Kernel.tokenize(r.getString(1)))).toArray
          val n = BigInt(docs.length)
          val sTot = BigInt(docs.iterator.map(_._2.length.toLong).sum)
          val tf = new java.util.HashMap[(Long, String), Long]()
          docs.foreach { case (id, t) =>
            t.foreach(w => if (bm.contains(w)) tf.merge((id, w), 1L, _ + _))
          }
          val df = new java.util.HashMap[String, Long]()
          tf.forEach { case ((_, w), _) => df.merge(w, 1L, _ + _) }
          val dl = docs.map { case (id, t) => id -> t.length.toLong }.toMap
          val perDoc = new java.util.HashMap[Long, (Long, Long)]() // doc → (n_terms, sum)
          tf.forEach { case ((id, w), f) =>
            val rIdf = ((BigInt(2) * n + 2) * 1048576 /
              (BigInt(2) * df.get(w) + 1)).toLong
            val idfFl2 = (63 - java.lang.Long.numberOfLeadingZeros(
              math.max(rIdf, 1L))) - 20L
            val sTf = (BigInt(22) * f * sTot * 1024 /
              (BigInt(10) * f * sTot + BigInt(3) * sTot +
                BigInt(9) * dl(id) * n)).toLong
            val cur = perDoc.getOrDefault(id, (0L, 0L))
            perDoc.put(id, (cur._1 + 1L, cur._2 + idfFl2 * sTf))
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          perDoc.forEach((id, v) => out += org.apache.spark.sql.Row(id, v._1, v._2))
          out.iterator
        }
        localOut.map(_.orderBy(col("bm25_s").desc, col("doc_id")).limit(50))
          .getOrElse {
        val toks = Tables.wide(s, dir, "documents")
          .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        val dl = toks.select(col("doc_id"),
          size(col("toks")).cast(LongType).as("dl"))
        val stats = dl.agg(count(lit(1)).cast(LongType).as("n"),
          sum(col("dl").cast(DecimalType(38, 0))).as("s"))
        val tf = toks
          .select(col("doc_id"), explode(col("toks")).as("term"))
          .filter(col("term").isin(BmTerms: _*))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).cast(LongType).as("tf"))
        val dfk = tf.groupBy(col("term"))
          .agg(count(lit(1)).cast(LongType).as("df"))
        tf.join(broadcast(dfk), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("r_idf", expr(
            """CAST((2 * CAST(n AS DECIMAL(38,0)) + 2) * 1048576
              |  div (2 * CAST(df AS DECIMAL(38,0)) + 1) AS BIGINT)"""
              .stripMargin))
          .withColumn("idf_fl2",
            (length(bin(greatest(col("r_idf"), lit(1L)))) - 1)
              .cast(LongType) - 20)
          .withColumn("s_tf", expr(
            """CAST((22 * CAST(tf AS DECIMAL(38,0)) * s * 1024)
              |  div (10 * CAST(tf AS DECIMAL(38,0)) * s + 3 * s
              |       + 9 * CAST(dl AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))
              |  AS BIGINT)""".stripMargin))
          .withColumn("contrib", col("idf_fl2") * col("s_tf"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast(LongType).as("n_terms"),
            sum(col("contrib")).cast(LongType).as("bm25_s"))
          .orderBy(col("bm25_s").desc, col("doc_id"))
          .limit(50)
        }
      },
      Some(s"""WITH d AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
             |st AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             |    CAST(SUM(dl) AS HUGEINT) AS s FROM dl),
             |t AS (SELECT doc_id, unnest(toks) AS term FROM d),
             |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM t WHERE term IN (${BmTerms.map("'" + _ + "'").mkString(", ")})
             |  GROUP BY doc_id, term),
             |dfk AS (SELECT term, CAST(COUNT(*) AS HUGEINT) AS df
             |  FROM tf GROUP BY term),
             |sc AS (SELECT tf.doc_id,
             |    CAST(length(bin(GREATEST(CAST((2 * n + 2) * 1048576
             |        // (2 * df + 1) AS BIGINT), 1))) - 1 - 20 AS BIGINT)
             |    * CAST((22 * CAST(tf AS HUGEINT) * s * 1024)
             |        // (10 * CAST(tf AS HUGEINT) * s + 3 * s
             |           + 9 * CAST(dl AS HUGEINT) * n) AS BIGINT) AS contrib
             |  FROM tf JOIN dfk USING (term) JOIN dl ON tf.doc_id = dl.doc_id, st)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             |  CAST(SUM(contrib) AS BIGINT) AS bm25_s
             |FROM sc GROUP BY doc_id
             |ORDER BY bm25_s DESC, doc_id LIMIT 50""".stripMargin)),

    // Multinomial Naive Bayes train + apply (Manning et al., IIR ch.
    // 13 — public): train on the 80% split (doc_id % 5 ≠ 0), predict
    // `source` for the held-out 20% (the q71 hash-split convention).
    // Add-one smoothing over the TRAIN vocabulary; out-of-vocabulary
    // test tokens are dropped (standard NB practice) and test docs
    // with zero in-vocab tokens are excluded on both engines.
    // Likelihoods are integer-quantized: per-token surprisal
    //   sl2(w,c) = 20 − floor-log2(((cnt+1)·2²⁰) div (tot_c + V))
    // and class-prior surprisal the same way, so the per-doc score is
    // an exact integer sum and argmin (score, then class name) is a
    // total order. Shape at scale: class-conditional counts are a
    // wordcount (map-side combined, ≤ V·C rows); the model grid
    // (vocab × classes, zero-filled) broadcasts onto the test token
    // stream; per-doc reduction shuffles on doc_id; the argmin is a
    // bounded per-doc window. No all-pairs, no driver-side state.
    Q("q127_nb_classify",
      (s, dir) => {
        val docs = Tables.wide(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextFns.tokens(col("text")).as("toks"))
        val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        // ALL the bounded state of train+apply in one tagged cell
        // relation (vocab×classes counts, per-test-doc tf, class doc
        // counts), materialized once: the LocalExact pass below (and
        // the distributed fallback) read these blocks — no consumer
        // re-runs a corpus-sized explode. The token cells for BOTH
        // splits come from ONE explode + ONE map-side-combined
        // aggregate over the whole corpus (tag/source/did derived per
        // row), not one explode per split — the r12 form scanned and
        // shuffled the token stream twice for the same cell rows. Only
        // the 5-row class-count aggregate needs a second (explode-free)
        // pass, because a zero-token train doc still counts in the
        // prior.
        val cells = docs.select(col("doc_id"), col("source"),
            (pmod(col("doc_id"), lit(5)) === 0).as("is_test"),
            explode(col("toks")).as("w"))
          .groupBy(
            when(col("is_test"), 1L).otherwise(0L).as("tag"),
            when(col("is_test"), lit(null).cast(StringType))
              .otherwise(col("source")).as("source"),
            col("w"),
            when(col("is_test"), col("doc_id")).as("did"))
          .agg(count(lit(1)).cast(LongType).as("v"))
          .unionAll(train.groupBy(col("source"))
            .agg(count(lit(1)).cast(LongType).as("docs_c"))
            .select(lit(2L).as("tag"), col("source"),
              lit(null).cast(StringType).as("w"),
              lit(null).cast(LongType).as("did"), col("docs_c").as("v")))
          .localCheckpoint(eager = false)
        // LocalExact hybrid: below the cell threshold the zero-filled
        // model grid, priors, per-doc scores and argmin run in one
        // sequential pass with the identical integer quantization
        val localOut = graft.operators.LocalExact(cells,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", LongType),
            org.apache.spark.sql.types.StructField("pred",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("score_s", LongType))),
          5000000L) { it =>
          def fl2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
          val cnt = new java.util.HashMap[(String, String), Long]()
          val tf = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[(String, Long)]]()
          val docsC = new java.util.HashMap[String, Long]()
          it.foreach { r =>
            r.getLong(0) match {
              case 0L => cnt.put((r.getString(1), r.getString(2)), r.getLong(4))
              case 1L => tf.computeIfAbsent(r.getLong(3), _ =>
                scala.collection.mutable.ArrayBuffer.empty) +=
                ((r.getString(2), r.getLong(4)))
              case _ => docsC.put(r.getString(1), r.getLong(4))
            }
          }
          val vocab = new java.util.HashSet[String]()
          val tot = new java.util.HashMap[String, Long]()
          cnt.forEach { case ((src, w), c) =>
            vocab.add(w); tot.merge(src, c, _ + _)
          }
          val vsz = vocab.size.toLong
          val docsTot = { var t = 0L; docsC.forEach((_, v) => t += v); t }
          val classes = docsC.keySet().toArray(Array.empty[String]).sorted
          val sp = classes.map { src =>
            src -> (20L - fl2(math.max(
              (docsC.get(src) * 1048576L) / docsTot, 1L)))
          }.toMap
          def sl2(src: String, w: String): Long = {
            val c = cnt.getOrDefault((src, w), 0L)
            20L - fl2(math.max(
              ((c + 1L) * 1048576L) / (tot.get(src) + vsz), 1L))
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          tf.forEach { (docId, toks) =>
            val inVocab = toks.filter(t => vocab.contains(t._1))
            if (inVocab.nonEmpty) {
              var bestSrc: String = null
              var bestScore = Long.MaxValue
              classes.foreach { src =>
                var ll = 0L
                inVocab.foreach { case (w, f) => ll += f * sl2(src, w) }
                val score = ll + sp(src)
                if (score < bestScore) { bestScore = score; bestSrc = src }
              }
              out += org.apache.spark.sql.Row(docId, bestSrc, bestScore)
            }
          }
          out.iterator
        }
        localOut.map(_.orderBy(col("doc_id"))).getOrElse {
        val cnt = cells.filter(col("tag") === 0L)
          .select(col("source"), col("w"), col("v").as("c"))
        val vocab = cnt.select(col("w")).distinct()
        val vsz = vocab.agg(count(lit(1)).cast(LongType).as("vsz"))
        val classes = cells.filter(col("tag") === 2L)
          .select(col("source"), col("v").as("docs_c"))
        val docsTot = classes.agg(sum(col("docs_c")).cast(LongType).as("docs_tot"))
        val totals = cnt.groupBy(col("source"))
          .agg(sum(col("c")).cast(LongType).as("tot"))
        val model = vocab
          .crossJoin(broadcast(classes.join(totals, "source")))
          .join(cnt, Seq("source", "w"), "left")
          .crossJoin(broadcast(vsz))
          .withColumn("p_s", expr(
            "((coalesce(c, 0L) + 1) * 1048576L) div (tot + vsz)"))
          .withColumn("sl2", lit(20L) -
            (length(bin(greatest(col("p_s"), lit(1L)))) - 1).cast(LongType))
          .select(col("source"), col("w"), col("sl2"))
        val prior = classes.crossJoin(broadcast(docsTot))
          .withColumn("pp_s", expr("(docs_c * 1048576L) div docs_tot"))
          .withColumn("sp", lit(20L) -
            (length(bin(greatest(col("pp_s"), lit(1L)))) - 1).cast(LongType))
          .select(col("source"), col("sp"))
        val stream = cells.filter(col("tag") === 1L)
          .select(col("did").as("doc_id"), col("w"), col("v").as("tf"))
        val scores = stream.join(broadcast(model), "w")
          .groupBy(col("doc_id"), col("source"))
          .agg(sum(col("tf") * col("sl2")).cast(LongType).as("ll"))
          .join(broadcast(prior), "source")
          .withColumn("score_s", col("ll") + col("sp"))
        scores
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("score_s"), col("source"))))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("source").as("pred"), col("score_s"))
          .orderBy(col("doc_id"))
        }
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |tr AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
             |te AS (SELECT * FROM d WHERE doc_id % 5 = 0),
             |cnt AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM (SELECT source, unnest(toks) AS w FROM tr) GROUP BY source, w),
             |vocab AS (SELECT DISTINCT w FROM cnt),
             |vsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM vocab),
             |cls AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_c
             |  FROM tr GROUP BY source),
             |dt AS (SELECT CAST(COUNT(*) AS BIGINT) AS docs_tot FROM tr),
             |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot
             |  FROM cnt GROUP BY source),
             |model AS (SELECT cls.source, v.w,
             |    20 - (length(bin(GREATEST(
             |      ((COALESCE(c, 0) + 1) * 1048576) // (tot + vsz), 1))) - 1)
             |      AS sl2
             |  FROM vocab v CROSS JOIN cls
             |  JOIN tot ON cls.source = tot.source
             |  LEFT JOIN cnt ON cnt.source = cls.source AND cnt.w = v.w
             |  CROSS JOIN vsz),
             |prior AS (SELECT source,
             |    20 - (length(bin(GREATEST(
             |      (docs_c * 1048576) // docs_tot, 1))) - 1) AS sp
             |  FROM cls CROSS JOIN dt),
             |st AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(toks) AS w FROM te) GROUP BY doc_id, w),
             |sc AS (SELECT doc_id, m.source,
             |    CAST(SUM(tf * sl2) AS BIGINT) + MIN(sp) AS score_s
             |  FROM st JOIN model m ON st.w = m.w
             |  JOIN prior p ON m.source = p.source
             |  GROUP BY doc_id, m.source),
             |r AS (SELECT doc_id, source, score_s, ROW_NUMBER() OVER
             |    (PARTITION BY doc_id ORDER BY score_s, source) AS rn
             |  FROM sc)
             |SELECT doc_id, source AS pred, CAST(score_s AS BIGINT) AS score_s
             |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Document-level term co-occurrence graph (the distributional-
    // similarity counterpart of q121's ADJACENT-bigram PMI): which
    // term pairs appear in the same documents? c_ab = |docs with
    // both|, and a scaled-integer Jaccard over document sets
    //   jac_s = (c_ab · 2²⁰) div (df1 + df2 − c_ab).
    // Shape at scale: per-doc DISTINCT terms are capped at the 64
    // lexicographically-smallest (the star-cap convention — bounds
    // the per-doc pair fan-out at K², the same guard SemanticDedup
    // uses for hot cells; df is computed on the SAME capped stream so
    // the Jaccard identity stays exact). Pair counting is then a
    // wordcount on the (w1, w2) key — map-side combined, shuffled
    // once; c_ab ≥ 5 keeps the output collocation-sized.
    Q("q128_term_cooccur",
      (s, dir) => {
        // per-doc dedup + 64-smallest cap INSIDE the array (the q133
        // lesson): array_sort(array_distinct(..)) then slice replaces
        // the corpus-wide explode→DISTINCT shuffle AND a per-doc
        // top-64 window — the capped stream is map-only.
        // Materialized once (lazily): it feeds the df aggregate and
        // both sides of the pair self-join.
        val d = Tables.wide(s, dir, "documents")
          .select(col("doc_id"), explode(slice(
            array_sort(array_distinct(TextFns.tokens(col("text")))),
            1, 64)).as("w"))
          .localCheckpoint(eager = false)
        val dfw = d.groupBy(col("w"))
          .agg(count(lit(1)).cast(LongType).as("df"))
        val pairs = d.as("a")
          .join(d.as("b"), Seq("doc_id"))
          .filter(col("a.w") < col("b.w"))
          .select(col("a.w").as("w1"), col("b.w").as("w2"))
          .groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).cast(LongType).as("c_ab"))
          .filter(col("c_ab") >= 5)
        pairs
          .join(dfw.withColumnRenamed("w", "w1").withColumnRenamed("df", "df1"), "w1")
          .join(dfw.withColumnRenamed("w", "w2").withColumnRenamed("df", "df2"), "w2")
          .withColumn("jac_s", expr("(c_ab * 1048576L) div (df1 + df2 - c_ab)"))
          .select(col("w1"), col("w2"), col("c_ab"), col("df1"), col("df2"),
            col("jac_s"))
          .orderBy(col("w1"), col("w2"))
      },
      Some("""WITH t0 AS (SELECT DISTINCT doc_id, w
             |  FROM (SELECT doc_id,
             |      unnest(list_filter(string_split_regex(trim(text), '\s+'),
             |        x -> x <> '')) AS w
             |    FROM documents)),
             |c AS (SELECT doc_id, w FROM (SELECT doc_id, w, ROW_NUMBER() OVER
             |    (PARTITION BY doc_id ORDER BY w) AS rn FROM t0) WHERE rn <= 64),
             |dfw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM c GROUP BY w),
             |p AS (SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c_ab
             |  FROM c a JOIN c b ON a.doc_id = b.doc_id AND a.w < b.w
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
             |SELECT w1, w2, c_ab, d1.df AS df1, d2.df AS df2,
             |  CAST((c_ab * 1048576) // (d1.df + d2.df - c_ab) AS BIGINT) AS jac_s
             |FROM p JOIN dfw d1 ON p.w1 = d1.w JOIN dfw d2 ON p.w2 = d2.w
             |ORDER BY w1, w2""".stripMargin)),

    // EXACT all-pairs set-similarity join over 3-shingle sets with
    // prefix filtering (Bayardo, Ma & Srikant, WWW 2007; Chaudhuri et
    // al. 2006) — the exact ground truth the q22 MinHash-LSH pipeline
    // approximates. Jaccard ≥ ½ is the integer test 3·|A∩B| ≥
    // |A|+|B|. Prefix filter: shingles ranked per doc by global
    // (df, shingle) ascending — rarest first; two sets with J ≥ ½
    // MUST share one of each other's first ⌊sz/2⌋+1 shingles, so
    // candidates come from an EQUI-join on prefix shingles only
    // (rare-first ordering makes those buckets the SMALLEST df
    // buckets — the Zipf head never generates candidates), then the
    // exact intersection verifies candidates only. THE ORACLE IS THE
    // BRUTE-FORCE DEFINITION — a dropped pair (broken completeness)
    // fails verification, not just a spec. Scale: candidate work is
    // Σ df(prefix-shingle)², df of rare shingles ≈ dup-cluster size;
    // arrays carried to the verify are doc-sized (AllPairs' design).
    Q("q133_allpairs_jaccard",
      (s, dir) => {
        val docArr = shingleSets(s, dir)
        // LocalExact hybrid (AllPairsLocal): below the doc threshold
        // the whole df-rank → prefix → candidate → verify chain is ONE
        // executor task; the Bayardo equi-join below stays the 100-TB
        // path (parity pinned by LocalExactParitySpec).
        def pairsOver(docs: DataFrame): DataFrame = {
          val (_, prefix) = prefixStream(docs, 2)
          val cand = prefix.as("a").join(prefix.as("b"), Seq("w"))
            .filter(col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
            .distinct()
          cand
            .join(docs.select(col("doc_id").as("d1"), col("arr").as("arr1"),
              col("sz").as("sz1")), "d1")
            .join(docs.select(col("doc_id").as("d2"), col("arr").as("arr2"),
              col("sz").as("sz2")), "d2")
            .withColumn("inter", graft.functions.SortedIntersect
              .intersectCount(col("arr1"), col("arr2")))
            .filter(expr("3 * inter >= sz1 + sz2"))
            .withColumn("jac_bp", expr("(inter * 10000) div (sz1 + sz2 - inter)"))
            .select(col("d1"), col("d2"), col("inter"), col("sz1"), col("sz2"),
              col("jac_bp"))
        }
        AllPairsLocal.allPairs(docArr)
          .getOrElse {
            // identical-set group collapse (SetGroups): the candidate
            // join over a mass-duplicate corpus is dup²-quadratic; run
            // the pipeline over one rep per distinct set and fan
            // PASSING pairs out to members — pure output, bit-equal.
            // Full membership both ways (no cap: all-pairs semantics);
            // sz1/sz2 follow their ids when the members reorder.
            SetGroups.collapse(docArr, "doc_id", Seq("arr", "sz"),
                GateBucket) match {
              case None => pairsOver(docArr)
              case Some(g) =>
                val mem = g.members
                val cross = pairsOver(g.reps)
                  .join(mem.select(col("rep").as("d1"), col("id").as("_m1")),
                    "d1")
                  .join(mem.select(col("rep").as("d2"), col("id").as("_m2")),
                    "d2")
                  .select(
                    when(col("_m1") < col("_m2"),
                      struct(col("_m1").as("a"), col("_m2").as("b"),
                        col("sz1").as("s1"), col("sz2").as("s2")))
                      .otherwise(struct(col("_m2").as("a"), col("_m1").as("b"),
                        col("sz2").as("s1"), col("sz1").as("s2"))).as("o"),
                    col("inter"), col("jac_bp"))
                  .select(col("o.a").as("d1"), col("o.b").as("d2"),
                    col("inter"), col("o.s1").as("sz1"), col("o.s2").as("sz2"),
                    col("jac_bp"))
                // members of one non-empty group: J = 1 exactly (the
                // uncollapsed plan emits them via their shared prefix)
                val within = g.withinGroupPairs(col("sz") > 0, Int.MaxValue,
                    Seq("inter" -> col("sz"), "sz1" -> col("sz"),
                      "sz2" -> col("sz"), "jac_bp" -> lit(10000L)))
                  .withColumnRenamed("id_a", "d1")
                  .withColumnRenamed("id_b", "d2")
                cross.unionByName(within)
            }
          }
          .orderBy(col("d1"), col("d2"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |    array_to_string(list_slice(toks, i, i + 2), ' ') AS w
             |  FROM d, unnest(range(1, len(toks) - 1)) AS u(i)
             |  WHERE len(toks) >= 3),
             |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
             |  FROM sh GROUP BY 1),
             |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
             |    CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM sh a JOIN sh b ON a.w = b.w AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT d1, d2, inter, s1.sz AS sz1, s2.sz AS sz2,
             |  (inter * 10000) // (s1.sz + s2.sz - inter) AS jac_bp
             |FROM p JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
             |WHERE 3 * inter >= s1.sz + s2.sz
             |ORDER BY d1, d2""".stripMargin)),

    // Per-source corpus diversity diagnostics: unigram Shannon
    // surprisal totals (the "is this source repetitive?" signal a
    // data-mixture pipeline reads before weighting sources — the
    // entropy column of a datacard). Per-token surprisal is the
    // integer-quantized 20 − floor-log2((c·2²⁰) div N_src) (q98
    // discipline); the per-source total Σ c_w·sl2_w and the
    // bits-per-token ratio (×100, floor) are exact integers. One
    // wordcount + one vocabulary-sized pass; everything map-side
    // combined.
    // INCREMENTAL dedup — the production shape q133's all-pairs
    // doesn't cover: dedupe an INCOMING batch against the BASE corpus
    // without ever pairing base docs with each other (a daily ingest
    // never re-checks the existing 100 TB against itself). Split by
    // the q71 md5 rule (base = the 90% train share, incoming = the
    // rest); candidates still come from the two-sided prefix filter —
    // the q133 bound carries: J ≥ ½ ⟹ 3i ≥ s₁+s₂ and i ≤ s₂ give
    // i ≥ ⌈s₁/2⌉, so both prefixes must hit — but the pair join is
    // RESTRICTED to incoming×base orientation, so base-side work
    // scales with the increment, not the corpus². Output is the drop
    // list: each duplicated incoming doc with its best-matching base
    // doc (max Jaccard, then min base id). THE ORACLE IS THE
    // BRUTE-FORCE DEFINITION over incoming×base — completeness is
    // verified, not asserted.
    Q("q165_incremental_dedup",
      (s, dir) => {
        val isBase = graft.operators.Dedup
          .md5Int32(col("doc_id").cast(StringType)) % 100 < 90
        val docArr = shingleSets(s, dir, "base" -> isBase)
        // LocalExact hybrid (AllPairsLocal, q133 convention): one-task
        // exact pass below the doc threshold, the orientation-
        // restricted Bayardo join below as the 100-TB path.
        def incOver(docs: DataFrame): DataFrame = {
            val (_, prefix) = prefixStream(docs, 2, "base")
            val cand = prefix.filter(!col("base")).as("a")
              .join(prefix.filter(col("base")).as("b"), Seq("w"))
              .select(col("a.doc_id").as("inc"), col("b.doc_id").as("bs"))
              .distinct()
            cand
              .join(docs.select(col("doc_id").as("inc"), col("arr").as("arr1"),
                col("sz").as("sz1")), "inc")
              .join(docs.select(col("doc_id").as("bs"), col("arr").as("arr2"),
                col("sz").as("sz2")), "bs")
              .withColumn("inter", graft.functions.SortedIntersect
                .intersectCount(col("arr1"), col("arr2")))
              .filter(expr("3 * inter >= sz1 + sz2"))
              .withColumn("jac_bp", expr("(inter * 10000) div (sz1 + sz2 - inter)"))
              .groupBy(col("inc"))
              .agg(min(struct((-col("jac_bp")).as("nj"), col("bs").as("bs"))).as("m"))
              .select(col("inc"), col("m.bs").as("base_id"),
                (-col("m.nj")).cast(LongType).as("jac_bp"))
        }
        AllPairsLocal.incremental(docArr)
          .getOrElse {
            // identical-set group collapse, keyed (arr, base): every
            // pair is cross-group by construction (inc vs base differ
            // on the key), so the rep pipeline — including the argmin
            // tail — runs unchanged, and only the inc side fans out.
            // Rep-level argmin is exact: on a jac_bp tie the true min
            // base id is the min of the tied groups' reps (each rep is
            // its group's min member).
            SetGroups.collapse(docArr, "doc_id", Seq("arr", "sz", "base"),
                GateBucket) match {
              case None => incOver(docArr)
              case Some(g) =>
                incOver(g.reps)
                  .join(g.members.select(col("rep").as("inc"), col("id").as("_m")),
                    "inc")
                  .select(col("_m").as("inc"), col("base_id"), col("jac_bp"))
            }
          }
          .orderBy(col("inc"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |      % 100 < 90 AS base,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id, base,
             |    array_to_string(list_slice(toks, i, i + 2), ' ') AS w
             |  FROM d, unnest(range(1, len(toks) - 1)) AS u(i)
             |  WHERE len(toks) >= 3),
             |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
             |  FROM sh GROUP BY 1),
             |p AS (SELECT a.doc_id AS inc, b.doc_id AS bs,
             |    CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM sh a JOIN sh b ON a.w = b.w
             |  WHERE NOT a.base AND b.base
             |  GROUP BY 1, 2),
             |j AS (SELECT inc, bs,
             |    (inter * 10000) // (s1.sz + s2.sz - inter) AS jac_bp
             |  FROM p JOIN sz s1 ON inc = s1.doc_id JOIN sz s2 ON bs = s2.doc_id
             |  WHERE 3 * inter >= s1.sz + s2.sz)
             |SELECT inc,
             |  CAST(MIN({'nj': -jac_bp, 'bs': bs}).bs AS BIGINT) AS base_id,
             |  CAST(-MIN({'nj': -jac_bp, 'bs': bs}).nj AS BIGINT) AS jac_bp
             |FROM j GROUP BY inc ORDER BY inc""".stripMargin)),

    Q("q134_source_entropy",
      (s, dir) => {
        // the (source, word) count cells are VOCAB-bounded — one
        // map-side-combined wordcount materializes them once for
        // both the totals and the surprisal pass
        val c = Tables.wide(s, dir, "documents")
          .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).cast(LongType).as("c"))
          .localCheckpoint()
        // LocalExact hybrid: below the cell threshold the totals and
        // the surprisal sum are one sequential pass (same integer
        // floor-log2: sl2 = 20 − ⌊log2(max((c·2²⁰) div n_tok, 1))⌋;
        // c·2²⁰ stays in exact int64 for any sub-threshold corpus)
        val localOut = graft.operators.LocalExact(c,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("source",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_tok", LongType),
            org.apache.spark.sql.types.StructField("n_vocab", LongType),
            org.apache.spark.sql.types.StructField("sur_bits", LongType),
            org.apache.spark.sql.types.StructField("bpt_x100", LongType))),
          5000000L) { it =>
          val cells = it.map(r => (r.getString(0), r.getLong(2))).toArray
          cells.groupBy(_._1).iterator.map { case (src, cs) =>
            val nTok = cs.map(_._2).sum
            val surBits = cs.map { case (_, cnt) =>
              val q = math.max((cnt * 1048576L) / nTok, 1L)
              cnt * (20L - (63 - java.lang.Long.numberOfLeadingZeros(q)))
            }.sum
            org.apache.spark.sql.Row(src, nTok, cs.length.toLong, surBits,
              (surBits * 100L) / nTok)
          }
        }
        localOut.getOrElse {
          val n = c.groupBy(col("source"))
            .agg(sum(col("c")).cast(LongType).as("n_tok"),
              count(lit(1)).cast(LongType).as("n_vocab"))
          val sur = c.join(n.select(col("source"), col("n_tok")), "source")
            .withColumn("sl2", lit(20L) - (length(bin(greatest(
              expr("CAST((CAST(c AS DECIMAL(38,0)) * 1048576) div n_tok AS BIGINT)"),
              lit(1L)))) - 1).cast(LongType))
            .groupBy(col("source"))
            .agg(sum(col("c") * col("sl2")).cast(LongType).as("sur_bits"))
          n.join(sur, "source")
            .withColumn("bpt_x100", expr("(sur_bits * 100) div n_tok"))
            .select(col("source"), col("n_tok"), col("n_vocab"),
              col("sur_bits"), col("bpt_x100"))
        }
          .orderBy(col("source"))
      },
      Some("""WITH t AS (SELECT source,
             |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
             |      x -> x <> '')) AS w
             |  FROM documents),
             |c AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM t GROUP BY 1, 2),
             |n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tok,
             |    CAST(COUNT(*) AS BIGINT) AS n_vocab FROM c GROUP BY 1),
             |sur AS (SELECT c.source,
             |    CAST(SUM(c * (20 - (length(bin(GREATEST(
             |      CAST((CAST(c AS HUGEINT) * 1048576) // n_tok AS BIGINT),
             |      1))) - 1))) AS BIGINT) AS sur_bits
             |  FROM c JOIN n ON c.source = n.source GROUP BY c.source)
             |SELECT source, n_tok, n_vocab, sur_bits,
             |  (sur_bits * 100) // n_tok AS bpt_x100
             |FROM n JOIN sur USING (source)
             |ORDER BY source""".stripMargin)),

    // EXACT asymmetric containment join (Shrivastava & Li 2015 frame
    // the asymmetric-similarity problem; exact filtering per Chaudhuri
    // et al. 2006): ordered pairs (a, b) where ≥ 80% of a's 3-shingle
    // set lies inside b's — the SUBSET-duplication case (quotes,
    // excerpts, doc-inside-doc) that symmetric Jaccard misses: a
    // 10-line excerpt of a 1000-line doc has J ≈ 0.01 but containment
    // 1.0. Integer test 5·|A∩B| ≥ 4·|A|. Prefix filter is one-sided:
    // any pair with |A∩B| ≥ ⌈0.8·|A|⌉ must hit one of A's
    // ⌊|A|/5⌋+1 RAREST shingles, so A's prefix stream joins b's FULL
    // stream (the contained side pays the prefix, the container pays
    // nothing). Oracle is again the brute-force definition —
    // completeness is verified, not asserted. At 100 TB the full side
    // takes q75's maxDf boilerplate cap; here the corpus is exact.
    Q("q143_containment_join",
      (s, dir) => {
        val docArr = shingleSets(s, dir)
        // LocalExact hybrid (AllPairsLocal, q133 convention): one-task
        // exact pass below the doc threshold; the one-sided prefix
        // join below stays the 100-TB path.
        def contOver(docs: DataFrame): DataFrame = {
          val (sh, prefix) = prefixStream(docs, 5)
          val cand = prefix.as("a").join(sh.as("b"), Seq("w"))
            .filter(col("a.doc_id") =!= col("b.doc_id"))
            .select(col("a.doc_id").as("d_a"), col("b.doc_id").as("d_b"))
            .distinct()
          cand
            .join(docs.select(col("doc_id").as("d_a"), col("arr").as("arr_a"),
              col("sz").as("sz_a")), "d_a")
            .join(docs.select(col("doc_id").as("d_b"), col("arr").as("arr_b"),
              col("sz").as("sz_b")), "d_b")
            .withColumn("inter", graft.functions.SortedIntersect
              .intersectCount(col("arr_a"), col("arr_b")))
            .filter(expr("5 * inter >= 4 * sz_a"))
            .withColumn("cont_bp", expr("(inter * 10000) div sz_a"))
            .select(col("d_a"), col("d_b"), col("inter"), col("sz_a"),
              col("sz_b"), col("cont_bp"))
        }
        AllPairsLocal.containment(docArr)
          .getOrElse {
            // identical-set group collapse (SetGroups, the q133 shape —
            // DIRECTED fan-out: rep pairs expand member_a × member_b
            // keeping direction; within-group pairs are containment
            // 10000 in BOTH directions)
            SetGroups.collapse(docArr, "doc_id", Seq("arr", "sz"),
                GateBucket) match {
              case None => contOver(docArr)
              case Some(g) =>
                val (reps, mem) = (g.reps, g.members)
                val rp = contOver(reps)
                val cross = rp
                  .join(mem.select(col("rep").as("d_a"), col("id").as("_ma")),
                    "d_a")
                  .join(mem.select(col("rep").as("d_b"), col("id").as("_mb")),
                    "d_b")
                  .select(col("_ma").as("d_a"), col("_mb").as("d_b"),
                    col("inter"), col("sz_a"), col("sz_b"), col("cont_bp"))
                val gm = mem.join(
                  reps.select(col("doc_id").as("rep"), col("sz")), "rep")
                  .filter(col("sz") > 0)
                val within = gm.select(col("rep"), col("sz"),
                    col("id").as("_ma"))
                  .join(gm.select(col("rep"), col("id").as("_mb")), Seq("rep"))
                  .filter(col("_ma") =!= col("_mb"))
                  .select(col("_ma").as("d_a"), col("_mb").as("d_b"),
                    col("sz").as("inter"), col("sz").as("sz_a"),
                    col("sz").as("sz_b"), lit(10000L).as("cont_bp"))
                cross.unionByName(within)
            }
          }
          .orderBy(col("d_a"), col("d_b"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |    array_to_string(list_slice(toks, i, i + 2), ' ') AS w
             |  FROM d, unnest(range(1, len(toks) - 1)) AS u(i)
             |  WHERE len(toks) >= 3),
             |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
             |  FROM sh GROUP BY 1),
             |p AS (SELECT a.doc_id AS d_a, b.doc_id AS d_b,
             |    CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM sh a JOIN sh b ON a.w = b.w AND a.doc_id <> b.doc_id
             |  GROUP BY 1, 2)
             |SELECT d_a, d_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
             |  (inter * 10000) // sa.sz AS cont_bp
             |FROM p JOIN sz sa ON d_a = sa.doc_id JOIN sz sb ON d_b = sb.doc_id
             |WHERE 5 * inter >= 4 * sa.sz
             |ORDER BY d_a, d_b""".stripMargin)),

    // Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    // Büttcher 2009 — public): the modern RAG-serving shape — a
    // lexical ranking and a vector ranking computed independently,
    // fused by rank position alone (rrf = Σ 1/(60 + rank)), so
    // incomparable score scales never mix. Queries are docs 0–9 (the
    // q26 convention; embedding i is the embedding of document i in
    // the shared testdata id space). Lexical score = Σ idf over
    // shared DISTINCT tokens, with idf the q126 floor-log2 integer
    // (rank-faithful, bit-reproducible); vector score = the q26 exact
    // scaled-long cosine. RRF itself is exact: 10⁹ div (60 + rank)
    // keeps every reciprocal an integer, so fusion, ties (broken by
    // n_id), and the final top-10 are total orders.
    // Shape at scale: the DISTINCT (doc, token) stream materializes
    // once (the q113 inverted-index artifact; localCheckpoint here
    // stands in for the persisted index) and is touched twice — once
    // to df-count ONLY the query vocabulary (broadcast semi-join
    // keeps aggregate state query-sized), once as the posting scan
    // against the broadcast idf-weighted query terms, map-side
    // combined to candidate cardinality. Both rankings end in the
    // partial/final TopKPhysical (k-bounded state per partition), and
    // the fusion join touches ≤ 2k rows per query. No full corpus
    // ranking is ever materialized — the impact-ordered retrieval
    // discipline of q126.
    Q("q167_rrf_fusion",
      (s, dir) => {
        val docs = Tables.wide(s, dir, "documents")
        // LocalExact hybrid (the q127 tagged-cells convention): docs
        // and embeddings union into one relation; below the threshold
        // both rankings and the fusion run in one sequential pass with
        // the identical integer idf (BigInt div), the identical
        // halfUpLong scaled-long cosine, and the same (score desc
        // NULLS LAST, id) total orders as TopKPhysical
        val embAll = Tables(s, dir, "embeddings")
        val cells167 = docs.select(lit(0L).as("tag"), col("doc_id").as("id"),
            col("text"), lit(null).cast(org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)).as("vec"))
          .unionAll(embAll.select(lit(1L).as("tag"), col("vec_id").as("id"),
            lit(null).cast(StringType).as("text"), col("embedding").as("vec")))
        val localOut = graft.operators.LocalExact(cells167,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("q_id", LongType),
            org.apache.spark.sql.types.StructField("n_id", LongType),
            org.apache.spark.sql.types.StructField("lex_rnk",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("vec_rnk",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("rrf", LongType),
            org.apache.spark.sql.types.StructField("rnk",
              org.apache.spark.sql.types.IntegerType))),
          200000L) { it =>
          import graft.functions.Md5Kernel
          import graft.functions.VectorKernels.halfUpLong
          val docToks = scala.collection.mutable.ArrayBuffer.empty[(Long, java.util.HashSet[String])]
          val embs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
          it.foreach { r =>
            if (r.getLong(0) == 0L) {
              val set = new java.util.HashSet[String]()
              Md5Kernel.tokenize(r.getString(2)).foreach(set.add)
              docToks += ((r.getLong(1), set))
            } else embs += ((r.getLong(1), r.getSeq[Float](3).toArray))
          }
          val n = docToks.length.toLong
          // lexical: idf over the query vocabulary, postings walk
          val qDocs = docToks.filter(_._1 < 10L)
          val qVocab = new java.util.HashSet[String]()
          qDocs.foreach(_._2.forEach(t => qVocab.add(t)))
          val df = new java.util.HashMap[String, Long]()
          val postings = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Long]]()
          docToks.foreach { case (id, set) =>
            set.forEach { t =>
              if (qVocab.contains(t)) {
                df.merge(t, 1L, _ + _)
                postings.computeIfAbsent(t, _ =>
                  scala.collection.mutable.ArrayBuffer.empty) += id
              }
            }
          }
          def idfFl2(t: String): Long = {
            val r0 = ((BigInt(2L) * n + 2L) * 1048576L / (2L * df.get(t) + 1L)).toLong
            (63 - java.lang.Long.numberOfLeadingZeros(math.max(r0, 1L))) - 20L
          }
          // rank by (score desc NULLS LAST, id asc), top k, 1-based
          def rankTop[A](cand: Seq[(Long, A)], k: Int, lt: (A, A) => Boolean): Seq[(Long, Int)] =
            cand.sortWith { case ((i1, s1), (i2, s2)) =>
              if (lt(s1, s2)) true else if (lt(s2, s1)) false else i1 < i2
            }.take(k).zipWithIndex.map { case ((id, _), r0) => (id, r0 + 1) }
          val lexTop = qDocs.iterator.map { case (qid, qset) =>
            val scores = new java.util.HashMap[Long, Long]()
            qset.forEach { t =>
              val idf = idfFl2(t)
              postings.get(t).foreach { d =>
                if (d != qid) scores.merge(d, idf, _ + _)
              }
            }
            val cand = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            scores.forEach((d, sc) => cand += ((d, sc)))
            qid -> rankTop[Long](cand.toSeq, 20, _ > _).toMap
          }.toMap
          // vector: exact scaled-long cosine, nulls last
          val norms = embs.map { case (_, v) =>
            var s0 = 0L
            var i = 0
            while (i < v.length) {
              s0 += halfUpLong(v(i).toDouble * v(i).toDouble * 1e10); i += 1
            }
            s0
          }
          def cosLt(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
            case (Some(x), Some(y)) => x > y // desc
            case (Some(_), None) => true // non-null before null (NULLS LAST)
            case _ => false
          }
          val vecTop = embs.zipWithIndex.filter(_._1._1 < 10L).map {
            case ((qid, qv), qi) =>
              val cand = embs.zipWithIndex.collect {
                case ((cid, cv), ci) if cid != qid =>
                  val c = if (norms(qi) == 0L || norms(ci) == 0L) None
                  else {
                    var s0 = 0L
                    var i = 0
                    val m = math.min(qv.length, cv.length)
                    while (i < m) {
                      s0 += halfUpLong(qv(i).toDouble * cv(i).toDouble * 1e10); i += 1
                    }
                    Some(s0.toDouble / math.sqrt(norms(qi).toDouble * norms(ci).toDouble))
                  }
                  (cid, c)
              }.toSeq
              qid -> rankTop[Option[Double]](cand, 20, cosLt).toMap
          }.toMap
          // fusion: full outer over (q, n), rrf desc top-10
          val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          (lexTop.keySet ++ vecTop.keySet).foreach { qid =>
            val l = lexTop.getOrElse(qid, Map.empty)
            val v = vecTop.getOrElse(qid, Map.empty)
            val fused = (l.keySet ++ v.keySet).toSeq.map { nid =>
              val rrf = l.get(nid).map(r => 1000000000L / (60L + r)).getOrElse(0L) +
                v.get(nid).map(r => 1000000000L / (60L + r)).getOrElse(0L)
              (nid, rrf)
            }
            rankTop[Long](fused, 10, _ > _).foreach { case (nid, rnk) =>
              out += org.apache.spark.sql.Row(qid, nid,
                l.get(nid).map(Int.box).orNull, v.get(nid).map(Int.box).orNull,
                l.get(nid).map(r => 1000000000L / (60L + r)).getOrElse(0L) +
                  v.get(nid).map(r => 1000000000L / (60L + r)).getOrElse(0L),
                rnk)
            }
          }
          out.iterator
        }
        localOut.map(_.orderBy(col("q_id"), col("rnk"))).getOrElse {
        val dt = docs.select(col("doc_id"),
            explode(TextFns.tokens(col("text"))).as("tok"))
          .distinct()
          .localCheckpoint(eager = false) // the inverted-index artifact: 2 corpus consumers
        val nRow = docs.agg(count(lit(1)).cast(LongType).as("n"))
        val qt = dt.filter(col("doc_id") < 10)
          .select(col("doc_id").as("q_id"), col("tok"))
        val qVocab = qt.select(col("tok")).distinct()
        val dfq = dt.join(broadcast(qVocab), "tok")
          .groupBy(col("tok")).agg(count(lit(1)).cast(LongType).as("df"))
        val qtw = dfq.join(broadcast(qt), "tok")
          .crossJoin(broadcast(nRow))
          .withColumn("r_idf", expr(
            """CAST((2 * CAST(n AS DECIMAL(38,0)) + 2) * 1048576
              |  div (2 * CAST(df AS DECIMAL(38,0)) + 1) AS BIGINT)"""
              .stripMargin))
          .withColumn("idf_fl2",
            (length(bin(greatest(col("r_idf"), lit(1L)))) - 1)
              .cast(LongType) - 20)
          .select(col("q_id"), col("tok"), col("idf_fl2"))
        val lex = dt.join(broadcast(qtw), "tok")
          .filter(col("doc_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("doc_id"))
          .agg(sum(col("idf_fl2")).cast(LongType).as("lex_s"))
          .select(col("q_id"), col("doc_id").as("n_id"), col("lex_s"))
        val lexTop = graft.plans.TopKPhysical.topK(lex, Seq("q_id"),
          Seq(("lex_s", false), ("n_id", true)), k = 20, rankName = "lex_rnk")
          .select(col("q_id"), col("n_id"), col("lex_rnk"))
        val emb = Tables(s, dir, "embeddings")
        val vecTop = SimilaritySearch.bruteForceTopK(
          emb.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
          emb.select(col("vec_id").as("n_id"), col("embedding")),
          "q_id", "q_vec", "n_id", "embedding", k = 20)
          .select(col("q_id"), col("n_id"), col("rnk").as("vec_rnk"))
        val fused = lexTop.join(vecTop, Seq("q_id", "n_id"), "full_outer")
          .withColumn("rrf", expr(
            """coalesce(CAST(1000000000 AS BIGINT) div CAST(60 + lex_rnk AS BIGINT), CAST(0 AS BIGINT))
              | + coalesce(CAST(1000000000 AS BIGINT) div CAST(60 + vec_rnk AS BIGINT), CAST(0 AS BIGINT))"""
              .stripMargin))
        graft.plans.TopKPhysical.topK(fused, Seq("q_id"),
          Seq(("rrf", false), ("n_id", true)), k = 10)
          .select(col("q_id"), col("n_id"), col("lex_rnk"), col("vec_rnk"),
            col("rrf"), col("rnk"))
          .orderBy(col("q_id"), col("rnk"))
        }
      },
      Some(s"""WITH dt AS (SELECT DISTINCT doc_id,
             |    unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tok
             |  FROM documents),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |qt AS (SELECT doc_id AS q_id, tok FROM dt WHERE doc_id < 10),
             |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt
             |  WHERE tok IN (SELECT tok FROM qt) GROUP BY tok),
             |qtw AS (SELECT q_id, qt.tok,
             |    CAST(length(bin(GREATEST(CAST((2 * CAST(n AS HUGEINT) + 2) * 1048576
             |      // (2 * CAST(df AS HUGEINT) + 1) AS BIGINT), 1))) - 1 - 20 AS BIGINT) AS idf_fl2
             |  FROM qt JOIN dfq ON qt.tok = dfq.tok, nn),
             |lex AS (SELECT q_id, dt.doc_id AS n_id, CAST(SUM(idf_fl2) AS BIGINT) AS lex_s
             |  FROM dt JOIN qtw ON dt.tok = qtw.tok AND dt.doc_id <> qtw.q_id
             |  GROUP BY 1, 2),
             |lex20 AS (SELECT q_id, n_id, lex_rnk FROM (
             |  SELECT q_id, n_id,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY lex_s DESC, n_id) AS lex_rnk
             |  FROM lex) t WHERE lex_rnk <= 20),
             |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS n_id, embedding AS cv FROM embeddings),
             |dots AS (SELECT q_id, n_id,
             |    ${dotSql("qv", "cv")} AS dot,
             |    ${normSql("qv")} AS na,
             |    ${normSql("cv")} AS nb
             |  FROM q, c WHERE q_id <> n_id),
             |cos AS (SELECT q_id, n_id,
             |    CASE WHEN na = 0 OR nb = 0 THEN NULL
             |      ELSE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS cosine
             |  FROM dots),
             |vec20 AS (SELECT q_id, n_id, vec_rnk FROM (
             |  SELECT q_id, n_id,
             |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS vec_rnk
             |  FROM cos) t WHERE vec_rnk <= 20),
             |fused AS (SELECT q_id, n_id, lex_rnk, vec_rnk,
             |    COALESCE(1000000000 // (60 + lex_rnk), 0)
             |      + COALESCE(1000000000 // (60 + vec_rnk), 0) AS rrf
             |  FROM lex20 FULL JOIN vec20 USING (q_id, n_id))
             |SELECT q_id, n_id, lex_rnk, vec_rnk, rrf, rnk FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, n_id) AS rnk
             |  FROM fused) t
             |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin)),

    // Positional proximity + phrase retrieval — the postings layer
    // q113/q126/q167 don't reach: POSITIONS inside the document
    // (Manning et al., IIR §2.4's positional index; every phrase/NEAR
    // operator in a production search stack). For the two-term query
    // ("hash", "join"): per doc, the term counts, the MINIMUM token
    // distance between occurrences of the two terms, and the count of
    // exact ordered-phrase hits ("hash join" — adjacent positions);
    // docs where the terms land within 8 tokens qualify.
    // Plan shape: the term predicate reaches the token stream BEFORE
    // any shuffle (positional postings for the query terms only —
    // per-doc work O(dl), carried rows O(tf)); then ONE doc-keyed
    // window sort + the same-partitioning aggregate. The min span
    // needs no pair join: the minimizing (t1, t2) pair can have no
    // other query-term occurrence between its endpoints (it would
    // form a closer pair), so it is ADJACENT in the merged
    // position-sorted stream — a lag(1) sweep finds it exactly, and
    // ordered-adjacent phrase hits (gap 1) are a filter on the same
    // sweep. THE ORACLE IS THE BRUTE-FORCE DEFINITION (all-pairs min
    // + explicit p+1 phrase join) — a different, skew-unsafe plan
    // proving the same answer.
    Q("q169_phrase_proximity",
      (s, dir) => {
        val (t1, t2) = ("hash", "join")
        val pos = Tables.wide(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(TextFns.tokens(col("text"))).as(Seq("p", "term")))
          .filter(col("term").isin(t1, t2))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        pos
          .withColumn("pt", lag(col("term"), 1).over(w))
          .withColumn("pp", lag(col("p"), 1).over(w))
          .groupBy(col("doc_id"))
          .agg(
            sum(when(col("term") === t1, 1L).otherwise(0L))
              .cast(LongType).as("n_a"),
            sum(when(col("term") === t2, 1L).otherwise(0L))
              .cast(LongType).as("n_b"),
            min(when(col("pt").isNotNull && col("pt") =!= col("term"),
              col("p") - col("pp"))).cast(LongType).as("min_span"),
            sum(when(col("pt") === t1 && col("term") === t2 &&
              col("p") - col("pp") === 1, 1L).otherwise(0L))
              .cast(LongType).as("phrase_n"))
          .filter(col("min_span") <= 8)
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |tp AS (SELECT doc_id, toks[i] AS term, i AS p
             |  FROM d, unnest(range(1, len(toks) + 1)) AS u(i)
             |  WHERE toks[i] IN ('hash', 'join')),
             |p1 AS (SELECT doc_id, p FROM tp WHERE term = 'hash'),
             |p2 AS (SELECT doc_id, p FROM tp WHERE term = 'join'),
             |sp AS (SELECT a.doc_id, CAST(MIN(abs(a.p - b.p)) AS BIGINT) AS min_span
             |  FROM p1 a JOIN p2 b USING (doc_id) GROUP BY 1),
             |ph AS (SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS phrase_n
             |  FROM p1 a JOIN p2 b ON a.doc_id = b.doc_id AND b.p = a.p + 1
             |  GROUP BY 1),
             |cn AS (SELECT doc_id,
             |    CAST(SUM(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
             |  FROM tp GROUP BY 1)
             |SELECT cn.doc_id, n_a, n_b, min_span,
             |  COALESCE(phrase_n, CAST(0 AS BIGINT)) AS phrase_n
             |FROM cn JOIN sp ON cn.doc_id = sp.doc_id
             |  LEFT JOIN ph ON cn.doc_id = ph.doc_id
             |WHERE min_span <= 8
             |ORDER BY cn.doc_id""".stripMargin))
  )
}
