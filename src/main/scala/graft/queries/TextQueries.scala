package graft.queries

import graft.functions.TextFns
import graft.operators.Dedup
import graft.util.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis / dedup surface over `documents` — the training-data
  * pipeline operators (exact dedup, MinHash-LSH, SimHash, n-gram
  * Jaccard, quality scoring, language ID, token stats).
  *
  * The MinHash/SimHash oracles are generated from the SAME hash
  * parameters as the Spark implementation (md5-based universal hashes,
  * exact int64 arithmetic), so the LSH pipeline is bit-reproducible in
  * DuckDB — the oracle checks the real operator, not an approximation.
  */
object TextQueries {

  private val Bands = 4
  private val RowsPerBand = 4
  private val ShingleN = 3

  /** DuckDB CTEs mirroring TextFns.shingles + the signature aggregate
    * of Dedup.minhashCandidates. */
  private def minhashSigSql: String = {
    val params = Dedup.hashParams(Bands * RowsPerBand)
    val sigCols = params.zipWithIndex.map { case ((a, b), i) =>
      s"CAST(MIN((hv * CAST($a AS BIGINT) + CAST($b AS BIGINT)) % ${Dedup.HashPrime}) AS BIGINT) AS s$i"
    }.mkString(",\n    ")
    s"""toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents),
       |sh AS (SELECT doc_id, array_to_string(list_slice(t, i, i + ${ShingleN - 1}), ' ') AS s
       |  FROM toks, unnest(generate_series(1, len(t) - ${ShingleN - 1})) AS u(i)
       |  WHERE len(t) >= $ShingleN),
       |h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS hv FROM sh),
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM h GROUP BY doc_id)""".stripMargin
  }

  private def bandsSql: String =
    (0 until Bands).map { bnd =>
      val cols = (0 until RowsPerBand).map(r => s"CAST(s${bnd * RowsPerBand + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $bnd AS band, $cols AS bsig FROM sig"
    }.mkString("\n  UNION ALL\n  ")

  private val matchCount = (0 until Bands * RowsPerBand)
    .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END").mkString(" + ")

  /** DuckDB CTE chain ending in `qx(<carry>, n_tokens, quality)` —
    * TextFns.qualityScore replayed ONCE for every oracle that needs it
    * (q25 row-level, q90 datacard rollup). `carry` is the column list
    * threaded through unchanged. */
  private[queries] def qualitySql(carry: String): String = {
    val sw = TextFns.langStopwords.head._2.map("'" + _ + "'").mkString(",")
    s"""toks AS (SELECT $carry,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |m AS (SELECT $carry, CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(len(t) AS DOUBLE) AS nt,
       |  CAST(len(list_filter(t, x -> x IN ($sw))) AS DOUBLE) AS hits,
       |  CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) AS sumlen
       |FROM toks),
       |sc AS (SELECT $carry, n_tokens,
       |  CASE WHEN nt < 5 THEN nt / 5.0 WHEN nt > 500 THEN 500.0 / nt ELSE 1.0 END AS len_score,
       |  CASE WHEN nt = 0 THEN 0.0 ELSE hits / nt END AS swr,
       |  CASE WHEN nt = 0 THEN 0.0 ELSE sumlen / nt END AS mtl
       |FROM m),
       |sc2 AS (SELECT $carry, n_tokens, len_score,
       |  CASE WHEN swr > 0.5 THEN 1.0 - swr ELSE swr * 2.0 END AS sw_score,
       |  CASE WHEN mtl >= 3 AND mtl <= 8 THEN 1.0 WHEN mtl < 3 THEN mtl / 3.0 ELSE 8.0 / mtl END AS mtl_score
       |FROM sc),
       |qx AS (SELECT $carry, n_tokens,
       |  round(len_score * 0.4 + least(sw_score, 1.0) * 0.3 + mtl_score * 0.3, 6) AS quality
       |FROM sc2)""".stripMargin
  }

  /** DuckDB expression for the 16-bit md5-vote simhash over token list `t`
    * (mirrors VectorFns.simhash). */
  private def simhashSql(bits: Int): String =
    (0 until bits).map { b =>
      s"""CASE WHEN CAST(list_sum(list_transform(t, x ->
         |    CASE WHEN ('0x' || substr(md5(x || '#$b'), 16, 1))::BIGINT % 2 = 1
         |      THEN 1 ELSE -1 END)) AS BIGINT) > 0 THEN ${1L << b} ELSE 0 END""".stripMargin
    }.mkString(" +\n  ")

  val all: Seq[Q] = Seq(

    // Token/char statistics per document (quality-signal components).
    Q("q18_doc_stats",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("len_chars"),
          size(filter(TextFns.tokens(col("text")),
            t => t.isin(TextFns.langStopwords.head._2: _*))).as("stop_hits"),
          round(TextFns.meanTokenLen(col("text")), 6).as("mean_token_len"))
        .orderBy(col("doc_id")),
      Some(s"""WITH toks AS (SELECT doc_id, length(text) AS len_chars,
             |  list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents)
             |SELECT doc_id, len(t) AS n_tokens, len_chars,
             |  len(list_filter(t, x -> x IN (${TextFns.langStopwords.head._2.map("'" + _ + "'").mkString(",")}))) AS stop_hits,
             |  CASE WHEN len(t) = 0 THEN 0.0 ELSE round(CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len(t), 6) END AS mean_token_len
             |FROM toks ORDER BY doc_id""".stripMargin)),

    // Stopword-argmax language ID (engine-defined heuristic, same
    // CASE logic on both sides; ties prefer list order en>es>de>fr).
    Q("q19_lang_id",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"), TextFns.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id")),
      Some {
        val hitsCols = TextFns.langStopwords.map { case (lang, words) =>
          s"len(list_filter(t, x -> x IN (${words.map("'" + _ + "'").mkString(",")}))) AS h_$lang"
        }.mkString(",\n  ")
        val best = "greatest(" + TextFns.langStopwords.map("h_" + _._1).mkString(", ") + ")"
        val pick = TextFns.langStopwords.map { case (lang, _) =>
          s"WHEN h_$lang = best AND best > 0 THEN '$lang'"
        }.mkString(" ")
        s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents),
           |hits AS (SELECT doc_id,
           |  $hitsCols
           |FROM toks),
           |scored AS (SELECT doc_id, h_en, h_es, h_de, h_fr, $best AS best FROM hits)
           |SELECT doc_id, CASE $pick ELSE 'und' END AS lang_pred
           |FROM scored ORDER BY doc_id""".stripMargin
      }),

    // Repetition/boilerplate quality signals (the C4/Gopher-style
    // repetition filters): distinct-token and distinct-line ratios,
    // flagged when the document is mostly repeated content. Pure
    // column exprs; oracle repeats the list arithmetic.
    Q("q73_repetition",
      (s, dir) => {
        val toks = TextFns.tokens(col("text"))
        val lines = split(col("text"), "\n")
        val tokRatio = when(size(toks) === 0, lit(1d))
          .otherwise(size(array_distinct(toks)).cast(DoubleType) /
            size(toks).cast(DoubleType))
        val lineRatio = size(array_distinct(lines)).cast(DoubleType) /
          size(lines).cast(DoubleType)
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            round(tokRatio, 6).as("distinct_token_ratio"),
            round(lineRatio, 6).as("distinct_line_ratio"),
            (tokRatio < 0.3 || lineRatio < 0.5).as("is_repetitive"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t,
             |    string_split(text, chr(10)) AS l
             |  FROM documents),
             |r AS (SELECT doc_id,
             |    CASE WHEN len(t) = 0 THEN CAST(1 AS DOUBLE)
             |      ELSE CAST(len(list_distinct(t)) AS DOUBLE)
             |        / CAST(len(t) AS DOUBLE) END AS tr,
             |    CAST(len(list_distinct(l)) AS DOUBLE)
             |      / CAST(len(l) AS DOUBLE) AS lr
             |  FROM base)
             |SELECT doc_id, round(tr, 6) AS distinct_token_ratio,
             |  round(lr, 6) AS distinct_line_ratio,
             |  (tr < 0.3 OR lr < 0.5) AS is_repetitive
             |FROM r ORDER BY doc_id""".stripMargin)),

    // Word-frequency top-k (global sort + limit with total tiebreak).
    Q("q20_word_freq",
      (s, dir) => Tables(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(50),
      Some("""SELECT word, COUNT(*) AS n
             |FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS word FROM documents)
             |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin)),

    // Exact dedup on a derived key (first-3-token prefix): keep the
    // min-id representative per key (process_pois.py:495 semantics,
    // distributed via window, no driver-side dict).
    Q("q21_dedup_exact",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .withColumn("prefix",
            array_join(slice(TextFns.tokens(col("text")), 1, 3), " "))
        Dedup.exact(docs, "prefix", "doc_id")
          .select(col("doc_id"), col("prefix"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH k AS (SELECT doc_id,
             |  COALESCE(array_to_string(list_slice(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''), 1, 3), ' '), '') AS prefix
             |  FROM documents)
             |SELECT MIN(doc_id) AS doc_id, prefix FROM k GROUP BY prefix
             |ORDER BY doc_id""".stripMargin)),

    // MinHash-LSH near-dup candidate pairs: shingle → 16 minhashes →
    // 4 bands → bucket join. Oracle reproduces the identical signature
    // pipeline in SQL (no approximation gap).
    Q("q22_minhash_lsh",
      (s, dir) => Dedup.minhashCandidates(
        Tables(s, dir, "documents"), "doc_id", "text",
        n = ShingleN, bands = Bands, rowsPerBand = RowsPerBand)
        .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH $minhashSigSql,
             |banded AS (
             |  $bandsSql),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
             |  WHERE a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b,
             |  CAST($matchCount AS DOUBLE) / ${Bands * RowsPerBand} AS est_jaccard
             |FROM cand
             |JOIN sig sa ON sa.doc_id = doc_a
             |JOIN sig sb ON sb.doc_id = doc_b
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Exact n-gram Jaccard verification of the LSH candidates, via
    // the shared-shingle-scan composition (one corpus-sized shingle
    // projection feeds both the minhash and verify legs).
    Q("q23_jaccard_verify",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Dedup.lshVerified(docs, "doc_id", "text",
          n = ShingleN, bands = Bands, rowsPerBand = RowsPerBand)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH $minhashSigSql,
             |banded AS (
             |  $bandsSql),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
             |  WHERE a.doc_id < b.doc_id),
             |cnt AS (SELECT doc_id, COUNT(DISTINCT s) AS nsh FROM sh GROUP BY doc_id),
             |inters AS (SELECT c.doc_a, c.doc_b, COUNT(DISTINCT sa.s) AS inter
             |  FROM cand c
             |  JOIN sh sa ON sa.doc_id = c.doc_a
             |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
             |  GROUP BY c.doc_a, c.doc_b)
             |SELECT c.doc_a, c.doc_b,
             |  round(CASE WHEN ca.nsh + cb.nsh - COALESCE(i.inter, 0) = 0 THEN 0.0
             |    ELSE CAST(COALESCE(i.inter, 0) AS DOUBLE) / (ca.nsh + cb.nsh - COALESCE(i.inter, 0)) END, 6) AS jaccard
             |FROM cand c
             |LEFT JOIN inters i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
             |JOIN cnt ca ON ca.doc_id = c.doc_a
             |JOIN cnt cb ON cb.doc_id = c.doc_b
             |ORDER BY c.doc_a, c.doc_b""".stripMargin)),

    // Full near-dup pipeline to a SURVIVOR SET (the SlimPajama /
    // RefinedWeb shape): LSH candidate pairs → threshold on estimated
    // jaccard → connected components over the pair graph → keep the
    // min-id document per component. Composes Dedup.minhashCandidates
    // with the generic ClusterUnify.components kernel (pointer-jumping
    // min-label propagation, O(log diameter) rounds) — transitive
    // closure, so A~B and B~C dedupe A,B,C even when A,C never
    // collided in any band. The oracle replays the UNGUARDED signature
    // pipeline plus a recursive-CTE reachability closure; parity holds
    // below minhashCandidates' maxBucket cap (no bucket approaches it
    // at oracle scale) — the hot-bucket star fallback beyond it is
    // pinned by DedupSkewSpec, not by this oracle.
    Q("q86_dedup_survivors",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
          n = ShingleN, bands = Bands, rowsPerBand = RowsPerBand)
          .filter(col("est_jaccard") >= 0.5) // = 8 of 16 signature rows
          .select(col("id_a"), col("id_b"))
        val edges = pairs
          .select(col("id_a").as("_src"), col("id_b").as("_dst"))
          .unionByName(pairs.select(col("id_b").as("_src"), col("id_a").as("_dst")))
        graft.operators.ClusterUnify
          .components(docs.select(col("doc_id").as("_id")), edges)
          .select(col("_id").as("doc_id"), col("_lbl").as("cluster_id"),
            (col("_id") === col("_lbl")).as("is_survivor"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $minhashSigSql,
             |banded AS (
             |  $bandsSql),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
             |  WHERE a.doc_id < b.doc_id),
             |near AS (SELECT doc_a, doc_b FROM cand
             |  JOIN sig sa ON sa.doc_id = doc_a
             |  JOIN sig sb ON sb.doc_id = doc_b
             |  WHERE ($matchCount) >= 8),
             |edges AS (SELECT doc_a AS ka, doc_b AS kb FROM near
             |  UNION ALL SELECT doc_b, doc_a FROM near),
             |reach(k, lbl) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.kb, r.lbl FROM reach r JOIN edges e ON e.ka = r.k
             |  WHERE r.lbl < e.kb),
             |comp AS (SELECT k AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY k)
             |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_survivor
             |FROM comp ORDER BY doc_id""".stripMargin)),

    // SimHash fingerprint per document (md5-vote construction).
    Q("q24_simhash",
      (s, dir) => graft.operators.Dedup.simhashBuckets(
        Tables(s, dir, "documents"), "doc_id", "text", bits = 16)
        .orderBy(col("doc_id")),
      Some(
        s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents)
           |SELECT doc_id, CAST(${simhashSql(16)} AS BIGINT) AS simhash
           |FROM toks ORDER BY doc_id""".stripMargin)),

    // SimHash near-dup pairs within Hamming distance 3 via the banding
    // pigeonhole (60-bit fingerprint, 4 bands of 15 bits — a pair
    // within distance 3 must agree exactly on one of the 4 bands, so
    // the bucket equi-join has perfect recall); candidates verified
    // with bit_count(xor). No cross join on either side.
    Q("q74_simhash_neardup",
      (s, dir) => graft.operators.Dedup.simhashPairsWide(
        Tables(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
        .orderBy(col("doc_a"), col("doc_b")),
      Some {
        // classic simhash: ONE md5 per token; bit b of the 60-bit
        // fingerprint votes with bit b of the token hash (first 15
        // md5 hex digits). Mirrors graft.functions.SimHashWide.
        val bitTerms = (0 until 60).map { b =>
          s"""CASE WHEN list_sum(list_transform(hv, h ->
             |    CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             |  THEN ${1L << b} ELSE 0 END""".stripMargin
        }.mkString(" +\n  ")
        // band layout for bits=60, 4 bands: width 15 at offsets 0,15,30,45
        val bandSelects = (0 until 4).map { b =>
          s"SELECT doc_id, sh, $b AS band, (sh >> ${b * 15}) & ${(1L << 15) - 1} AS bval FROM sim"
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH toks AS (SELECT doc_id,
           |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
           |  FROM documents),
           |hs AS (SELECT doc_id,
           |    list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hv
           |  FROM toks),
           |sim AS (SELECT doc_id, CAST($bitTerms AS BIGINT) AS sh FROM hs),
           |banded AS (
           |  $bandSelects),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    a.sh AS sa, b.sh AS sb
           |  FROM banded a JOIN banded b ON a.band = b.band AND a.bval = b.bval
           |  WHERE a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
           |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // Winnowing fingerprint overlap (rolling k-gram hash + window
    // min, SIGMOD'03 / MOSS): pairs of documents sharing >= 5
    // winnowed substring fingerprints (k=16 chars, window 8 — any
    // shared run of >= 23 chars leaves a shared fingerprint), found
    // by an inverted-index equi-join on fingerprint value with the
    // over-common-fingerprint filter (df <= 20) as skew guard.
    // Parameters were swept against the corpus: 8-char grams flag
    // ~60% of all doc pairs on template-heavy synthetic text, 16-char
    // grams isolate the ~26 genuine overlap pairs. The Spark side
    // winnows inside one codegen'd expression — no per-position row
    // explosion; the oracle replays the same explode → window-min →
    // distinct pipeline in SQL.
    Q("q75_winnowing",
      (s, dir) => graft.operators.Dedup.winnowingPairs(
        Tables(s, dir, "documents"), "doc_id", "text",
        k = 16, w = 8, maxDf = 20, minShared = 5)
        .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
        .orderBy(col("doc_a"), col("doc_b")),
      Some("""WITH d AS (SELECT doc_id, trim(text) AS t FROM documents),
             |pos AS (SELECT doc_id, t, unnest(range(1, length(t) - 14)) AS p FROM d),
             |h AS (SELECT doc_id, p,
             |    ('0x' || substr(md5(substr(t, p, 16)), 1, 8))::BIGINT AS hv FROM pos),
             |wmin AS (SELECT doc_id, p,
             |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY p
             |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fp FROM h),
             |fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE p >= 8),
             |keep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 20),
             |kept AS (SELECT doc_id, fp FROM fps WHERE fp IN (SELECT fp FROM keep)),
             |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    CAST(COUNT(*) AS BIGINT) AS shared
             |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, shared FROM pairs WHERE shared >= 5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // TF-IDF top terms per document: tf = in-doc term count, df =
    // docs containing the term, score = tf * ln(N/df). Ranking uses
    // the integer-deterministic (tf DESC, df ASC, term) ordering —
    // higher frequency then rarer term — so cross-engine ln() ulp
    // differences can't flip ranks; the score itself is rounded to
    // 6dp. Two shuffles (doc-term, term) + a broadcast of the scalar
    // doc count — the 100 TB shape for inverse-document-frequency.
    Q("q76_tfidf_topterms",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        // LocalExact hybrid (the q98/q121 convention): tf, df and the
        // per-doc top-3 in one sequential pass — same tie-break
        // (tf desc, df asc, term in UTF8 order), same BigDecimal
        // HALF_UP round-6 as Catalyst's round(x, 6)
        val localOut = graft.operators.LocalExact(
          docs.select(col("doc_id"), col("text")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", LongType),
            org.apache.spark.sql.types.StructField("term", StringType),
            org.apache.spark.sql.types.StructField("tf", LongType),
            org.apache.spark.sql.types.StructField("df_docs", LongType),
            org.apache.spark.sql.types.StructField("tfidf", DoubleType),
            org.apache.spark.sql.types.StructField("rnk",
              org.apache.spark.sql.types.IntegerType))),
          200000L) { it =>
          import graft.functions.Md5Kernel
          val rows = it.map(r => (r.getLong(0), r.getString(1))).toArray
          val perDoc = rows.map { case (id, t) =>
            val tf = new java.util.HashMap[String, Long]()
            Md5Kernel.tokenize(t).foreach(w => tf.merge(w, 1L, _ + _))
            (id, tf)
          }
          val df = new java.util.HashMap[String, Long]()
          perDoc.foreach(_._2.forEach((w, _) => df.merge(w, 1L, _ + _)))
          val nDocs = rows.length.toLong
          perDoc.iterator.flatMap { case (id, tf) =>
            val terms = new Array[(String, Long, Long)](tf.size)
            var i = 0
            tf.forEach { (w, c) => terms(i) = (w, c, df.get(w)); i += 1 }
            val top = terms.sortWith { case ((w1, t1, d1), (w2, t2, d2)) =>
              if (t1 != t2) t1 > t2
              else if (d1 != d2) d1 < d2
              else Md5Kernel.utf8Lt(w1, w2)
            }.take(3)
            top.iterator.zipWithIndex.map { case ((w, t, d), r0) =>
              val tfidf = java.math.BigDecimal.valueOf(
                t * math.log(nDocs.toDouble / d.toDouble))
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              org.apache.spark.sql.Row(id, w, t, d, tfidf, r0 + 1)
            }
          }
        }
        localOut.map(_.orderBy(col("doc_id"), col("rnk"))).getOrElse {
        val terms = docs
          .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        val tf = terms.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term"))
          .agg(count(lit(1)).as("df_docs"))
        val n = docs.select(count(lit(1)).as("n_docs"))
        // bounded top-k buffer (the q06/q167 physical operator)
        // instead of a full per-doc window sort
        graft.plans.TopKPhysical.topK(
          tf.join(df, "term").crossJoin(broadcast(n)),
          Seq("doc_id"),
          Seq(("tf", false), ("df_docs", true), ("term", true)),
          k = 3, rankName = "rnk")
          .select(col("doc_id"), col("term"), col("tf"), col("df_docs"),
            round(col("tf") * log(col("n_docs").cast(DoubleType) /
              col("df_docs").cast(DoubleType)), 6).as("tfidf"),
            col("rnk"))
          .orderBy(col("doc_id"), col("rnk"))
        }
      },
      Some("""WITH terms AS (SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS term
             |  FROM documents WHERE trim(text) <> ''),
             |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM terms GROUP BY doc_id, term),
             |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs
             |  FROM tf GROUP BY term),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
             |ranked AS (SELECT doc_id, tf.term AS term, tf, df_docs, n_docs,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id
             |      ORDER BY tf DESC, df_docs, tf.term) AS rnk
             |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
             |SELECT doc_id, term, tf, df_docs,
             |  round(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df_docs AS DOUBLE)), 6) AS tfidf,
             |  rnk
             |FROM ranked WHERE rnk <= 3
             |ORDER BY doc_id, rnk""".stripMargin)),

    // Train/test contamination check (the GPT-3 appendix-C /
    // C4-style 13-gram decontamination): hold out sources src0/src1
    // as the eval split, hash every 13-token shingle on both sides
    // (one codegen md5 pass), and count per eval doc how many of its
    // distinct shingles also occur anywhere in the training split.
    // Scale shape: the training side collapses to a DISTINCT hash set
    // (one shuffle over near-uniform 32-bit hashes — no hot keys by
    // construction), membership is a hash equi-join, and no text
    // moves after the scan. At 100 TB this is the standard
    // decontamination sweep shape: grams-of-train as a build side,
    // test grams probe it.
    Q("q81_contamination",
      (s, dir) => {
        val n = 13
        val holdout = Seq("src0", "src1")
        val docs = Tables(s, dir, "documents")
        val par = s.sparkContext.defaultParallelism
        // per-doc dedup INSIDE the hash array (the q133 shape): the
        // exploded (doc, hv) pairs are unique by construction, so the
        // corpus-wide DISTINCT shuffle disappears and the checkpoint
        // stores compact arrays instead of exploded rows
        val docGrams = docs
          .repartition(par, col("doc_id"))
          .select(col("doc_id"), col("source"),
            array_distinct(graft.functions.ShingleHashes(col("text"), n))
              .as("arr"))
          .localCheckpoint(eager = false) // feeds both splits below
        // LocalExact hybrid: train-set build + per-test-doc membership
        // count in one sequential pass over the checkpointed arrays
        val localOut = graft.operators.LocalExact(docGrams,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", LongType),
            org.apache.spark.sql.types.StructField("n_grams", LongType),
            org.apache.spark.sql.types.StructField("n_contaminated", LongType),
            org.apache.spark.sql.types.StructField("contamination", DoubleType))),
          200000L) { it =>
          val ho = holdout.toSet
          val train = new java.util.HashSet[Long]()
          val test = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
          it.foreach { r =>
            val arr = r.getSeq[Long](2).toArray
            if (ho.contains(r.getString(1))) test += ((r.getLong(0), arr))
            else arr.foreach(h => train.add(h))
          }
          test.iterator.filter(_._2.nonEmpty).map { case (id, arr) =>
            val hit = arr.count(train.contains).toLong
            org.apache.spark.sql.Row(id, arr.length.toLong, hit,
              java.math.BigDecimal.valueOf(hit.toDouble / arr.length)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
          }
        }
        localOut.map(_.orderBy(col("doc_id"))).getOrElse {
        val train = docGrams.filter(!col("source").isin(holdout: _*))
          .select(explode(col("arr")).as("hv")).distinct()
        val test = docGrams.filter(col("source").isin(holdout: _*))
          .select(col("doc_id"), explode(col("arr")).as("hv"))
        test.join(train.withColumn("_hit", lit(1)), Seq("hv"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("_hit"), lit(0))).cast("bigint").as("n_contaminated"))
          .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
            round(col("n_contaminated").cast(DoubleType) /
              col("n_grams").cast(DoubleType), 6).as("contamination"))
          .orderBy(col("doc_id"))
        }
      },
      Some("""WITH toks AS (SELECT doc_id, source,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t FROM documents),
             |sh AS (SELECT doc_id, source,
             |    array_to_string(list_slice(t, i, i + 12), ' ') AS s
             |  FROM toks, unnest(generate_series(1, len(t) - 12)) AS u(i)
             |  WHERE len(t) >= 13),
             |h AS (SELECT DISTINCT doc_id, source,
             |    ('0x' || substr(md5(s), 1, 8))::BIGINT AS hv FROM sh),
             |train AS (SELECT DISTINCT hv FROM h
             |  WHERE source NOT IN ('src0', 'src1')),
             |test AS (SELECT doc_id, hv FROM h WHERE source IN ('src0', 'src1'))
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  CAST(SUM(CASE WHEN hv IN (SELECT hv FROM train)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
             |  round(CAST(SUM(CASE WHEN hv IN (SELECT hv FROM train)
             |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS contamination
             |FROM test GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Training-mixture construction (Pile/LLaMA-style source
    // weighting): each source gets a mixture weight; weight > 1 means
    // UPSAMPLING (docs repeat floor(w) times plus one more for a
    // deterministic hash-fraction of docs), weight < 1 downsampling.
    // The fractional part is decided by an integer hash threshold
    // (first 8 md5 hex digits vs floor(frac(w)·2^32)) — no RNG state,
    // so the mixture is reproducible and any shard can be rebuilt
    // independently at 100 TB. A consumer materializes replicas with
    // explode(sequence(1, copies)); this report aggregates the copy
    // counts directly (copies >= 0 always, so sum(copies) IS the
    // emitted-row count — no explode needed to count it).
    Q("q87_source_mixture",
      (s, dir) => {
        // weights: src0→2.5, src1→1.0, src2→0.5, src3→0.25, rest→0.1
        val base = when(col("source") === "src0", 2L)
          .when(col("source") === "src1", 1L).otherwise(0L)
        val thr = when(col("source") === "src0", 2147483648L) // frac .5
          .when(col("source") === "src1", 0L)
          .when(col("source") === "src2", 2147483648L)        // frac .5
          .when(col("source") === "src3", 1073741824L)        // frac .25
          .otherwise(429496729L)                              // frac .1
        val docs = Tables(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            conv(substring(md5(concat(lit("mix:"),
              col("doc_id").cast(StringType))), 1, 8), 16, 10)
              .cast(LongType).as("hv"))
          .withColumn("copies",
            base + when(col("hv") < thr, 1L).otherwise(0L))
        docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("copies")).as("n_emitted"))
          .select(col("source"), col("n_docs"), col("n_emitted"),
            round(col("n_emitted").cast(DoubleType) /
              col("n_docs").cast(DoubleType), 4).as("effective_rate"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT source, doc_id,
             |    ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
             |  FROM documents),
             |c AS (SELECT source, doc_id,
             |    (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1 ELSE 0 END)
             |    + (CASE WHEN hv < (CASE source
             |        WHEN 'src0' THEN 2147483648 WHEN 'src1' THEN 0
             |        WHEN 'src2' THEN 2147483648 WHEN 'src3' THEN 1073741824
             |        ELSE 429496729 END) THEN 1 ELSE 0 END) AS copies
             |  FROM d)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(copies) AS BIGINT) AS n_emitted,
             |  round(CAST(SUM(copies) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 4) AS effective_rate
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // Sequence packing for pretraining batches: fill 2048-token
    // context windows with documents in deterministic doc_id order
    // within each (source, shard) packing unit; sequence id =
    // cumulative-tokens-before div 2048. The shard dimension
    // (fixed-size doc_id blocks) is the scale guard: a window
    // partitioned by source alone would funnel an entire source —
    // terabytes in a real corpus — through ONE task, while shards cap
    // every window group at a constant row count, and sequence
    // boundaries never needed cross-shard continuity in the first
    // place (each training sequence is independent). fill_ratio
    // divides by a power of two, so the double is exact; each shard's
    // last bin underfills — exactly the padding waste a packing
    // report exists to surface.
    Q("q88_sequence_packing",
      (s, dir) => {
        val shardDocs = 200L // docs per packing unit — bounds any window group
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), col("shard_id")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        Tables(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            TextFns.tokenCount(col("text")).cast(LongType).as("n_tokens"))
          .withColumn("shard_id", expr(s"doc_id div $shardDocs"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("seq_id", expr("(cum - n_tokens) div 2048"))
          .groupBy(col("source"), col("shard_id"), col("seq_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"),
            min(col("doc_id")).as("first_doc"))
          .select(col("source"), col("shard_id"), col("seq_id"), col("n_docs"),
            col("seq_tokens"),
            round(col("seq_tokens").cast(DoubleType) / lit(2048.0), 6)
              .as("fill_ratio"), col("first_doc"))
          .orderBy(col("source"), col("shard_id"), col("seq_id"))
      },
      Some("""WITH t AS (SELECT source, doc_id, doc_id // 200 AS shard_id,
             |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT source, shard_id, doc_id, n_tokens,
             |    CAST(SUM(n_tokens) OVER (PARTITION BY source, shard_id
             |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t),
             |p AS (SELECT source, shard_id, doc_id, n_tokens,
             |    (cum - n_tokens) // 2048 AS seq_id FROM c)
             |SELECT source, shard_id, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
             |  round(CAST(SUM(n_tokens) AS DOUBLE) / CAST(2048 AS DOUBLE), 6) AS fill_ratio,
             |  MIN(doc_id) AS first_doc
             |FROM p GROUP BY source, shard_id, seq_id
             |ORDER BY source, shard_id, seq_id""".stripMargin)),

    // Corpus DATACARD rollup (the release artifact every corpus ships
    // with — Dolma/RedPajama-style): per (lang × quality-quintile)
    // and marginals via ROLLUP, doc counts, token totals, and the
    // exact quality mass. Derived features reuse the verified kernels
    // (tokenCount, qualityScore); quality sums accumulate as
    // DECIMAL(18,6) so partial-aggregation order can't change the
    // double emitted at the end. One pass over the corpus, one
    // rollup shuffle.
    Q("q90_corpus_datacard",
      (s, dir) => {
        val base = Tables(s, dir, "documents")
          .select(col("lang"),
            TextFns.tokenCount(col("text")).cast(LongType).as("n_tokens"),
            TextFns.qualityScore(col("text"), TextFns.langStopwords.head._2)
              .as("q"))
          .withColumn("qbucket",
            least(floor(col("q") * 5).cast(IntegerType), lit(4)))
        base.rollup(col("lang"), col("qbucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            sum(col("q").cast(DecimalType(18, 6))).cast(DoubleType)
              .as("sum_quality"))
          .select(coalesce(col("lang"), lit("ALL")).as("lang"),
            coalesce(col("qbucket"), lit(-1)).as("quality_bucket"),
            col("n_docs"), col("total_tokens"), col("sum_quality"))
          .orderBy(col("lang"), col("quality_bucket"))
      },
      Some(s"""WITH ${qualitySql("lang")},
             |b AS (SELECT lang, least(CAST(floor(quality * 5) AS INT), 4) AS qbucket,
             |  n_tokens, quality FROM qx)
             |SELECT coalesce(lang, 'ALL') AS lang,
             |  coalesce(qbucket, -1) AS quality_bucket,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             |  CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
             |FROM b GROUP BY ROLLUP (lang, qbucket)
             |ORDER BY lang, quality_bucket""".stripMargin)),

    // Composite quality score (north-star text op; identical IEEE
    // double expression tree on both sides).
    Q("q25_quality_score",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextFns.qualityScore(col("text"), TextFns.langStopwords.head._2)
            .as("quality"))
        .orderBy(col("doc_id")),
      Some(s"""WITH ${qualitySql("doc_id")}
             |SELECT doc_id, quality FROM qx ORDER BY doc_id""".stripMargin)),

    // Corpus-trained statistical quality model (CCNet's perplexity
    // filter, exactly-reproducible form): add-one smoothed char-bigram
    // LM trained on the corpus, each doc scored by mean smoothed
    // probability (scaled long) and mean INTEGER floor-log2 surprisal
    // — floating log2 would make floor() engine-dependent at exact
    // powers of two, so both engines use length(bin(p))-1. Train =
    // wordcount-shaped aggregate (map-side combine to ≤|alphabet|²
    // rows); score = broadcast model + one doc-keyed shuffle.
    Q("q98_lm_quality",
      (s, dir) =>
        graft.operators.NgramLm.selfScore(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text")
          .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id, text FROM documents),
             |bg AS (SELECT doc_id, substr(text, CAST(i AS INT), 2) AS g
             |  FROM d, unnest(range(1, length(text))) AS u(i)
             |  WHERE length(text) >= 2),
             |gc AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cab FROM bg GROUP BY g),
             |ca AS (SELECT substr(g, 1, 1) AS a, CAST(SUM(cab) AS BIGINT) AS ca
             |  FROM gc GROUP BY 1),
             |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM ca),
             |model AS (SELECT g, cab, ca, vsz
             |  FROM gc JOIN ca ON substr(g, 1, 1) = a CROSS JOIN v),
             |sc AS (SELECT doc_id,
             |    CAST((2*CAST(1000000000000 AS HUGEINT)*(cab + 1) + (ca + vsz))
             |      // (2*(ca + vsz)) AS BIGINT) AS p
             |  FROM bg JOIN model USING (g)),
             |s2 AS (SELECT doc_id, p,
             |    CAST(40 - (length(bin(GREATEST(p, 1))) - 1) AS BIGINT) AS s FROM sc),
             |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |    SUM(p) AS sp, SUM(s) AS ss FROM s2 GROUP BY doc_id)
             |SELECT d.doc_id,
             |  COALESCE(n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
             |  CASE WHEN n_bigrams IS NULL THEN NULL
             |    ELSE CAST((2*sp + n_bigrams) // (2*n_bigrams) AS BIGINT)
             |    END AS mean_p_scaled,
             |  CASE WHEN n_bigrams IS NULL THEN NULL
             |    ELSE CAST(CAST((2*(ss*1000000) + n_bigrams) // (2*n_bigrams) AS BIGINT)
             |      AS DOUBLE) / CAST(1000000 AS DOUBLE)
             |    END AS mean_surprisal
             |FROM d LEFT JOIN agg USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // DSIR data selection (arXiv:2302.03169): hashed-bigram bucket
    // models (B=256, md5 bucketing — the registry's deterministic
    // hash) over target = English docs vs source = the rest; each doc
    // scored by the integer floor-log2 importance weight
    // Σ fl2(p_target(bucket)) − fl2(p_source(bucket)), top-100
    // selected through the bounded-buffer global top-k (constant
    // group key; ≤ k rows per partition cross the wire). Add-one
    // smoothing over the CLOSED bucket space gives both models a
    // probability for every bucket — no unseen-gram asymmetry.
    // The oracle CASTs SUM(dlw) to BIGINT: DuckDB widens SUM(BIGINT)
    // to HUGEINT, which arrow-based compares read as decimal128 and
    // format differently than Spark's int64 — values equal, hashes
    // not (scripts/check.py pins the types).
    Q("q99_dsir_select",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val sel = graft.operators.DsirSelect.select(
          d.select(col("doc_id"), col("text"), col("lang")),
          "doc_id", "text", col("lang") === "en", 256, 100)
        sel.join(d.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("n_bigrams"),
            col("dsir_logw"))
          .orderBy(col("dsir_logw").desc, col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, lang, text FROM documents),
             |bg AS (SELECT doc_id, lang = 'en' AS tgt,
             |    substr(text, CAST(i AS INT), 2) AS g
             |  FROM d, unnest(range(1, length(text))) AS u(i)
             |  WHERE length(text) >= 2),
             |bk AS (SELECT doc_id, tgt,
             |    ('0x' || substr(md5(g), 1, 8))::BIGINT % 256 AS b FROM bg),
             |m AS (SELECT b,
             |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             |    CAST(SUM(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS cs
             |  FROM bk GROUP BY b),
             |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
             |    CAST(SUM(cs) AS BIGINT) AS ns FROM m),
             |w AS (SELECT b,
             |    CAST((length(bin(GREATEST(CAST((2*CAST(1000000000000 AS HUGEINT)*(ct + 1)
             |        + (nt + 256)) // (2*(nt + 256)) AS BIGINT), 1))) - 1)
             |      - (length(bin(GREATEST(CAST((2*CAST(1000000000000 AS HUGEINT)*(cs + 1)
             |        + (ns + 256)) // (2*(ns + 256)) AS BIGINT), 1))) - 1)
             |      AS BIGINT) AS dlw
             |  FROM m CROSS JOIN tot),
             |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |    CAST(SUM(dlw) AS BIGINT) AS dsir_logw
             |  FROM bk JOIN w USING (b) GROUP BY doc_id),
             |sel AS (SELECT doc_id, n_bigrams, dsir_logw FROM agg
             |  ORDER BY dsir_logw DESC, doc_id LIMIT 100)
             |SELECT doc_id, lang, n_bigrams, dsir_logw
             |FROM sel JOIN d USING (doc_id)
             |ORDER BY dsir_logw DESC, doc_id""".stripMargin)),

    // BPE tokenizer-training merge step (Sennrich et al. 2016,
    // arXiv:1508.07909): count adjacent symbol pairs and surface the
    // top merge candidates. The real-trainer shape: pair counting
    // runs over the DISTINCT-word frequency table (vocab-sized),
    // never the corpus-sized token stream — the corpus is touched
    // exactly once, by the word-frequency wordcount whose map-side
    // combine collapses it inside the scan tasks. One step per query
    // (the q89 Lloyd-step convention); a driver loop composes steps
    // into a full merge table.
    Q("q100_bpe_pairs",
      (s, dir) => {
        val wf = Tables(s, dir, "documents")
          .select(explode(TextFns.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).cast(LongType).as("freq"))
        wf.filter(length(col("word")) >= 2)
          .select(col("freq"),
            explode(expr("transform(sequence(1, length(word) - 1), " +
              "i -> substring(word, i, 2))")).as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(20)
      },
      Some("""WITH w AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS word FROM documents),
             |wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
             |  FROM w GROUP BY word),
             |p AS (SELECT freq, substr(word, CAST(i AS INT), 2) AS pair
             |  FROM wf, unnest(range(1, length(word))) AS u(i)
             |  WHERE length(word) >= 2)
             |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
             |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin)),

    // BPE tokenizer APPLY (the other half of q100's trainer step):
    // encode every distinct corpus word with a trained merge table.
    // The merge table is a tokenizer ARTIFACT (fixtures/
    // bpe_merges.parquet, trained offline by scripts/make_fixtures.py
    // running classic greedy BPE over the same corpus) — tens of rows,
    // collected once on the driver and unrolled into a chain of
    // literal regexp_replace calls (functions/BpeApply.scala), so the
    // encode is pure whole-stage codegen with no UDF. The corpus is
    // touched exactly once, by the distinct-word aggregate whose
    // map-side combine collapses it inside the scan tasks; the encode
    // then runs over the vocab-sized table. At 100 TB the vocabulary,
    // not the corpus, bounds the encode stage, and re-tokenizing the
    // full corpus is a broadcast join of these encodings back onto
    // the token stream. Oracle = fixtures/q101_expected.parquet, the
    // INDEPENDENT scanner-loop (greedy lowest-rank-first) encodings
    // from the Python trainer — equality also certifies the
    // rank-order-chain ≡ scanner-loop argument on this artifact.
    Q("q101_bpe_encode",
      (s, dir) => {
        val merges = graft.util.ParquetRead
          .read(s, graft.util.RepoRoot.fixture("bpe_merges.parquet"))
          .orderBy(col("rank")).collect().toSeq
          .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
        val toks = graft.functions.BpeApply.tokens(col("word"), merges)
        Tables(s, dir, "documents")
          .select(explode(TextFns.tokens(col("text"))).as("word"))
          .distinct()
          .select(col("word"),
            array_join(toks, " ").as("tokens"),
            size(toks).cast(LongType).as("n_tokens"))
          .orderBy(col("word"))
      },
      Some(s"""WITH w AS (SELECT DISTINCT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS word FROM documents)
             |SELECT w.word, array_to_string(f.tokens, ' ') AS tokens,
             |  f.n_tokens
             |FROM w JOIN '${graft.util.RepoRoot.fixture("q101_expected.parquet")}' f
             |  USING (word)
             |ORDER BY word""".stripMargin)),

    // Full in-engine BPE TRAINING (operators/BpeTrain.scala): drive
    // the q100 merge step in a loop to the complete rank-ordered
    // merge table. Unlike q100/q101 this oracle is COMPUTATIONAL, not
    // a frozen fixture — a recursive CTE that replays the identical
    // algorithm in DuckDB (pair-count aggregate + argmax + list_reduce
    // scanner apply; RE2 has no lookahead so the engine's regex apply
    // is not portable there) — so it verifies at ANY scale factor
    // even though the merge sequence itself is frequency- and so
    // SF-dependent. BpeTrainSpec additionally pins the engine-trained
    // table rank-for-rank to fixtures/bpe_merges.parquet, the
    // INDEPENDENT Python trainer's artifact, at the SF it was trained
    // on. 16 merges = the fixture trainer's N_MERGES.
    Q("q102_bpe_train",
      (s, dir) => {
        val wf = Tables(s, dir, "documents")
          .select(explode(TextFns.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).cast(LongType).as("freq"))
        graft.operators.BpeTrain.mergeTable(s, wf, 16)
      },
      Some("""WITH RECURSIVE wf AS (
             |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
             |    SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS word
             |    FROM documents) GROUP BY word
             |),
             |t(iter, word, freq, enc, bl, br) AS (
             |  SELECT 0, word, freq,
             |    substr(regexp_replace(word, '(.)', chr(1) || '\1', 'gs'), 2),
             |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
             |  FROM wf
             |  UNION ALL
             |  SELECT iter + 1, word, freq,
             |    substr(list_reduce(
             |      list_prepend(chr(2), string_split(enc, chr(1))),
             |      (acc, x) -> CASE WHEN ends_with(acc, chr(1) || b.nl) AND x = b.nr
             |                  THEN acc || x ELSE acc || chr(1) || x END), 3),
             |    b.nl, b.nr
             |  FROM t,
             |    (SELECT string_split(p, chr(2))[1] AS nl, string_split(p, chr(2))[2] AS nr
             |     FROM (
             |       SELECT p, SUM(f) AS n FROM (
             |         SELECT freq AS f, toks[i] || chr(2) || toks[i+1] AS p
             |         FROM (SELECT freq, string_split(enc, chr(1)) AS toks FROM t),
             |              unnest(range(1, len(toks))) AS u(i)
             |       ) GROUP BY p
             |     ) ORDER BY n DESC, string_split(p, chr(2))[1], string_split(p, chr(2))[2] LIMIT 1) b
             |  WHERE iter < 16
             |)
             |SELECT CAST(iter - 1 AS BIGINT) AS rank, MIN(bl) AS left, MIN(br) AS right
             |FROM t WHERE iter >= 1 GROUP BY iter ORDER BY rank""".stripMargin)),

    // Intra-document repeated-span scrub — the WITHIN-document half of
    // exact-substring deduplication (Lee et al. 2022,
    // arXiv:2107.06499; the cross-document half is q81/q86): a
    // k-token window that already occurred earlier in the same
    // document marks its whole span, and any token covered by a
    // repeated window's span is removed (first occurrence kept).
    // k = 3 here — the toy-scale analog of the paper's 50-token
    // spans, chosen so the synthetic corpus actually exercises the
    // removal path (287 affected docs at sf0.1; at k = 8 the corpus
    // has zero intra-doc repeats and the oracle would only verify
    // the pass-through).
    // Pure per-row higher-order functions over ≤|doc| arrays — zero
    // shuffle, codegen end to end; at 100 TB this runs entirely
    // inside the scan tasks and is the cheapest operator class there
    // is. Exact positional comparison (no hashing) keeps the oracle
    // trivially identical.
    Q("q107_selfrepeat_scrub",
      (s, dir) => Tables(s, dir, "documents")
        // EVERY intermediate (tokens, windows, sorted windows, span
        // starts, kept indices) is bound as a LAMBDA VARIABLE — a
        // `let` spelled element_at(transform(array(e), v -> …), 1) —
        // instead of a projected column: CollapseProject inlines a
        // projected column into each consumer's per-ELEMENT lambda
        // and re-runs its whole computation per element (the first
        // cut re-split the text for every token of every doc: 40 s
        // at sf0.1; a let chain is ~0.5 s). First occurrences come
        // from one (window, idx) sort — adjacent-equal in sorted
        // order = repeat — O(|w| log |w|) per row instead of
        // array_position's O(|w|²) scan; the DuckDB oracle keeps the
        // positional spelling, same result.
        .select(col("doc_id"), expr(
          """element_at(transform(array(
            |  filter(split(trim(text), '[ \\t\\n\\f\\r]+'), x -> x <> '')),
            |toks -> element_at(transform(array(
            |    CASE WHEN size(toks) < 3 THEN CAST(array() AS ARRAY<STRING>)
            |      ELSE transform(sequence(1, size(toks) - 2),
            |        i -> array_join(slice(toks, i, 3), ' ')) END),
            |  w -> element_at(transform(array(
            |      CASE WHEN size(w) < 1 THEN CAST(array() AS ARRAY<STRUCT<s: STRING, i: INT>>)
            |        ELSE array_sort(transform(sequence(1, size(w)),
            |          i -> named_struct('s', element_at(w, i), 'i', i))) END),
            |    srt -> element_at(transform(array(
            |        CASE WHEN size(srt) < 2 THEN CAST(array() AS ARRAY<INT>)
            |          ELSE transform(filter(sequence(2, size(srt)),
            |            p -> element_at(srt, p).s == element_at(srt, p - 1).s),
            |            p -> element_at(srt, p).i) END),
            |      spans -> element_at(transform(array(
            |          CASE WHEN size(toks) < 1 THEN CAST(array() AS ARRAY<INT>)
            |            ELSE filter(sequence(1, size(toks)),
            |              j -> size(filter(spans, x -> j >= x AND j <= x + 2)) = 0) END),
            |        kept -> named_struct(
            |          'n_tokens', CAST(size(toks) AS BIGINT),
            |          'n_removed', CAST(size(toks) - size(kept) AS BIGINT),
            |          'scrubbed', array_join(transform(kept,
            |             j -> element_at(toks, j)), ' '))), 1)), 1)), 1)), 1)), 1)""".stripMargin)
          .as("r"))
        .select(col("doc_id"),
          col("r.n_tokens").as("n_tokens"),
          col("r.n_removed").as("n_removed"),
          col("r.scrubbed").as("scrubbed"))
        .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |w8 AS (SELECT doc_id, toks,
             |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
             |      ELSE list_transform(range(1, len(toks) - 1),
             |        i -> array_to_string(list_slice(toks, i, i + 2), ' ')) END AS w
             |  FROM d),
             |sp AS (SELECT doc_id, toks,
             |    CASE WHEN len(w) < 1 THEN CAST([] AS INTEGER[])
             |      ELSE list_filter(range(1, len(w) + 1),
             |        i -> list_position(w, w[i]) < i) END AS spans
             |  FROM w8),
             |k AS (SELECT doc_id, toks,
             |    CASE WHEN len(toks) < 1 THEN CAST([] AS INTEGER[])
             |      ELSE list_filter(range(1, len(toks) + 1),
             |        j -> len(list_filter(spans, x -> j >= x AND j <= x + 2)) = 0) END AS kept
             |  FROM sp)
             |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
             |  COALESCE(array_to_string(list_transform(kept, j -> toks[j]), ' '), '')
             |    AS scrubbed
             |FROM k ORDER BY doc_id""".stripMargin)),

    // Inverted-index build — the retrieval-side artifact of a corpus
    // pipeline (tf postings per term, the structure behind BM25 and
    // the contamination probes): per-(term, doc) tf via one
    // map-side-combined groupBy over the token stream; per-term
    // document frequency, collection frequency, and an
    // IMPACT-ORDERED, TRUNCATED posting string (top-50 docs by
    // tf desc, doc_id tie-break — static index pruning, Carmel et
    // al. 2001) in cross-engine canonical "doc:tf" form. The
    // truncation is the scale guard: a stopword-class term's posting
    // list is capped at 50 entries instead of a corpus-sized row, so
    // no reducer ever materializes an unbounded aggregate. df ≥ 2
    // drops hapax noise. Full-stream stats and truncated postings
    // shuffle on the same term key (exchange-reusable).
    Q("q113_inverted_index",
      (s, dir) => {
        // LocalExact hybrid (the q76 convention): postings, stats and
        // the per-term top-50 in one sequential pass — same tie-break
        // (tf desc, doc asc), same "doc:tf" rank-ordered join
        val localOut = graft.operators.LocalExact(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("term", StringType),
            org.apache.spark.sql.types.StructField("df", LongType),
            org.apache.spark.sql.types.StructField("cf", LongType),
            org.apache.spark.sql.types.StructField("postings", StringType))),
          200000L) { it =>
          import graft.functions.Md5Kernel
          val byTerm = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
          it.foreach { r =>
            val id = r.getLong(0)
            val tf = new java.util.HashMap[String, Long]()
            Md5Kernel.tokenize(r.getString(1)).foreach(w => tf.merge(w, 1L, _ + _))
            tf.forEach { (w, c) =>
              byTerm.computeIfAbsent(w, _ =>
                scala.collection.mutable.ArrayBuffer.empty) += ((id, c))
            }
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          byTerm.forEach { (term, ps) =>
            if (ps.length >= 2) {
              val top = ps.sortWith { case ((d1, t1), (d2, t2)) =>
                if (t1 != t2) t1 > t2 else d1 < d2
              }.take(50)
              out += org.apache.spark.sql.Row(term, ps.length.toLong,
                ps.map(_._2).sum,
                top.map { case (d, t) => s"$d:$t" }.mkString(","))
            }
          }
          out.iterator
        }
        localOut.map(_.orderBy(col("term"))).getOrElse {
        val posting = Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).cast(LongType).as("tf"))
        val stats = posting.groupBy(col("term"))
          .agg(count(lit(1)).cast(LongType).as("df"),
            sum(col("tf")).cast(LongType).as("cf"))
        val tops = graft.operators.TopKPerGroup(posting,
            Seq(col("term")), Seq(col("tf").desc, col("doc_id")), 50)
          .groupBy(col("term"))
          .agg(array_join(transform(
            sort_array(collect_list(
              struct(col("rnk"), col("doc_id"), col("tf")))),
            x => concat_ws(":", x.getField("doc_id"), x.getField("tf"))),
            ",").as("postings"))
        stats.join(tops, "term").filter(col("df") >= 2)
          .select(col("term"), col("df"), col("cf"), col("postings"))
          .orderBy(col("term"))
        }
      },
      Some("""WITH t AS (SELECT doc_id,
             |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
             |      x -> x <> '')) AS term
             |  FROM documents),
             |p AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM t GROUP BY term, doc_id),
             |s AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             |    CAST(SUM(tf) AS BIGINT) AS cf
             |  FROM p GROUP BY term),
             |r AS (SELECT term, doc_id, tf, ROW_NUMBER() OVER
             |    (PARTITION BY term ORDER BY tf DESC, doc_id) AS rnk
             |  FROM p),
             |g AS (SELECT term,
             |    string_agg(doc_id || ':' || tf, ',' ORDER BY rnk)
             |      AS postings
             |  FROM r WHERE rnk <= 50 GROUP BY term)
             |SELECT s.term, df, cf, postings
             |FROM s JOIN g ON s.term = g.term
             |WHERE df >= 2 ORDER BY s.term""".stripMargin)),

    // Corpus-level boilerplate scrub (C4 / CCNet line-dedup adapted to
    // an unstructured corpus): a 3-gram window whose gram text occurs
    // in >= 5 DISTINCT documents is boilerplate; every token covered
    // by a boilerplate window is removed and the document re-joined.
    // Complements q107 (intra-doc self-repeats) with the CROSS-doc
    // frequency signal — the operation C4 applies to "any three-
    // sentence span seen before" and CCNet to repeated paragraphs.
    // Shape at scale: the gram→doc-frequency table is a wordcount
    // (two-phase countDistinct, map-side combined); the boilerplate
    // set is the Zipf head (df >= T keeps only the hot grams), so the
    // join back onto the positional window stream is AQE-broadcast-
    // able; per-doc span lists are bounded by document length. No
    // all-pairs stage anywhere — this is the bucketed shape that
    // survives a 100 TB corpus. reference: the dedup/scrub stage of
    // src/ETL_DOCS/processor.py (document-level); method: Raffel et
    // al. 2020 (C4, arXiv:1910.10683) §2.2, Wenzek et al. 2020
    // (CCNet, arXiv:1911.00359) §3.
    Q("q114_boilerplate_scrub",
      (s, dir) => {
        // LocalExact hybrid (the q153 convention, without the keeper
        // exemption): window df, boilerplate set and span scrub in
        // one sequential pass; EVERY doc surfaces (left-join shape)
        val localOut = graft.operators.LocalExact(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", LongType),
            org.apache.spark.sql.types.StructField("n_tokens", LongType),
            org.apache.spark.sql.types.StructField("n_removed", LongType),
            org.apache.spark.sql.types.StructField("scrubbed", StringType))),
          100000L) { it =>
          import graft.functions.Md5Kernel
          val docs = it.map(r => (r.getLong(0), Md5Kernel.tokenize(r.getString(1))))
            .toArray
          final case class G(var df: Long, var last: Long)
          val gs = new java.util.HashMap[String, G]()
          docs.foreach { case (id, toks) =>
            var i = 0
            while (i + 2 < toks.length) {
              val g = toks.slice(i, i + 3).mkString(" ")
              val e = gs.get(g)
              if (e == null) gs.put(g, G(1L, id))
              else if (e.last != id) { e.df += 1L; e.last = id }
              i += 1
            }
          }
          docs.iterator.map { case (id, toks) =>
            val removed = new Array[Boolean](toks.length)
            var i = 0
            while (i + 2 < toks.length) {
              if (gs.get(toks.slice(i, i + 3).mkString(" ")).df >= 5L) {
                removed(i) = true; removed(i + 1) = true; removed(i + 2) = true
              }
              i += 1
            }
            val kept = toks.indices.filterNot(removed).map(toks)
            org.apache.spark.sql.Row(id, toks.length.toLong,
              (toks.length - kept.length).toLong, kept.mkString(" "))
          }
        }
        localOut.map(_.orderBy(col("doc_id"))).getOrElse {
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("toks"))
        // positional windows via the codegen shingle kernel (pos is
        // 0-based, the span indices below are 1-based) — the old
        // named_struct transform lambda evaluated interpreted
        val win = Tables(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(graft.functions.TextFns.shingles(col("text"), 3))
              .as(Seq("p", "g")))
          .select(col("doc_id"), (col("p") + 1).as("i"), col("g"))
        val boiler = win.groupBy(col("g"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 5).select(col("g"))
        val spans = win.join(boiler, "g")
          .groupBy(col("doc_id")).agg(collect_set(col("i")).as("spans"))
        toks.join(spans, Seq("doc_id"), "left")
          .select(col("doc_id"), col("toks"),
            coalesce(col("spans"), expr("CAST(array() AS ARRAY<INT>)")).as("spans"))
          .select(col("doc_id"), col("toks"), expr(
            // size 0 guard: Spark's sequence(1, 0) DESCENDS ([1, 0])
            // instead of being empty — an unguarded empty doc would
            // index element_at(toks, 1) on a 0-element array
            """CASE WHEN size(toks) < 1 THEN CAST(array() AS ARRAY<INT>)
              |  ELSE filter(sequence(1, size(toks)),
              |    j -> NOT exists(spans, x -> j >= x AND j <= x + 2)) END"""
              .stripMargin).as("kept"))
          .select(col("doc_id"),
            size(col("toks")).cast(LongType).as("n_tokens"),
            (size(col("toks")) - size(col("kept"))).cast(LongType).as("n_removed"),
            array_join(expr("transform(kept, j -> element_at(toks, j))"), " ")
              .as("scrubbed"))
          .orderBy(col("doc_id"))
        }
      },
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |w AS (SELECT doc_id, i,
             |    array_to_string(list_slice(toks, i, i + 2), ' ') AS g
             |  FROM d, unnest(range(1, len(toks) - 1)) AS u(i)
             |  WHERE len(toks) >= 3),
             |b AS (SELECT g FROM w GROUP BY g
             |  HAVING COUNT(DISTINCT doc_id) >= 5),
             |sp AS (SELECT doc_id, list(DISTINCT i) AS spans
             |  FROM w JOIN b USING (g) GROUP BY doc_id),
             |k AS (SELECT d.doc_id, toks,
             |    COALESCE(spans, CAST([] AS BIGINT[])) AS spans
             |  FROM d LEFT JOIN sp ON d.doc_id = sp.doc_id),
             |k2 AS (SELECT doc_id, toks,
             |    list_filter(range(1, len(toks) + 1),
             |      j -> len(list_filter(spans, x -> j >= x AND j <= x + 2)) = 0) AS kept
             |  FROM k)
             |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
             |  COALESCE(array_to_string(list_transform(kept, j -> toks[j]), ' '), '')
             |    AS scrubbed
             |FROM k2 ORDER BY doc_id""".stripMargin)),

    // PMI collocations (Church & Hanks 1990 — public): which adjacent
    // word pairs co-occur more than chance? pmi = log2(P(w1w2) /
    // (P(w1)·P(w2))) = log2(c12·N_tok² / (N_bg·c1·c2)). Everything
    // the oracle compares is INTEGER: the ratio is scaled by 2²⁰ in
    // exact decimal(38,0) arithmetic and the log2 is the integer
    // floor-log2 (length(bin(r))-1, the q98 discipline) — a floating
    // log here would let 1-ulp differences flip a bucket. Shape at
    // scale: two wordcounts (unigram, bigram — map-side combined),
    // vocabulary-sized joins, two 1-row scalar totals broadcast;
    // c12 ≥ 5 keeps the output collocation-sized. The corpus is
    // touched exactly twice (token stream, bigram stream).
    Q("q121_pmi_collocations",
      (s, dir) => {
        val dec = DecimalType(38, 0)
        // LocalExact hybrid (the q98/q99 convention): below the doc
        // threshold the unigram/bigram counting and the exact
        // HUGEINT-wide PMI run in one sequential pass (BigInt; the
        // Md5Kernel.tokenize twin of TextFns.tokens)
        val localOut = graft.operators.LocalExact(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("w1", StringType),
            org.apache.spark.sql.types.StructField("w2", StringType),
            org.apache.spark.sql.types.StructField("c12", LongType),
            org.apache.spark.sql.types.StructField("c1", LongType),
            org.apache.spark.sql.types.StructField("c2", LongType),
            org.apache.spark.sql.types.StructField("pmi_fl2", LongType))),
          200000L) { it =>
          import graft.functions.Md5Kernel
          val uni = new java.util.HashMap[String, Long]()
          val bg = new java.util.HashMap[(String, String), Long]()
          var (n, m) = (BigInt(0), BigInt(0))
          it.foreach { r =>
            val t = Md5Kernel.tokenize(r.getString(1))
            t.foreach(w => uni.merge(w, 1L, _ + _))
            n += t.length
            var i = 0
            while (i + 1 < t.length) {
              bg.merge((t(i), t(i + 1)), 1L, _ + _); m += 1; i += 1
            }
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          bg.forEach { case ((w1, w2), c12) =>
            if (c12 >= 5L) {
              val (c1, c2) = (uni.get(w1), uni.get(w2))
              val r0 = (BigInt(c12) * n * n * 1048576L / (m * c1 * c2)).toLong
              out += org.apache.spark.sql.Row(w1, w2, c12, c1, c2,
                (63 - java.lang.Long.numberOfLeadingZeros(math.max(r0, 1L))) - 20L)
            }
          }
          out.iterator
        }
        localOut.map(_.orderBy(col("w1"), col("w2"))).getOrElse {
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        val uni = toks.select(explode(col("toks")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).cast(LongType).as("c"))
        val bg = toks.filter(size(col("toks")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(toks) - 1),
              |  i -> named_struct('w1', element_at(toks, i),
              |                    'w2', element_at(toks, i + 1)))""".stripMargin))
            .as("b"))
          .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .agg(count(lit(1)).cast(LongType).as("c12"))
        val nTok = uni.agg(sum(col("c").cast(dec)).as("n"))
        val nBg = bg.agg(sum(col("c12").cast(dec)).as("m"))
        bg.filter(col("c12") >= 5)
          .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
          .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
          .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
          .withColumn("r", expr(
            "CAST((CAST(c12 AS DECIMAL(38,0)) * n * n * 1048576) div (m * c1 * c2) AS BIGINT)"))
          .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
            ((length(bin(greatest(col("r"), lit(1L)))) - 1).cast(LongType) - 20)
              .as("pmi_fl2"))
          .orderBy(col("w1"), col("w2"))
        }
      },
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |t AS (SELECT unnest(toks) AS w FROM d),
             |u AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY w),
             |bgr AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
             |  FROM d, unnest(range(1, len(toks))) AS ui(i)
             |  WHERE len(toks) >= 2),
             |b AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
             |  FROM bgr GROUP BY w1, w2),
             |nt AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM u),
             |nb AS (SELECT CAST(SUM(c12) AS HUGEINT) AS m FROM b)
             |SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
             |  CAST((length(bin(GREATEST(
             |      CAST((CAST(c12 AS HUGEINT) * n * n * 1048576)
             |        // (m * u1.c * u2.c) AS BIGINT), 1))) - 1) - 20 AS BIGINT)
             |    AS pmi_fl2
             |FROM b JOIN u u1 ON b.w1 = u1.w JOIN u u2 ON b.w2 = u2.w, nt, nb
             |WHERE c12 >= 5 ORDER BY w1, w2""".stripMargin))
  )
}
