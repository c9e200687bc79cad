package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Corpus-trained character-bigram language model for statistical
  * quality scoring — the train-then-score stage every large text
  * pipeline runs (CCNet's KenLM perplexity filter is the canonical
  * form; this is its exactly-reproducible small sibling: an add-one
  * smoothed char-bigram model trained ON the corpus, scoring each
  * document's typicality against it).
  *
  * Dataflow is the classic two-pass model shape, and both passes are
  * the 100-TB-safe kind:
  *  1. TRAIN — explode every document into its |text|-1 bigrams and
  *     count. The explode is corpus-sized, but the hash aggregate's
  *     map-side combine collapses it to ≤ |alphabet|² rows inside the
  *     producing tasks — wordcount's shape. The model (bigram counts,
  *     context totals, vocabulary size) is tiny and broadcast.
  *  2. SCORE — join the per-(doc, gram) counts the train pass
  *     materialized with the broadcast model, integer-sum per
  *     document. One shuffle, keyed by doc.
  *
  * Every number is bit-reproducible by a SQL oracle: the smoothed
  * probability (cab+1)/(ca+V) is scaled to a long by EXACT integer
  * round-half-up — (2a+D) div (2D) with a = 10¹²·(cab+1), D = ca+V —
  * and the per-gram surprisal uses the INTEGER floor-log2
  * (length(bin(p))-1) rather than floating log2. No float touches any
  * value the oracle compares: a floating round()/log2() here is
  * engine-VERSION-dependent at half-way/last-ulp points, and the
  * floor-log2 amplifies a ±1 difference in p into a different
  * integer surprisal (round-7 q99 driver hash-fail, green in every
  * isolated rerun — exactly this class).
  */
object NgramLm {

  /** 10¹², the registry's probability scale. */
  val Scale = 1000000000000L

  /** Integral division as a Column (`a div b` — Spark has no
    * `functions.div`; decimal-capable, returns LongType). */
  private[operators] def intDiv(a: Column, b: Column): Column =
    ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Exact round-half-up of Scale·(c+1)/D as a long, in pure integer
    * (decimal-38) arithmetic: (2a+D) div (2D), a = Scale·(c+1). The
    * decimal width makes it overflow-proof to c ≈ 10²⁵ — beyond any
    * 100 TB corpus — and bit-identical across engines and versions. */
  private[operators] def scaledP(c: Column, d: Column): Column = {
    val dec = DecimalType(38, 0)
    val a2 = (c.cast(dec) + lit(1L)) * lit(2L * Scale) // 2a
    val dd = d.cast(dec)
    intDiv(a2 + dd, dd * lit(2L)).cast(LongType)
  }

  /** Integer floor-log2 of a positive long (p clamped to ≥ 1):
    * length(bin(p)) - 1. */
  private[operators] def floorLog2(p: Column): Column =
    (length(bin(greatest(p, lit(1L)))) - 1).cast(LongType)

  /** JVM twins of the column kernels, for the one-task local paths —
    * each must stay bit-identical to its Catalyst form above. */
  private[operators] def fl2Jvm(p: Long): Long =
    63 - java.lang.Long.numberOfLeadingZeros(math.max(p, 1L))

  /** Exact scaledP (round-half-up of Scale·(c+1)/d) in BigInt —
    * 2·10¹²·(c+1) overflows int64 once c passes ~4.6M, which a
    * sub-threshold corpus can reach. */
  private[operators] def scaledPJvm(c: Long, d: Long): Long =
    ((BigInt(2L) * Scale * (c + 1L) + d) / (BigInt(d) * 2L)).toLong

  /** All code-point bigrams of `text` — the JVM twin of
    * `substring(text, i, 2)` over UTF8String, which indexes by CODE
    * POINT (Java String indexes by UTF-16 unit; they diverge on
    * supplementary characters). Empty for texts under 2 code points. */
  private[operators] def bigramsJvm(text: String): Array[String] = {
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < text.length) {
      starts += i
      i += Character.charCount(text.codePointAt(i))
    }
    starts += text.length
    val n = starts.length - 1 // code-point count
    if (n < 2) Array.empty[String]
    else Array.tabulate(n - 1)(j => text.substring(starts(j), starts(j + 2)))
  }

  /** Spread a narrow input across the session's cores before a
    * corpus-sized explode. The explode multiplies work ~|text|-fold,
    * so a single-partition input (a small cached file) serializes the
    * whole gram stream onto one task. Conditional on a partition
    * DEFICIT: at scale the scan is already at least core-wide and
    * this is a no-op — no shuffle is ever added to a well-partitioned
    * corpus. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Per-document bigram rows: (idCol, g). Documents shorter than 2
    * chars contribute nothing (and are re-attached by [[selfScore]]). */
  private def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    widen(docs).filter(length(col(textCol)) >= 2)
      .select(col(idCol),
        explode(expr(s"transform(sequence(1, length($textCol) - 1), " +
          s"i -> substring($textCol, i, 2))")).as("g"))

  /** Document-count threshold of the one-task paths of [[selfScore]]
    * and [[DsirSelect.select]]. */
  private[operators] val LocalSolveMaxDocs = 200000L

  /** Self-scoring (train on `docs`, score `docs`) in ONE corpus pass:
    * the per-(doc, gram) count aggregate is materialized once
    * (localCheckpoint, distinct-(doc,gram)-sized) and feeds BOTH the
    * model derivation and the scoring join — separate train and score
    * passes would run the corpus-sized explode twice, and exchange
    * reuse does not fire across the differently-pruned branches
    * (measured r8: 2.6 s → 1.5 s at sf0.1). Per-occurrence sums are
    * cnt-weighted sums over the distinct-gram rows. */
  def selfScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // LocalExact hybrid: below the doc threshold, train + score run
    // in one sequential pass with the identical BigInt round-half-up
    // and integer floor-log2 (LocalExactParitySpec pins the paths)
    val localOut = LocalExact(docs.select(col(idCol), col(textCol)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, LongType),
        org.apache.spark.sql.types.StructField("n_bigrams", LongType),
        org.apache.spark.sql.types.StructField("mean_p_scaled", LongType),
        org.apache.spark.sql.types.StructField("mean_surprisal", DoubleType))),
      LocalSolveMaxDocs) { it =>
      val rows = it.map(r => (r.getLong(0), r.getString(1))).toArray
      val cab = new java.util.HashMap[String, Long]()
      rows.foreach { case (_, t) =>
        bigramsJvm(t).foreach(g => cab.merge(g, 1L, _ + _))
      }
      val ca = new java.util.HashMap[String, Long]()
      cab.forEach { (g, c) =>
        ca.merge(g.substring(0, g.offsetByCodePoints(0, 1)), c, _ + _)
      }
      val vsz = ca.size.toLong
      val pOf = new java.util.HashMap[String, (Long, Long)]() // g → (p, s)
      cab.forEach { (g, c) =>
        val d = ca.get(g.substring(0, g.offsetByCodePoints(0, 1))) + vsz
        val p = scaledPJvm(c, d)
        pOf.put(g, (p, 40L - fl2Jvm(p)))
      }
      rows.iterator.map { case (id, t) =>
        val gs = bigramsJvm(t)
        if (gs.isEmpty) org.apache.spark.sql.Row(id, 0L, null, null)
        else {
          var (sp, ss) = (BigInt(0), BigInt(0))
          gs.foreach { g =>
            val (p, s) = pOf.get(g); sp += p; ss += s
          }
          val n = gs.length.toLong
          org.apache.spark.sql.Row(id, n,
            ((sp * 2 + n) / (2L * n)).toLong,
            ((ss * 2000000L + n) / (2L * n)).toLong.toDouble / 1000000.0d)
        }
      }
    }
    if (localOut.isDefined) return localOut.get
    val dec = DecimalType(38, 0)
    val dg = bigrams(docs, idCol, textCol)
      .groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).cast(LongType).as("cnt"))
      // lazy: materializes inside the first consuming job instead of
      // paying a separate eager barrier job; consumers still share the
      // one pinned RDD (the PrefixSum convention). Safe here because
      // every consumer is order-insensitive (aggregates + broadcast
      // build) over a deterministic row SET.
      .localCheckpoint(eager = false)
    val gc = dg.groupBy(col("g")).agg(sum(col("cnt")).cast(LongType).as("cab"))
    val ca = gc.groupBy(substring(col("g"), 1, 1).as("a"))
      .agg(sum(col("cab")).as("ca"))
    val v = ca.agg(count(lit(1)).cast(LongType).as("vsz"))
    val lm = gc.join(ca, substring(col("g"), 1, 1) === col("a"))
      .crossJoin(broadcast(v))
      .select(col("g"), col("cab"), col("ca"), col("vsz"))
    val scored = dg
      .join(broadcast(lm), "g")
      .withColumn("p", scaledP(col("cab"), col("ca") + col("vsz")))
      .withColumn("s", lit(40L) - floorLog2(col("p")))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).cast(LongType).as("n_bigrams"),
        // decimal BEFORE the multiply: cnt·p can pass 9.2e18 on one
        // pathologically long doc; decimal-38 keeps it exact
        sum(col("cnt").cast(dec) * col("p").cast(dec)).as("sp"),
        sum(col("cnt").cast(dec) * col("s").cast(dec)).as("ss"))
    // re-attach zero-bigram docs; means by exact integer round-half-up
    // — (2Σ+n) div (2n) — and, for the 6-decimal surprisal mean, exact
    // integer microunits divided once as a double (q/10⁶ of exact
    // integers is the same IEEE value in every engine; a float
    // round(x, 6) is not)
    val n = col("n_bigrams").cast(dec)
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNull, lit(null).cast(LongType))
          .otherwise(intDiv(col("sp") * 2 + n, n * 2).cast(LongType))
          .as("mean_p_scaled"),
        when(col("n_bigrams").isNull, lit(null).cast(DoubleType))
          .otherwise(
            intDiv(col("ss") * lit(2000000L) + n, n * 2).cast(DoubleType)
              / lit(1000000.0d))
          .as("mean_surprisal"))
  }
}

/** DSIR-style data selection (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling", arXiv:2302.03169):
  * hashed-n-gram bucket models over a TARGET corpus and a SOURCE
  * corpus, each document scored by its importance log-weight
  * log p_target(x) − log p_source(x), top-k selected.
  *
  * Exactly-reproducible form, same conventions as [[NgramLm]]:
  * char-bigrams hashed into a fixed B-bucket space with the registry's
  * md5 hash (both engines agree bit-for-bit), add-one smoothing over
  * (N + B) so every bucket has a defined probability in BOTH models —
  * hashing into a closed bucket space is what dissolves q98's
  * unseen-gram asymmetry — and the per-bucket log is the INTEGER
  * floor-log2 of the scaled probability, so the weight is an integer
  * sum, not a float accumulation whose order matters.
  *
  * 100-TB shape: one corpus-sized explode collapsed map-side to ≤ B
  * rows per task (wordcount), a ≤ B-row model broadcast back, one
  * doc-keyed shuffle for the weight sum, and the global top-k through
  * the bounded-buffer [[graft.plans.TopKPhysical]] (≤ k rows per
  * partition cross the wire — no full sort, no single-task window).
  * At extreme corpus sizes a bucket's scaled probability can round to
  * 0; the greatest(p, 1) guard pins its floor-log2 at 0 identically
  * in both engines.
  */
object DsirSelect {

  /** Per-occurrence bigram rows with the target flag — NO per-gram
    * hashing here: the bucket is a pure function of the gram, so md5
    * runs on the ≤ |alphabet|² DISTINCT grams (in [[select]]), never
    * on the corpus-sized occurrence stream. */
  private def bigrams(docs: DataFrame, idCol: String, textCol: String,
                      targetFlag: Column): DataFrame =
    NgramLm.widen(docs).filter(length(col(textCol)) >= 2)
      .select(col(idCol), targetFlag.as("tgt"),
        explode(expr(s"transform(sequence(1, length($textCol) - 1), " +
          s"i -> substring($textCol, i, 2))")).as("g"))

  /** Top-k most target-like documents: (idCol, n_bigrams, dsir_logw),
    * ranked by integer log-weight desc with id tie-break. Documents
    * with no bigrams have no weight and are not selectable.
    *
    * Plan shape mirrors [[NgramLm]] (the fast shape): the occurrence
    * stream only ever feeds few-group hash aggregates (groupBy gram ≤
    * |alphabet|² groups, groupBy doc) or a broadcast join — the bucket
    * model, totals, and the gram→weight map are all derived from the
    * tiny distinct-gram aggregate, whose exchange Spark reuses across
    * the model and scoring branches. */
  def select(docs: DataFrame, idCol: String, textCol: String,
             targetFlag: Column, nBuckets: Int, k: Int): DataFrame = {
    // LocalExact hybrid (the NgramLm.selfScore convention): one
    // sequential pass builds both bucket models and scores + selects,
    // with the identical md5 bucketing (Md5Kernel.md5Int32), BigInt
    // round-half-up scaledP and integer floor-log2
    val localOut = LocalExact(
      docs.select(col(idCol), targetFlag.as("tgt"), col(textCol)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, LongType),
        org.apache.spark.sql.types.StructField("n_bigrams", LongType),
        org.apache.spark.sql.types.StructField("dsir_logw", LongType))),
      NgramLm.LocalSolveMaxDocs) { it =>
      import graft.functions.Md5Kernel
      val rows = it.map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toArray
      val ct = new java.util.HashMap[String, Long]()
      val cs = new java.util.HashMap[String, Long]()
      rows.foreach { case (_, tgt, t) =>
        val m = if (tgt) ct else cs
        NgramLm.bigramsJvm(t).foreach(g => m.merge(g, 1L, _ + _))
      }
      val grams = new java.util.HashSet[String](ct.keySet())
      grams.addAll(cs.keySet())
      val bT = new Array[Long](nBuckets)
      val bS = new Array[Long](nBuckets)
      val bucketOf = new java.util.HashMap[String, Int]()
      grams.forEach { g =>
        val b = (Md5Kernel.md5Int32(g) % nBuckets).toInt
        bucketOf.put(g, b)
        bT(b) += ct.getOrDefault(g, 0L)
        bS(b) += cs.getOrDefault(g, 0L)
      }
      val (nt, ns) = (bT.sum, bS.sum)
      val dlw = Array.tabulate(nBuckets) { b =>
        NgramLm.fl2Jvm(NgramLm.scaledPJvm(bT(b), nt + nBuckets)) -
          NgramLm.fl2Jvm(NgramLm.scaledPJvm(bS(b), ns + nBuckets))
      }
      val scored = rows.flatMap { case (id, _, t) =>
        val gs = NgramLm.bigramsJvm(t)
        if (gs.isEmpty) None
        else {
          var w = 0L
          gs.foreach(g => w += dlw(bucketOf.get(g)))
          Some((id, gs.length.toLong, w))
        }
      }
      scored.sortBy { case (id, _, w) => (-w, id) }.take(k).iterator
        .map { case (id, n, w) => org.apache.spark.sql.Row(id, n, w) }
    }
    if (localOut.isDefined) return localOut.get
    val bg = bigrams(docs, idCol, textCol, targetFlag)
    // ONE corpus-sized pass: per-(doc, gram) occurrence counts,
    // materialized once (localCheckpoint, the SemanticDedup
    // convention) because THREE consumers read it — the bucket-model
    // aggregate, the gram→weight map, and the scoring join. The
    // round-7 shape (bg feeding groupBy(g) and groupBy(doc) directly)
    // recomputed the corpus-sized explode per branch, and plain
    // exchange reuse does not fire across the differently-pruned
    // branches. Map-side combine collapses within-doc repeats before
    // the wire; the materialized set is distinct-(doc,gram)-sized,
    // far below occurrence scale, and lives on executors, not the
    // driver.
    val dg = bg.groupBy(col(idCol), col("tgt"), col("g"))
      .agg(count(lit(1)).cast(LongType).as("cnt"))
      .localCheckpoint(eager = false) // lazy: see selfScore
    // distinct-gram corpus counts: ≤ |alphabet|² groups
    val gc = dg.groupBy(col("g")).agg(
      sum(when(col("tgt"), col("cnt")).otherwise(0L)).cast(LongType).as("ct_g"),
      sum(when(!col("tgt"), col("cnt")).otherwise(0L)).cast(LongType).as("cs_g"))
    val bucket = (Dedup.md5Int32(col("g")) % nBuckets).as("b")
    val m = gc.select(bucket, col("ct_g"), col("cs_g"))
      .groupBy(col("b"))
      .agg(sum(col("ct_g")).as("ct"), sum(col("cs_g")).as("cs"))
    val tot = m.agg(sum(col("ct")).as("nt"), sum(col("cs")).as("ns"))
    val dlw = m.crossJoin(broadcast(tot))
      .select(col("b"),
        (NgramLm.floorLog2(NgramLm.scaledP(col("ct"), col("nt") + lit(nBuckets))) -
          NgramLm.floorLog2(NgramLm.scaledP(col("cs"), col("ns") + lit(nBuckets)))).as("dlw"))
    // gram → weight map (≤ |alphabet|² rows): md5 runs here, on
    // distinct grams only, then broadcasts back onto the stream
    val gw = gc.select(col("g"), bucket)
      .join(broadcast(dlw), "b").select(col("g"), col("dlw"))
    val weighted = dg.join(broadcast(gw), "g")
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).cast(LongType).as("n_bigrams"),
        sum(col("cnt") * col("dlw")).cast(LongType).as("dsir_logw"))
      .withColumn("all", lit(0))
    graft.plans.TopKPhysical.topK(weighted, Seq("all"),
        Seq(("dsir_logw", false), (idCol, true)), k)
      .drop("all", "rnk")
  }
}
