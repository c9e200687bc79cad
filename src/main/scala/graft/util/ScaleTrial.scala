package graft.util

import graft.queries.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up trial: replicate the sf0.1 tables N× with key offsets that
  * preserve referential integrity, then time headline queries at both
  * scales on [[Probe.main]]'s protocol ([[Probe.profile]]: tables
  * warm, one warm sweep, the faster of two timed sweeps) and report the
  * runtime ratio —
  * empirical evidence for the "would this plan survive a scale-up"
  * question, beyond eyeballing plans.
  * `runMain graft.util.ScaleTrial [replicas] [outDir]`.
  */
object ScaleTrial {

  // key columns per table → offset domain ("cust", "order", …)
  private val keyCols: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq(),
    "nation" -> Seq(),
    "customer" -> Seq("c_custkey" -> "cust"),
    "supplier" -> Seq("s_suppkey" -> "supp"),
    "part" -> Seq("p_partkey" -> "part"),
    "orders" -> Seq("o_orderkey" -> "order", "o_custkey" -> "cust"),
    "lineitem" -> Seq("l_orderkey" -> "order", "l_partkey" -> "part",
      "l_suppkey" -> "supp"),
    "events" -> Seq("event_id" -> "event", "user_id" -> "user"),
    "documents" -> Seq("doc_id" -> "doc"),
    "embeddings" -> Seq("vec_id" -> "vec"))

  def replicate(spark: SparkSession, srcDir: String, outDir: String,
                replicas: Int, tables: Seq[String] = Tables.names): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // offset = next power of 10 above the max key, per domain
    val domains = scala.collection.mutable.Map.empty[String, Long]
    def offsetOf(table: String, colName: String, dom: String): Long =
      domains.getOrElseUpdate(dom, {
        val m = spark.read.parquet(s"$srcDir/$table.parquet")
          .agg(max(col(colName))).head().getLong(0)
        math.pow(10, math.ceil(math.log10(m.toDouble + 1))).toLong
      })
    tables.foreach { t =>
      val base = spark.read.parquet(s"$srcDir/$t.parquet")
      // keyless tables (region, nation) are FIXED DIMENSION DOMAINS —
      // like TPC-H, where nation/region are constant across scale
      // factors. Replicating them produces k identical copies of every
      // dim key, which turns each dim join into a k-fold fan-out (q03
      // at 30x measured a 900x row explosion through nation×region —
      // 100 s for a join whose honest 30x form runs in ~2 s). One copy
      // preserves FK semantics; fact tables still scale by `replicas`.
      val copies =
        if (keyCols(t).isEmpty) Seq(base)
        else (0 until replicas).map { i =>
          keyCols(t).foldLeft(base) { case (df, (c, dom)) =>
            df.withColumn(c, col(c) + lit(i * offsetOf(t, c, dom)))
          }
        }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Usage: ScaleTrial [replicas] [outDir] [queriesCsv] [tablesCsv]
    * — queriesCsv restricts the run list (e.g. the dedup family for a
    * 100× spot-trial), tablesCsv restricts replication to the tables
    * those queries read (replicating lineitem 100× to test a
    * documents-only operator would swamp the trial in write time). */
  def main(args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val only = if (args.length > 2) args(2).split(',').toSeq else Seq.empty
    val tables = if (args.length > 3) args(3).split(',').toSeq else Tables.names
    val unknown = tables.filterNot(keyCols.contains)
    require(unknown.isEmpty, s"unknown table(s): ${unknown.mkString(",")}; " +
      s"valid: ${Tables.names.mkString(",")}")
    // fail on a query typo NOW, not after the expensive replication pass
    val unknownQ = only.filterNot(Registry.byName.contains)
    require(unknownQ.isEmpty, s"unknown query(s): ${unknownQ.mkString(",")}")
    // a partial replicate into a dir holding OTHER tables from an
    // earlier run would silently mix scales — queries read the stale
    // copies without error and every printed ratio is bogus
    val stale = Tables.names.filterNot(tables.contains)
      .filter(t => new java.io.File(s"$outDir/$t.parquet").exists())
    require(stale.isEmpty, s"outDir already holds non-replicated table(s) " +
      s"${stale.mkString(",")} from a previous run — use a fresh outDir")
    val spark = Tables.session("scaletrial")
    spark.sparkContext.setLogLevel("ERROR")
    // conf A/B hook: SPARK_GRAFT_SETCONF="k=v;k=v" — e.g.
    // spark.graft.localExactMaxRows=0 to force every hybrid operator
    // (each dispatches through LocalExact) onto its distributed
    // fallback for a crossover probe OUTSIDE the parity tests
    SetConf(spark).foreach { case (k, v) => println(s"[conf] $k=$v") }
    // SPARK_GRAFT_STATESTORE=rocksdb runs the streaming family on the
    // disk-backed store — the 100-TB posture trial (state > heap)
    sys.env.get("SPARK_GRAFT_STATESTORE")
      .foreach(v => spark.conf.set("spark.graft.stateStore", v))
    val src = "/root/testdata/sf0.1"
    println(s"replicating ${tables.mkString(",")} x$replicas → $outDir")
    replicate(spark, src, outDir, replicas, tables)

    val defaultHeadline = Registry.all.filter(_.headline).map(_.name) ++
      Seq("q22_minhash_lsh", "q41_cluster_unify", "q47_embedding_neardup",
        "q31_merge_upsert", "q16_sessionize", "q53_asof_join",
        "q74_simhash_neardup", "q75_winnowing", "q76_tfidf_topterms",
        "q79_kmv_distinct", "q80_pq_codes", "q81_contamination",
        "q83_hll_registers", "q84_compaction_plan", "q85_pseudonymize",
        "q86_dedup_survivors", "q87_source_mixture", "q88_sequence_packing",
        "q89_kmeans_step")
    val headline = if (only.nonEmpty) only else defaultHeadline
    // one Probe profile per directory: Bench's every-column force, a
    // build/plan/exec split and the scratch release after each query.
    // The force value (Σ non-null output cells) at both scales tells
    // output-bound growth (the true answer got bigger — replication
    // makes every replica a genuine duplicate) from a plan hazard.
    val Seq(small, big) = Probe.profile(spark, Seq(src, outDir), headline.distinct)
    println(f"${"query"}%-26s ${"sf0.1"}%8s ${"x" + replicas}%8s ratio ${"value"}%10s ${"value'"}%10s")
    small.zip(big).foreach { case (a, b) =>
      println(f"${a.query}%-26s ${a.totalS}%8.2f ${b.totalS}%8.2f ${b.totalS / a.totalS}%5.1f " +
        f"${a.value}%10d ${b.value}%10d ${(a.error ++ b.error).mkString("; ")}")
    }
    // IVF index build and probe timed apart: q27's one-line ratio
    // conflates the amortize-once index build (|corpus| × nCells work,
    // nCells ~ √N → ~N^1.5) with the per-query probe (touches
    // nProbe/nCells of the corpus); q194's registry form is the exact
    // broadcast mine (|anchors|=20 × corpus, allowlisted), while the
    // operator's 100-TB story is the IVF cell-probe path
    // (SimilaritySearch.probeHardNegatives). build = materialize the
    // assigned index; probe = the probe over the PERSISTED index, the
    // steady-state serving cost.
    import graft.operators.SimilaritySearch
    def ivfSplit(label: String)(probeOn: (DataFrame, DataFrame, DataFrame) => Long): Unit = {
      def once(dir: String): (Double, Double) = {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val emb = ParquetRead.read(spark, s"$dir/embeddings.parquet")
        val centroids = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
        val idx = SimilaritySearch.buildIndex(
            emb.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
              col("label").as("n_lbl")),
            centroids, "n_id", "n_vec")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val t0 = System.nanoTime()
        idx.count()
        val t1 = System.nanoTime()
        probeOn(emb, idx, centroids)
        val t2 = System.nanoTime()
        idx.unpersist()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      val ((ba, pa), (bb, pb)) = (once(src), once(outDir))
      println(f"${label + " ivf build"}%-26s $ba%8.2f $bb%8.2f ${bb / ba}%5.1f")
      println(f"${label + " ivf probe"}%-26s $pa%8.2f $pb%8.2f ${pb / pa}%5.1f")
    }
    if (headline.contains("q27_ivf_topk")) ivfSplit("q27") { (emb, idx, centroids) =>
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      SimilaritySearch.probeTopK(queries, idx, centroids,
        "q_id", "q_vec", "n_id", "n_vec", k = 5, nProbe = 3).count()
    }
    if (headline.contains("q194_hard_negatives")) ivfSplit("q194") { (emb, idx, centroids) =>
      val anchors = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"),
          col("label").as("a_lbl"))
      SimilaritySearch.probeHardNegatives(anchors, idx, centroids,
        "a_id", "a_vec", "a_lbl", "n_id", "n_lbl", "n_vec", k = 3, nProbe = 3).count()
    }
    // q101's registry row times the vocab-sized encode; separately
    // time the CORPUS-scale apply — the broadcast join of the encodings
    // back onto the corpus token stream, which is how a full
    // re-tokenization consumes them.
    if (headline.contains("q101_bpe_encode")) {
      def corpusApply(dir: String): Double = {
        val enc = Registry.byName("q101_bpe_encode").run(spark, dir)
        val t0 = System.nanoTime()
        Tables(spark, dir, "documents")
          .select(explode(graft.functions.TextFns.tokens(col("text"))).as("word"))
          .join(broadcast(enc.select(col("word"), col("n_tokens"))), "word")
          .agg(sum(col("n_tokens"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val (ca, cb) = (corpusApply(src), corpusApply(outDir))
      println(f"${"q101 corpus apply"}%-26s $ca%8.2f $cb%8.2f ${cb / ca}%5.1f")
    }
    spark.stop()
  }
}
