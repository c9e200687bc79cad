package graft.operators

import graft.functions.{TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication operators for the training-data pipeline surface:
  * exact, MinHash-LSH, SimHash, and n-gram-Jaccard near-dup.
  *
  * Scale design: every variant is shuffle-on-key only — no cross
  * joins. MinHash candidates come from banding (shingle → minhash →
  * band signature → bucket equi-join); exact Jaccard verification runs
  * only on candidate pairs. All base hashes are md5-derived so any SQL
  * engine (the DuckDB oracle included) reproduces them bit-for-bit.
  */
object Dedup {

  /** Exact dedup: keep the min-id row per identical key (e.g. text or
    * content hash) — the distributed form of the reference's
    * keep-last-per-hash dict trick (reference:
    * src/ETL_POIS/process_pois.py:495). */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** First 15 md5 hex chars as a non-negative long (60 bits) —
    * reproducible in DuckDB via the same md5/substr/from-hex steps.
    * Codegen'd kernel (r15): bit-identical to the previous
    * conv(substring(md5(c),1,15),16,10) composition without the
    * per-value 32-char hex allocation + re-parse. */
  def md5Long(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.Md5PrefixExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c), 60))

  /** 32-bit md5-derived hash for universal-hash families (fits a*h+b
    * in exact int64 arithmetic). Codegen'd kernel (r15), bit-identical
    * to conv(substring(md5(c),1,8),16,10). */
  def md5Int32(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.Md5PrefixExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c), 32))

  /** Prime just above 2^32 for the (a*h+b) mod p family. */
  val HashPrime = 4294967311L

  /** Deterministic universal-hash parameters. Multipliers are kept
    * below 2^31 so a*h (h < 2^32) stays within exact int64 range —
    * both in Spark and in the DuckDB oracle. */
  def hashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = ((2L * i + 1L) * 2654435761L) % 2147483629L + 1L
      val b = (i * 40503L + 17L) % HashPrime
      (a, b)
    }

  /** Largest signature length (`bands * rowsPerBand`) the MinHash
    * family accepts. The distributed tail computes `est_jaccard` as one
    * flat `when` term per hash ([[candidatesFromSignatures]]), about
    * 436 bytes of generated bytecode each. Measured from the executed
    * plan's compiled stages (`debug.codegenStringSeq`, Spark 4.1): the
    * method holding the projection compiles to 53.5 KB at 128 hashes
    * and 65.4 KB at 155, the largest count under Spark's 65535-byte
    * `hugeMethodLimit`; at 156 it no longer compiles, and the stage
    * falls back to interpreting a hash-deep expression tree per pair
    * (512 hashes: 38 s for three documents, against 5 s at 128). The
    * cap keeps 12 KB of that method free for join shapes that inline
    * more code beside the projection. */
  val MaxHashes = 128

  private def checkedHashes(bands: Int, rowsPerBand: Int): Int = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands ($bands) and rowsPerBand ($rowsPerBand) must be positive")
    val nH = bands * rowsPerBand
    require(nH <= MaxHashes, s"bands * rowsPerBand = $nH exceeds $MaxHashes, " +
      "the largest signature whose est_jaccard projection whole-stage-codegens")
    nH
  }

  /** MinHash-LSH candidate pairs: band the signature, bucket-join on
    * (band, band-signature), emit unordered (idA < idB) pairs with the
    * estimated Jaccard (fraction of matching minhashes).
    *
    * numHashes = bands * rowsPerBand. The only shuffle is the groupBy
    * on band signatures; bucket sizes stay small because signatures are
    * near-uniform — EXCEPT when the corpus contains many identical
    * documents, which share identical signatures and land in one
    * bucket. `maxBucket` guards that skew: buckets larger than it emit
    * STAR pairs (every member against the bucket's min-id hub) instead
    * of all pairs — O(bucket) instead of O(bucket²), so one hot key
    * can't quadratically explode a task. Recall trade, stated plainly:
    * components are preserved only through hub edges, so if downstream
    * verification thresholds drop a (hub, member) edge, that member's
    * member-to-member links inside the hot bucket are not recovered.
    * For the mass-duplicate corpora the cap targets (near-identical
    * members ⇒ near-identical hub similarity) this is the standard
    * accepted trade; size maxBucket above any bucket an all-pairs
    * verification should handle. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                        maxBucket: Int = 1000): DataFrame = {
    val nH = checkedHashes(bands, rowsPerBand)
    // Shape notes (bench-driven):
    //  - repartition BEFORE the md5 projection: input file layout must
    //    not bound CPU parallelism of a compute-heavy column;
    //  - explode the shingles FIRST, then hash as a flat projection:
    //    md5/conv inside a `transform` lambda evaluates interpreted
    //    (higher-order functions have no codegen); as a flat column it
    //    whole-stage-codegens, which is where cold-run time went;
    //  - signatures via 16 flat `min` aggregates instead of 16
    //    array-lambda transforms — same interpreted-lambda reason;
    //  - lazy localCheckpoint of the signatures, materialized by
    //    [[localCandidates]]'s gating count — the first action on
    //    every path — so both sides of the distributed bucket
    //    self-join read the same blocks instead of recomputing them;
    //    unlike persist(), checkpoint blocks are released when the
    //    plan is GC'd, so a long-lived session doesn't accumulate
    //    pinned caches. Cost: lineage is truncated, so losing an
    //    executor mid-query fails the job instead of recomputing —
    //    acceptable for this one-query-scoped materialization; use
    //    reliable checkpoint() storage if wrapping this in a
    //    multi-hour pipeline.
    // explicit partition count: a bare repartition(col) is an AQE
    // coalesce target — small shuffle stats collapse it to ONE task
    // and serialize the CPU-heavy shingle+md5 projection.
    val par = df.sparkSession.sparkContext.defaultParallelism
    // per-doc hash arrays flow straight into the shared signature
    // aggregate (their only consumer since the r14 refactor — the
    // local kernel now reads signatures, not raw hash arrays)
    def cands(d: DataFrame): DataFrame = { // d = (id, _txt)
      val docHv = d
        .repartition(par, col("id"))
        .select(col("id"),
          graft.functions.ShingleHashes(col("_txt"), n).as("_hv"))
      val withSig = signatures(
        docHv.select(col("id"), explode(col("_hv")).as("hv")), nH)
      localCandidates(withSig, bands, rowsPerBand, maxBucket).getOrElse {
        candidatesFromSignatures(withSig, bands, rowsPerBand, maxBucket)
      }
    }
    // identical-TEXT group collapse (SetGroups): on a duplicated
    // corpus, run signatures + banding + pairing over one rep per
    // distinct text and fan passing pairs out to members — candidate
    // volume becomes duplication-independent. Gate cost when
    // duplicate-free: one count aggregate over the text column.
    val base = df.select(col(idCol).as("id"), col(textCol).as("_txt"))
    SetGroups.collapse(base, "id", Seq("_txt"), maxBucket) match {
      case None => cands(base)
      case Some(g) =>
        g.fanOutPairs(cands(g.reps), maxBucket, Seq("est_jaccard"))
          .unionByName(g.withinGroupPairs(
            size(graft.functions.ShingleHashes(col("_txt"), n)) > 0,
            maxBucket, Seq("est_jaccard" -> lit(1.0))))
    }
  }

  /** Distributed signature prefix shared by BOTH dispatch paths:
    * hashed shingle stream → 16 flat min-aggregates (whole-stage
    * codegen; the array-lambda form evaluates interpreted) → one
    * (id, sig) row per document with a non-empty shingle set. LAZY
    * checkpoint: [[localCandidates]]'s gating count is the first
    * action on both dispatch paths and materializes the blocks, so
    * the local kernel and the distributed tail's bucket self-join
    * (both sides) read them without a dedicated checkpoint job.
    * Before round 14 the LOCAL kernel recomputed every signature
    * single-threaded from the per-doc hash arrays — O(corpus ×
    * shingles × numHashes) in ONE task, 7.9 s of q23's 10× time. */
  private def signatures(exploded: DataFrame, numHashes: Int): DataFrame = {
    val sigCols = hashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((col("hv") * a + b) % HashPrime).as(s"_s$i")
    }
    exploded.groupBy(col("id"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"_s$i")): _*).as("sig"))
      // LAZY (r15): every consumer path runs a count in
      // [[localCandidates]] as its first action (LocalExact's gating
      // count for a Long id, a plain count for any other id type, and
      // the distributed fall-through only executes AFTER it) — so the
      // count materializes the blocks and a dedicated eager-checkpoint
      // job round would be pure overhead.
      .localCheckpoint(eager = false)
  }

  /** Document-count threshold of the one-task path. */
  private val LocalMaxDocs = 200000L

  /** One-task exact replay of [[candidatesFromSignatures]] (the
    * LocalExact convention): identical "_"-joined band keys, identical
    * star-cap (all pairs at or under `maxBucket`, hub star above it,
    * hub = bucket min id). Consumes the SAME distributed signature
    * relation as the distributed tail, so the paths cannot diverge on
    * arithmetic — the kernel is banding + pair emission only. Gated on
    * a LongType id — exotic id types fall through to the distributed
    * plan, after a count that materializes the lazy signature
    * checkpoint in the gating count's place, so both sides of the
    * bucket self-join read its blocks instead of recomputing the
    * corpus-wide aggregate. */
  private def localCandidates(withSig: DataFrame,
                              bands: Int, rowsPerBand: Int,
                              maxBucket: Int): Option[DataFrame] = {
    if (withSig.schema.head.dataType != LongType) {
      withSig.count()
      return None
    }
    LocalExact(withSig, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("id_b",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("est_jaccard",
        org.apache.spark.sql.types.DoubleType))), LocalMaxDocs) { it =>
      val docs = it.map { r =>
        (r.getLong(0), r.getSeq[Long](1).toArray)
      }.toArray
      val nH = (bands * rowsPerBand).toDouble
      val buckets = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
      docs.zipWithIndex.foreach { case ((_, sig), di) =>
        var b = 0
        while (b < bands) {
          val key = b + ":" + sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
            .mkString("_")
          buckets.computeIfAbsent(key, _ =>
            scala.collection.mutable.ArrayBuffer.empty) += di
          b += 1
        }
      }
      val seen = new java.util.HashSet[(Long, Long)]()
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      def est(s1: Array[Long], s2: Array[Long]): Double = {
        var (c, i) = (0, 0)
        while (i < s1.length) { if (s1(i) == s2(i)) c += 1; i += 1 }
        c / nH
      }
      def emit(p: Int, q: Int): Unit = {
        val (a, b) = if (docs(p)._1 < docs(q)._1) (p, q) else (q, p)
        if (docs(a)._1 != docs(b)._1 && seen.add((docs(a)._1, docs(b)._1)))
          out += org.apache.spark.sql.Row(docs(a)._1, docs(b)._1,
            est(docs(a)._2, docs(b)._2))
      }
      buckets.values().forEach { bucket =>
        if (bucket.length <= maxBucket) {
          var x = 0
          while (x < bucket.length) {
            var y = x + 1
            while (y < bucket.length) { emit(bucket(x), bucket(y)); y += 1 }
            x += 1
          }
        } else {
          var hub = bucket(0)
          bucket.foreach(di => if (docs(di)._1 < docs(hub)._1) hub = di)
          bucket.foreach(di => if (di != hub) emit(hub, di))
        }
      }
      out.iterator
    }
  }

  /** MinHash-LSH candidates from a PRE-SHINGLED corpus: `shingled` is
    * (id, _sh: array<string> of distinct n-gram shingles), typically a
    * localCheckpoint shared with an exact-Jaccard verify leg (see
    * [[lshVerified]]). Identical output to [[minhashCandidates]] —
    * min over the hash multiset equals min over the distinct set. The
    * md5 runs as a flat post-explode projection (codegen), same as the
    * text path. */
  def minhashCandidatesFromShingles(shingled: DataFrame,
                                    bands: Int = 4, rowsPerBand: Int = 4,
                                    maxBucket: Int = 1000,
                                    collapseDups: Boolean = true): DataFrame = {
    val nH = checkedHashes(bands, rowsPerBand)
    def cands(docs: DataFrame): DataFrame = {
      val withSig = signatures(
        docs
          .select(col("id"), explode(col("_sh")).as("_s"))
          .select(col("id"), md5Int32(col("_s")).as("hv")),
        nH)
      localCandidates(withSig, bands, rowsPerBand, maxBucket).getOrElse {
        candidatesFromSignatures(withSig, bands, rowsPerBand, maxBucket)
      }
    }
    // identical-set group collapse (SetGroups) — callers that collapse
    // (or gate) upstream ([[lshVerified]]) skip the duplicate-count
    // aggregate outright via collapseDups = false: one driver job
    // round saved per call (the family is job-round-bound at bench
    // scale, FloorProbe r14)
    val gated = if (collapseDups) SetGroups.collapse(
      shingled.select(col("id"), col("_sh")), "id", Seq("_sh"), maxBucket)
    else None
    gated match {
      case None => cands(shingled)
      case Some(g) =>
        g.fanOutPairs(cands(g.reps), maxBucket, Seq("est_jaccard"))
          .unionByName(g.withinGroupPairs(size(col("_sh")) > 0, maxBucket,
            Seq("est_jaccard" -> lit(1.0))))
    }
  }

  /** Shared LSH tail over the [[signatures]] relation: banded bucket
    * join → star-capped pairs with estimated Jaccard. */
  private def candidatesFromSignatures(withSig: DataFrame, bands: Int,
                                       rowsPerBand: Int,
                                       maxBucket: Int): DataFrame = {
    val banded = withSig.select(
      col("id"), col("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          array_join(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), "_")
            .as("bsig"))
      }: _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bsig"))
    // est_jaccard as numHashes flat codegen terms (r15, §4-analog):
    // the zip_with/filter HOF form evaluates INTERPRETED per pair —
    // the same lambda-vs-flat trade the signature aggregate already
    // documents — and this projection runs on every candidate pair on
    // the at-scale distributed path. element_at is 1-based; arrays
    // are always exactly numHashes long, so the flat sum counts the
    // identical positions bit-for-bit like the HOF did. [[MaxHashes]]
    // bounds the term count to what still compiles as one stage.
    val nH = bands * rowsPerBand
    val eqCount = (1 to nH).map(i =>
      when(element_at(col("sig_a"), i) === element_at(col("sig_b"), i), 1)
        .otherwise(0)).reduce(_ + _)
    starCappedPairs(banded, Seq("band", "bsig"), Seq("sig"), maxBucket)
      .select(col("id_a"), col("id_b"),
        (eqCount.cast("double") / lit(nH.toDouble)).as("est_jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** LSH candidates + exact-Jaccard verification sharing ONE shingle
    * scan: the corpus is shingled once (distinct n-grams per doc,
    * repartitioned first so file layout doesn't bound the CPU-heavy
    * projection), localCheckpointed, and BOTH the minhash leg and the
    * verify join read the materialized arrays, where a two-leg shape
    * (candidates, then a verify that re-shingles the candidate docs)
    * runs the shingle projection twice. Scale trade, stated plainly:
    * this materializes a corpus-sized shingle set on executors; when
    * the candidate set is orders of magnitude smaller than the corpus
    * (sparse-dup corpora), re-shingling only the candidate docs would
    * avoid that materialization. */
  def lshVerified(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                  maxBucket: Int = 1000): DataFrame = {
    checkedHashes(bands, rowsPerBand)
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val shingled = docs
      .select(col(idCol), col(textCol))
      .repartition(par, col(idCol))
      .select(col(idCol).as("id"),
        array_distinct(TextFns.shingles(col(textCol), n)).as("_sh"))
      // LAZY (r15): the SetGroups gate below is the first consumer
      // and is a synchronous aggregate — it materializes the blocks,
      // saving the dedicated eager-checkpoint job round (the
      // concurrent legs only run after the gate returned)
      .localCheckpoint(eager = false)
    def verified(sh: DataFrame): DataFrame = {
      // collapseDups = false: sh is either the whole corpus that the
      // gate below already judged (None branch) or the collapsed
      // distinct reps — re-gating inside would only repeat the same
      // aggregate
      val cand = minhashCandidatesFromShingles(sh, bands, rowsPerBand,
        maxBucket, collapseDups = false)
      // pairs feed ONE linear plan (two joins against the checkpointed
      // arrays), so no pairs-side checkpoint is needed here.
      // repartition first: when the local kernel produced `cand` it is
      // ONE partition, and with the doc side broadcast the whole
      // array_intersect verify would run as one task (measured 5.5 s of
      // q23's 10× time); explicit count so AQE can't coalesce it back.
      cand
        .repartition(par, col("id_a"))
        .join(sh.select(col("id").as("id_a"), col("_sh").as("sh_a")), "id_a")
        .join(sh.select(col("id").as("id_b"), col("_sh").as("sh_b")), "id_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard",
          when(col("uni") === 0, 0d).otherwise(col("inter").cast("double") / col("uni")))
        .drop("sh_a", "sh_b")
    }
    // identical-set group collapse BEFORE both legs: the exact-Jaccard
    // verify (two array joins + array_intersect per candidate pair) is
    // the expensive half, and candidate volume on a duplicated corpus
    // grows dup² — collapsing first runs signatures, banding, AND the
    // verify once per distinct shingle set, with member fan-out as
    // pure output (inter/uni/jaccard are set functions: identical
    // sets ⇒ identical values). Members of one non-empty group pair at
    // jaccard 1 exactly, as the uncollapsed plan emits them through
    // their shared buckets.
    SetGroups.collapse(shingled, "id", Seq("_sh"), maxBucket) match {
      case None => verified(shingled)
      case Some(g) =>
        g.fanOutPairs(verified(g.reps), maxBucket,
          Seq("est_jaccard", "inter", "uni", "jaccard"))
          .unionByName(g.withinGroupPairs(size(col("_sh")) > 0, maxBucket,
            Seq("est_jaccard" -> lit(1.0), "inter" -> size(col("_sh")),
              "uni" -> size(col("_sh")), "jaccard" -> lit(1.0))))
    }
  }

  /** SimHash bucket dedup: documents sharing a simhash value are
    * near-dup candidates (cheap, single groupBy). */
  def simhashBuckets(df: DataFrame, idCol: String, textCol: String,
                     bits: Int = 16): DataFrame =
    df.select(col(idCol), col(textCol))
      // explicit count so AQE can't coalesce the md5-vote projection
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), VectorFns.simhash(TextFns.tokens(col(textCol)), bits)
        .as("simhash"))

  /** Near-dup pairs over the 60-bit one-digest-per-token classic
    * simhash ([[graft.functions.SimHashWide]]), found by the
    * perfect-recall band pigeonhole of [[hammingPairs]]. The wide
    * fingerprint makes the 15-bit band buckets near-singleton instead
    * of a 16-bit simhash's hundreds-of-docs buckets, so the candidate join
    * stays linear in the corpus — the shape that survives 100 TB.
    * Band agreement over 32k distinct values also means a matching
    * pair is overwhelmingly a REAL near-dup, not a coarse-hash
    * collision. */
  def simhashPairsWide(df: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 3,
                       maxBucket: Int = 1000): DataFrame = {
    val sims = df.select(col(idCol), col(textCol))
      // explicit count so AQE can't coalesce the md5 projection
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("id"),
        graft.functions.SimHashWide(col(textCol)).as("simhash"))
    hammingPairs(sims, graft.functions.SimHashWide.Bits, maxHamming, maxBucket)
  }

  /** Winnowing-overlap pairs (MOSS): documents sharing >= `minShared`
    * winnowing fingerprints ([[graft.functions.WinnowFingerprint]] —
    * every shared substring of length >= k+w-1 yields a shared
    * fingerprint). The join is an inverted index on fingerprint
    * value; fingerprints appearing in more than `maxDf` documents are
    * dropped first — the standard MOSS over-common-substring filter,
    * which is simultaneously the hot-key skew guard: boilerplate
    * shared by thousands of docs can't quadratically explode one
    * fingerprint's bucket. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, w: Int = 4, maxDf: Int = 50,
                     minShared: Int = 3): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // fingerprint values are per-doc DISTINCT (the expression winnows
    // and dedupes in one pass), so this frame is the inverted index.
    // ONE fp-keyed exchange serves everything downstream (r15; the
    // previous shape paid three fingerprint-scale exchanges — a
    // groupBy(fp) for the df counts, the fps side of the df-filter
    // join, and a re-repartition — plus an eager checkpoint barrier):
    // the df count becomes a WINDOW over the fp partitioning, the
    // filter runs in the same stage, and both self-join sides reuse
    // the exchange. The explicit user repartition is exempt from AQE
    // coalescing, which would otherwise size the pair-exploding join
    // from its (small) input stats (observed: 4 post-shuffle tasks).
    val fps = df.select(col(idCol), col(textCol))
      .repartition(par, col(idCol))
      .select(col(idCol).as("id"),
        explode(graft.functions.WinnowFingerprint(col(textCol), k, w)).as("fp"))
      .repartition(par, col("fp"))
    val wDf = Window.partitionBy(col("fp"))
    val kept = fps
      .withColumn("_df", count(lit(1)).over(wDf))
      .filter(col("_df") <= maxDf)
    // the df guard needs to hold on ONE side only: a pair forms at fp
    // iff fp survives on the a side, and the b side then contributes
    // exactly the kept rows — so b skips the sort+window entirely and
    // probes the shared exchange raw
    val a = kept.select(col("fp"), col("id").as("id_a"))
    val b = fps.select(col("fp"), col("id").as("id_b"))
    a.join(b, "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Band-pigeonhole Hamming join on a fingerprint frame
    * (`id`, `simhash`): every pair within `maxHamming` agrees exactly
    * on one of the `maxHamming + 1` bands. Duplicate fingerprints —
    * the dominant 100-TB case is exact-dup documents — collapse
    * through [[SetGroups]]: band one representative per distinct
    * fingerprint, then fan rep pairs out to members and add each
    * group's internal pairs at hamming 0. */
  private[operators] def hammingPairs(sims0: DataFrame, bits: Int,
                                      maxHamming: Int,
                                      maxBucket: Int): DataFrame = {
    // materialize the fingerprints once: the banded frame feeds the
    // bucket-size aggregate, BOTH sides of the candidate self-join,
    // and the star fallback — without this the md5 fingerprint scan
    // re-runs on every branch (same shape as minhashCandidates'
    // checkpoint; blocks release with the plan, unlike persist).
    // LAZY (r15): the gate aggregate below is a synchronous action
    // that runs before any concurrent consumer, so it materializes
    // the blocks itself — one job round instead of two (the eager
    // form paid a dedicated checkpoint job, then the gate re-read
    // the blocks; as in `signatures`, no concurrent self-join side
    // can race the lazy checkpoint because the gate always runs first)
    val sims = sims0.localCheckpoint(eager = false)
    val groups = SetGroups.collapse(sims, "id", Seq("simhash"), maxBucket)
    val reps = groups.fold(sims)(_.reps)
    val nBands = maxHamming + 1
    val base = bits / nBands
    val extra = bits % nBands // first `extra` bands get one more bit
    // band b covers [off, off+width) of the fingerprint
    val layout = (0 until nBands).scanLeft((0, 0)) { case ((off, w), b) =>
      (off + w, base + (if (b < extra) 1 else 0))
    }.tail
    val banded = reps.select(
      col("id"), col("simhash"),
      explode(array(layout.zipWithIndex.map { case ((off, w), b) =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
            .as("bval"))
      }: _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.bval"))
    // verify BEFORE the (id_a, id_b) dedup exchange (r15, guide §2.3
    // — shuffle fewer bytes): the hamming check is a codegen bitwise
    // filter on columns already in hand, and duplicate instances of a
    // pair carry identical fingerprints, so filtering first cannot
    // change which pairs survive the dedup — only how many rows cross
    // the network to reach it
    val repPairs = starCappedPairs(banded, Seq("band", "bval"),
        Seq("simhash"), maxBucket)
      .withColumn("hamming",
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
    groups match {
      case None => repPairs.select(col("id_a"), col("id_b"), col("hamming"))
      case Some(g) =>
        g.fanOutPairs(repPairs, maxBucket, Seq("hamming"))
          .unionByName(g.withinGroupPairs(lit(true), maxBucket,
            Seq("hamming" -> lit(0).cast("int"))))
    }
  }

  /** The shared candidate-pair shape of [[minhashCandidates]],
    * [[hammingPairs]], and [[EmbeddingDedup]]: `banded` carries the
    * bucket-key columns plus `id` and `payload` columns. ONE hash
    * aggregate per bucket computes size + min-id hub (its exchange is
    * the same one the self-join needs — no window sort, no second
    * hot-side join); buckets <= `maxBucket` emit all unordered pairs
    * (id_a < id_b) via the key equi-join, larger buckets emit STAR
    * pairs around the hub — O(bucket), not O(bucket²), so one hot key
    * can't quadratically explode a task. Output: id_a, id_b, and each
    * payload column suffixed _a/_b. Multi-band callers dedup
    * (id_a, id_b) afterwards; single-bucket callers must not pay that
    * shuffle. Recall trade of the cap: see [[minhashCandidates]]. */
  private[operators] def starCappedPairs(banded: DataFrame, keys: Seq[String],
                                         payload: Seq[String],
                                         maxBucket: Int): DataFrame = {
    val keyCols = keys.map(col)
    val bucketInfo = banded.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("_bn"),
        min_by(struct(col("id") +: payload.map(col): _*), col("id")).as("_hub"))
    val enriched = banded.join(bucketInfo, keys)
    val cold = enriched.filter(col("_bn") <= maxBucket)
    def side(sfx: String): DataFrame = cold.select(
      (keyCols :+ col("id").as("id" + sfx)) ++
        payload.map(p => col(p).as(p + sfx)): _*)
    val coldPairs = side("_a").join(side("_b"), keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a") +: col("id_b") +:
        payload.flatMap(p => Seq(col(p + "_a"), col(p + "_b"))): _*)
    val starPairs = enriched
      .filter(col("_bn") > maxBucket && col("id") =!= col("_hub.id"))
      .select(col("_hub.id").as("id_a") +: col("id").as("id_b") +:
        payload.flatMap(p =>
          Seq(col("_hub." + p).as(p + "_a"), col(p).as(p + "_b"))): _*)
    coldPairs.unionByName(starPairs)
  }
}
