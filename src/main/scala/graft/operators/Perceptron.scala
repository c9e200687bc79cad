package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Batch-gradient perceptron TRAINING over hashed bag-of-words
  * features — the in-engine trainer for the linear text filters a
  * curation pipeline runs at corpus scale (fastText-style language /
  * quality gates: Joulin et al. 2016, arXiv:1607.01759 train exactly
  * this shape — a linear classifier over hashed n-gram features;
  * CCNet and the LLaMA data pipeline deploy such filters as
  * keep/drop gates). Fourth member of the iterative trainer family
  * next to Lloyd's step ([[KMeansTrain]]), power iteration (q171),
  * and the BPE merge loop ([[BpeTrain]]).
  *
  * The classic perceptron (Rosenblatt 1958) updates after EVERY
  * example — inherently sequential and row-order-dependent, so it
  * could never match a declarative oracle. This is the BATCH variant
  * (each round updates on the sum over ALL currently-misclassified
  * examples), whose update is one order-independent integer
  * aggregate per round:
  *
  *   margin_d = Σ_b w_b · x_{d,b}          (exact int64)
  *   miss     = { d : y_d · margin_d ≤ 0 }
  *   w'_b     = w_b + Σ_{d ∈ miss} y_d · x_{d,b}
  *
  * Deterministic by construction — integer weights, integer counts,
  * sums of longs — so a DuckDB unrolled-CTE oracle replays the whole
  * training run bit-for-bit (q180; the q171 oracle convention).
  *
  * Scale shape: features collapse ONCE to one array-pair row per
  * document (wordcount-shaped aggregate, checkpointed); each round is
  * then a SINGLE corpus pass — margins evaluate in the scan against
  * the weight vector carried as a literal array (the broadcast-
  * equivalent for a model that is (nBuckets+1) longs), misclassified
  * docs explode their features into a map-side-combined per-bucket
  * sum of ≤ nBuckets+1 rows. The weight state lives on the driver
  * between rounds — the documented bounded-artifact convention
  * (PageRank's node count, q171's d²/2 Gram cells): O(nBuckets) per
  * round, never corpus-sized. A model too wide for a plan literal
  * (millions of hashed buckets) would swap the literal for a
  * broadcast join on `b` — same dataflow, same update rule.
  */
object Perceptron {

  /** Train `iters` batch-perceptron rounds over
    * `feats(doc_id, y, b, x)` — y ∈ {+1,−1}, b ∈ [0, nBuckets]
    * (bucket `nBuckets` is the caller's bias feature), x an integer
    * count. Returns `(b, w)`, one row per bucket, zero-initialized
    * buckets included even when no document touches them.
    *
    * The hybrid switch ([[LocalExact]]) gates on FEATURE ROWS (≥
    * docs, ≤ docs × (nBuckets+1)); r14's gate counted the per-doc
    * array table, which cost a corpus-wide collect_list aggregate +
    * eager checkpoint just to decide the dispatch (FloorProbe: the
    * whole q180 build phase). Sub-threshold, the kernel consumes the
    * RAW feature rows in flat primitive arrays — no per-doc array
    * build at all. */
  def train(feats: DataFrame, nBuckets: Int, iters: Int): DataFrame = {
    // slim projection materialized once: the dispatch count and the
    // chosen path both read it
    val fm = feats.select(col("doc_id").cast(LongType).as("doc_id"),
        col("y").cast(LongType).as("y"), col("b").cast(LongType).as("b"),
        col("x").cast(LongType).as("x"))
      .localCheckpoint(eager = false)
    LocalExact.internal(fm, LocalSchema, LocalSolveMaxRows)(localSolve(_, nBuckets, iters))
      .getOrElse(distributed(fm, nBuckets, iters))
  }

  /** Feature-row threshold of the one-task path. */
  private val LocalSolveMaxRows = 2000000L

  private val LocalSchema = StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("w", LongType, nullable = false)))

  /** One-task replay over the raw `(doc_id, y, b, x)` rows, in flat
    * row-major arrays (the PageRank r14 kernel idiom): margins and
    * updates are both single passes over the row arrays — per-doc
    * feature lists never materialize. The batch update is a sum of
    * longs, so row order cannot affect the weights (OperatorSpec pins
    * partition invariance). */
  private def localSolve(it: Iterator[InternalRow], nBuckets: Int,
                         iters: Int): Iterator[Row] = {
    import scala.collection.mutable
    val docIdx = mutable.LongMap.empty[Int]
    val ys = new mutable.ArrayBuffer[Long]()
    var rd = new Array[Int](1 << 12)
    var rb = new Array[Int](1 << 12)
    var rx = new Array[Long](1 << 12)
    var nR = 0
    it.foreach { r =>
      if (nR == rd.length) {
        rd = java.util.Arrays.copyOf(rd, nR * 2)
        rb = java.util.Arrays.copyOf(rb, nR * 2)
        rx = java.util.Arrays.copyOf(rx, nR * 2)
      }
      val d = r.getLong(0)
      val di = docIdx.getOrElse(d, -1)
      rd(nR) =
        if (di >= 0) di
        else {
          val nd = ys.length
          docIdx.update(d, nd)
          ys += r.getLong(1)
          nd
        }
      rb(nR) = r.getLong(2).toInt
      rx(nR) = r.getLong(3)
      nR += 1
    }
    val nD = ys.length
    val w = Array.fill(nBuckets + 1)(0L)
    for (_ <- 1 to iters) {
      val m = new Array[Long](nD)
      var i = 0
      while (i < nR) { m(rd(i)) += w(rb(i)) * rx(i); i += 1 }
      val upd = Array.fill(nBuckets + 1)(0L)
      i = 0
      while (i < nR) {
        val d = rd(i)
        if (ys(d) * m(d) <= 0L) upd(rb(i)) += ys(d) * rx(i)
        i += 1
      }
      var b = 0
      while (b <= nBuckets) { w(b) += upd(b); b += 1 }
    }
    (0 to nBuckets).iterator.map(b => Row(b.toLong, w(b)))
  }

  private def distributed(fm: DataFrame, nBuckets: Int, iters: Int): DataFrame = {
    val spark = fm.sparkSession
    import spark.implicits._
    // over-threshold: one array-pair row per doc, materialized once —
    // every round re-reads this, never the raw feature stream.
    // array_sort on the (b, x) struct pins the collect_list order
    // (b is unique per doc).
    val fa = fm.groupBy(col("doc_id"), col("y"))
      .agg(array_sort(collect_list(struct(col("b"), col("x")))).as("fx"))
      // field extraction over the array<struct> is GetArrayStructFields
      // (codegen) — the transform(...) lambda form evaluated
      // interpreted for the same result (r15, §4-analog)
      .select(col("y"),
        col("fx").getField("b").as("bs"),
        col("fx").getField("x").as("xs"))
      .localCheckpoint()
    val w = Array.fill(nBuckets + 1)(0L)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    for (_ <- 1 to iters) {
      val wlit = array(w.toSeq.map(lit): _*)
      // margin Σ w[b]·x as a codegen gather-dot kernel (r15): the
      // aggregate(zip_with(...)) HOF composition evaluated INTERPRETED
      // once per doc per iteration on this (the 100-TB) path; the
      // kernel is the same long multiply-add in the same order —
      // 0-based w[b] ≡ the old 1-based element_at(wlit, b+1)
      val upd = fa
        .withColumn("m", ColumnBridge.column(
          graft.functions.GatherDotLongExpr(
            ColumnBridge.eagerExpression(wlit),
            ColumnBridge.expression(col("bs")),
            ColumnBridge.expression(col("xs")))))
        .filter(col("y") * col("m") <= 0)
        .select(col("y"), explode(arrays_zip(col("bs"), col("xs"))).as("p"))
        .groupBy(col("p.bs").as("b"))
        .agg(sum(col("y") * col("p.xs")).as("u"))
        .collect() // bounded artifact: ≤ nBuckets+1 rows per round
      upd.foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
    }
    w.toSeq.zipWithIndex.map { case (v, b) => (b.toLong, v) }.toDF("b", "w")
  }
}
