package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructField, StructType}

import graft.functions.VectorFns

/** K-means codebook TRAINING: the q89 Lloyd step composed to a fixed
  * iteration count — the trainer behind every centroid-consuming
  * operator in the vector family (IVF cells in
  * [[SimilaritySearch.ivfTopK]], PQ codebooks, SemDeDup cells in
  * [[SemanticDedup]]).
  *
  * Deterministic by construction, so the full training loop is
  * bit-reproducible by the DuckDB oracle (q103 replays it as a
  * recursive CTE):
  *   - init: the k min-id vectors (no RNG);
  *   - assignment: exact scaled-long L2 argmin via `min_by` with the
  *     (distance, cell_id) tie-break — map-side combine collapses each
  *     vector's k candidates inside the scan task, no window
  *     (see [[SimilaritySearch.assignCells]]);
  *   - recompute: per-dimension means accumulated as scaled longs
  *     (order-independent exact integer sums), divisions in a fixed
  *     order, rounded to 6 decimals — each iteration's centroids are
  *     exact decimal values both engines reproduce;
  *   - empty clusters keep their previous centroid (left join +
  *     coalesce), the standard Lloyd convention.
  *
  * Scale shape: centroids are k rows (broadcast); each iteration is
  * one |corpus|-row aggregate (assignment) + one |corpus|·dim-row
  * aggregate (means), both map-side combined — spark.ml KMeans'
  * dataflow with the nondeterminism removed. State between iterations
  * is k rows, `localCheckpoint`ed to keep lineage flat.
  *
  * Published method: Lloyd's algorithm; SemDeDup trains its cells
  * exactly this way (Abbas et al., arXiv:2303.09540 §2).
  */
object KMeansTrain {

  /** Train centroids over `vectors(idCol, vecCol)`; returns
    * `(cell_id: long, cell_vec: array<double>)`, one row per of the
    * `k` min-id-initialized centroids.
    *
    * @param autoCellTarget when set, `k` becomes a FLOOR and the
    *   effective centroid count grows with the corpus:
    *   `max(k, ceil(n / target))` — the SemDeDup posture "more
    *   centroids for more vectors" as the default instead of a
    *   strictCap fail-fast at scale-up. The count is the same one
    *   the hybrid switch already pays. Unset = fixed k (the
    *   oracle-replayable form). */
  def train(vectors: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int,
            autoCellTarget: Option[Int] = None): DataFrame = {
    // pin the caller's (possibly expensive) vector derivation ONCE
    // before the threshold count — without the checkpoint the count
    // and the chosen path's first pass each re-execute the upstream
    // lineage (the PageRank/ClusterUnify materialization convention)
    val vecs = vectors.select(col(idCol).cast(LongType).as("_vid"),
      col(vecCol).as("_v")).localCheckpoint(eager = false)
    val n = vecs.count()
    val kEff = autoCellTarget
      .map(t => math.max(k.toLong, (n + t - 1) / t).toInt).getOrElse(k)
    // Hybrid switch (LocalExact, reusing the count above): below the
    // threshold the whole Lloyd loop runs in one executor task with
    // the identical scaled-long / HALF_UP arithmetic — above it, the
    // broadcast-assignment iterations (the 100-TB path: each
    // iteration is one corpus pass).
    val isFloat = vecs.schema("_v").dataType
      .asInstanceOf[ArrayType].elementType == FloatType
    LocalExact(vecs, LocalSchema, LocalSolveMaxVectors, Some(n))(
      localSolve(_, kEff, iters, isFloat))
      .getOrElse(distributed(vecs, kEff, iters))
  }

  /** Vector-count threshold of the one-task path. */
  private val LocalSolveMaxVectors = 2000000L

  private val LocalSchema = StructType(Seq(StructField("cell_id", LongType),
    StructField("cell_vec", ArrayType(DoubleType))))

  private def distributed(vecs: DataFrame, kEff: Int, iters: Int): DataFrame = {
    var cents = vecs.filter(col("_vid") < kEff)
      .select(col("_vid").as("cell_id"),
        transform(col("_v"), x => x.cast(DoubleType)).as("cell_vec"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      val assigned = vecs
        .crossJoin(broadcast(cents.select(col("cell_id").as("_cid"),
          col("cell_vec").as("_cv"))))
        .withColumn("_d", VectorFns.l2SqScaled(col("_v"), col("_cv")))
        .groupBy(col("_vid"))
        .agg(min_by(col("_cid"), struct(col("_d"), col("_cid"))).as("_cid"),
          first(col("_v")).as("_v"))
      val means = assigned
        .select(col("_cid"), posexplode(col("_v")).as(Seq("_dim", "_x")))
        .withColumn("_xs",
          round(col("_x").cast(DoubleType) * lit(1e10), 0).cast(LongType))
        .groupBy(col("_cid"), col("_dim"))
        .agg(count(lit(1)).as("_n"), sum(col("_xs")).as("_xsum"))
        .select(col("_cid"), col("_dim"),
          round(col("_xsum").cast(DoubleType) / col("_n").cast(DoubleType)
            / lit(1e10), 6).as("_cvd"))
        .groupBy(col("_cid"))
        // collect_list is order-nondeterministic; array_sort on the
        // (dim, value) struct restores the one true order
        .agg(transform(
          array_sort(collect_list(struct(col("_dim"), col("_cvd")))),
          s => s.getField("_cvd")).as("_nv"))
      cents = cents
        .join(means, cents("cell_id") === means("_cid"), "left")
        .select(col("cell_id"),
          coalesce(col("_nv"), col("cell_vec")).as("cell_vec"))
        .localCheckpoint()
    }
    cents
  }

  /** Single-task exact replay of the distributed Lloyd loop. Parity
    * details: per-element products round HALF_UP in the 1e10 scaled
    * domain ([[graft.functions.VectorKernels.halfUpLong]] — the same
    * kernel the DotScaledExpr assignment uses); the (distance,
    * cell_id) tie-break matches `min_by`'s struct order; per-(cell,
    * dim) counts replicate the posexplode grouping (short vectors
    * contribute to fewer dims); empty clusters keep their previous
    * centroid; means round to 6 decimals via the same BigDecimal
    * HALF_UP as Catalyst's `round(x, 6)`. */
  private def localSolve(it: Iterator[Row], k: Int, iters: Int,
                         isFloat: Boolean): Iterator[Row] = {
    import graft.functions.VectorKernels.halfUpLong
    val data = it.map { r =>
      val v = if (isFloat) r.getSeq[Float](1).map(_.toDouble).toArray
        else r.getSeq[Double](1).toArray
      (r.getLong(0), v)
    }.toArray
    def dot(a: Array[Double], b: Array[Double]): Long = {
      val n = math.min(a.length, b.length)
      var s = 0L
      var i = 0
      while (i < n) { s += halfUpLong(a(i) * b(i) * 1e10); i += 1 }
      s
    }
    def round6(v: Double): Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    var cents = data.filter(_._1 < k).sortBy(_._1)
      .map { case (id, v) => (id, v.clone()) }
    if (cents.isEmpty) Iterator.empty
    else {
      val normV = data.map { case (_, v) => dot(v, v) }
      for (_ <- 0 until iters) {
        val normC = cents.map { case (_, c) => dot(c, c) }
        val dimMax = data.iterator.map(_._2.length).max
        val xsum = Array.ofDim[Long](cents.length, dimMax)
        val cnt = Array.ofDim[Long](cents.length, dimMax)
        var vi = 0
        while (vi < data.length) {
          val v = data(vi)._2
          var best = 0
          var bestD = Long.MaxValue
          var bestId = Long.MaxValue
          var j = 0
          while (j < cents.length) {
            val d = normV(vi) - 2L * dot(v, cents(j)._2) + normC(j)
            if (d < bestD || (d == bestD && cents(j)._1 < bestId)) {
              best = j; bestD = d; bestId = cents(j)._1
            }
            j += 1
          }
          var di = 0
          while (di < v.length) {
            xsum(best)(di) += halfUpLong(v(di) * 1e10)
            cnt(best)(di) += 1L
            di += 1
          }
          vi += 1
        }
        cents = cents.zipWithIndex.map { case ((id, old), j) =>
          val nDims = cnt(j).lastIndexWhere(_ > 0L) + 1
          if (nDims == 0) (id, old) // empty cluster keeps centroid
          else (id, Array.tabulate(nDims)(d =>
            round6(xsum(j)(d).toDouble / cnt(j)(d).toDouble / 1e10)))
        }
      }
      cents.iterator.map { case (id, v) => Row(id, v.toSeq) }
    }
  }
}
