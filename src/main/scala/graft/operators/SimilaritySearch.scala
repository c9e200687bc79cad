package graft.operators

import graft.functions.VectorFns
import graft.plans.TopKPhysical
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Approximate-nearest-neighbor search over an embedding column —
  * the RAG/top-k surface the reference declares against pgvector
  * (reference: src/shared/schemas.py:88-108, vector_store.py:85).
  *
  * Two access paths:
  *  - `bruteForceTopK`: queries × corpus via broadcast of the (small)
  *    query set, exact cosine, per-query top-k. Correct baseline;
  *    cost O(|Q|·|C|) but fully parallel and |Q| is small in the RAG
  *    pattern.
  *
  * Both paths finish through [[graft.plans.TopKPhysical]] (bounded
  * per-partition buffers + map-side combine), NOT a per-query window:
  * a window would shuffle one query's ENTIRE candidate set — the
  * whole corpus for brute force, nProbe/nCells of it for IVF — into
  * a single task and sort it, which is a one-task bottleneck at a
  * 100 TB corpus. The physical operator reduces each partition's
  * candidates to k rows before the only exchange.
  *  - `ivfTopK`: IVF-style two-stage search — centroid assignment +
  *    probing the nProbe nearest cells only. Cuts the scan to
  *    nProbe/nCells of the corpus; the scale path for 100 TB corpora
  *    (the cell id becomes a partition key so a probe touches only
  *    matching partitions).
  *
  * Norms are precomputed once per side (exact scaled-long encoding, so
  * this is a pure evaluation-count optimization — results are
  * bit-identical to recomputing per pair).
  */
object SimilaritySearch {

  private def cosineFromParts(dot: org.apache.spark.sql.Column,
                              na: org.apache.spark.sql.Column,
                              nb: org.apache.spark.sql.Column) =
    when(na === 0 || nb === 0, lit(null).cast(DoubleType))
      .otherwise(dot.cast(DoubleType) / sqrt(na.cast(DoubleType) * nb.cast(DoubleType)))

  /** Exact cosine top-k per query. `queries` is expected to be small
    * (broadcast); corpus arbitrary. Deterministic tie-break on corpus
    * id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qId: String, qVec: String, cId: String, cVec: String,
                     k: Int): DataFrame = {
    val q = queries.select(col(qId), col(qVec))
      .withColumn("_qn", VectorFns.normSqScaled(col(qVec)))
    val c = corpus.select(col(cId), col(cVec))
      .withColumn("_cn", VectorFns.normSqScaled(col(cVec)))
    val joined = broadcast(q).crossJoin(c)
      .filter(col(qId) =!= col(cId))
      .withColumn("cosine", cosineFromParts(
        VectorFns.dotScaled(col(qVec), col(cVec)), col("_qn"), col("_cn")))
      // drop the vectors before the top-k buffers: only (ids, score)
      // rows are retained/shuffled, not embedding payloads
      .select(col(qId), col(cId), col("cosine"))
    TopKPhysical.topK(joined, Seq(qId), Seq(("cosine", false), (cId, true)), k)
      .select(col(qId), col(cId), col("cosine"), col("rnk"))
  }

  /** Assign every corpus vector to its nearest of `centroids` (small,
    * broadcast); returns corpus + `cell_id` column. Centroids:
    * (cell_id, cell_vec). Used both at index build and at query time.
    *
    * The argmin is a `min_by` AGGREGATE, not a window: a proper IVF
    * index sizes nCells with the corpus (~√N), so the candidate frame
    * is |corpus| × nCells rows — a window rank would shuffle and sort
    * ALL of them, while the hash aggregate's map-side combine
    * collapses each vector's nCells candidates inside the producing
    * task and exchanges only |corpus| rows. Same (distance, cell_id)
    * tie-break; measured 25× on a 100k × 2000-cell build. */
  def assignCells(vectors: DataFrame, centroids: DataFrame,
                  vId: String, vVec: String): DataFrame = {
    val cent = centroids
      .withColumn("_centn", VectorFns.normSqScaled(col("cell_vec")))
    val withD = vectors
      .withColumn("_vn", VectorFns.normSqScaled(col(vVec)))
      .crossJoin(broadcast(cent))
      .withColumn("_d",
        col("_vn") - lit(2L) * VectorFns.dotScaled(col(vVec), col("cell_vec")) + col("_centn"))
    val others = vectors.columns.filterNot(_ == vId).toSeq
    val aggs = min_by(col("cell_id"), struct(col("_d"), col("cell_id"))).as("cell_id") +:
      others.map(c => first(col(c)).as(c)) // copies are identical per group
    withD.groupBy(col(vId)).agg(aggs.head, aggs.tail: _*)
      .select((vId +: others :+ "cell_id").map(col): _*)
  }

  /** The IVF index: every corpus vector tagged with its nearest cell
    * (`cell`) plus its precomputed norm (`_cn`). Built ONCE and
    * amortized across queries — at corpus scale this is the expensive
    * side (|corpus| × nCells candidate work, nCells ~ √N), while each
    * probe touches only nProbe/nCells of the result. Callers that run
    * many query batches should persist this frame (ScaleTrial times
    * build and probe separately on exactly this split). */
  def buildIndex(corpus: DataFrame, centroids: DataFrame,
                 cId: String, cVec: String): DataFrame =
    assignCells(corpus, centroids, cId, cVec)
      .withColumnRenamed("cell_id", "cell")
      .withColumn("_cn", VectorFns.normSqScaled(col(cVec)))

  /** IVF top-k: probe only the `nProbe` cells nearest each query. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int, nProbe: Int): DataFrame =
    probeTopK(queries, buildIndex(corpus, centroids, cId, cVec), centroids,
      qId, qVec, cId, cVec, k, nProbe)

  /** The probe side alone, over a pre-built [[buildIndex]] frame. */
  def probeTopK(queries: DataFrame, indexed: DataFrame, centroids: DataFrame,
                qId: String, qVec: String, cId: String, cVec: String,
                k: Int, nProbe: Int): DataFrame =
    probe(queries, indexed, centroids, qId, qVec, Nil, col(qId) =!= col(cId),
      cId, cVec, k, nProbe)

  /** Corpus-scale hard-negative mining through the IVF cell probe —
    * q194's 100-TB path (its registry form broadcasts a small anchor
    * batch against the full corpus exactly; this probes only the
    * nProbe nearest cells per anchor): per anchor, the top-k
    * most-similar vectors with a DIFFERENT label. `indexed` must carry
    * the label column (buildIndex preserves every corpus column). */
  def probeHardNegatives(anchors: DataFrame, indexed: DataFrame,
                         centroids: DataFrame, qId: String, qVec: String,
                         qLbl: String, cId: String, cLbl: String,
                         cVec: String, k: Int, nProbe: Int): DataFrame =
    probe(anchors, indexed, centroids, qId, qVec, Seq(qLbl),
      col(qLbl) =!= col(cLbl), cId, cVec, k, nProbe)

  /** The one IVF probe: each query's nProbe nearest cells, the cell
    * members that pass `keep`, and the per-query top-k by cosine.
    * `carry` names query columns `keep` reads besides the id. `keep`
    * applies BEFORE the bounded top-k buffers, so only (ids, cosine)
    * rows ever reach them. */
  private def probe(queries: DataFrame, indexed: DataFrame, centroids: DataFrame,
                    qId: String, qVec: String, carry: Seq[String],
                    keep: org.apache.spark.sql.Column, cId: String, cVec: String,
                    k: Int, nProbe: Int): DataFrame = {
    val cent = centroids
      .withColumn("_centn", VectorFns.normSqScaled(col("cell_vec")))
    val qCells = queries
      .withColumn("_qn", VectorFns.normSqScaled(col(qVec)))
      .crossJoin(broadcast(cent))
      .withColumn("_d",
        col("_qn") - lit(2L) * VectorFns.dotScaled(col(qVec), col("cell_vec")) + col("_centn"))
    val qCols = (qId +: qVec +: carry :+ "_qn").map(col)
    // probe selection is itself a per-query top-nProbe over nCells
    // candidates — nCells ~ √N grows with the corpus, so it takes the
    // same bounded-buffer path (not a window)
    val probes = TopKPhysical.topK(
      qCells.select(qCols ++ Seq(col("cell_id"), col("_d")): _*),
      Seq(qId), Seq(("_d", true), ("cell_id", true)), nProbe, "_rn")
      .select(qCols :+ col("cell_id").as("cell"): _*)
    val cand = probes.join(indexed, "cell")
      .filter(keep)
      .withColumn("cosine", cosineFromParts(
        VectorFns.dotScaled(col(qVec), col(cVec)), col("_qn"), col("_cn")))
      .select(col(qId), col(cId), col("cosine"))
    TopKPhysical.topK(cand, Seq(qId), Seq(("cosine", false), (cId, true)), k)
      .select(col(qId), col(cId), col("cosine"), col("rnk"))
  }
}
