package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-cosine near-duplicate detection — the vector analog of
  * MinHash dedup for training-data pipelines: random-hyperplane LSH
  * (sign of projection per plane → bucket key), then exact cosine
  * verification inside buckets only. No cross join at any point: the
  * only shuffle is the bucket equi-join, and buckets shrink
  * geometrically with the number of planes.
  *
  * Hyperplanes are taken from the corpus itself (first `nPlanes`
  * vectors by id) so the pipeline is fully deterministic and
  * reproducible by any SQL oracle — no RNG state to ship. The planes
  * are collected to the driver (nPlanes rows — bounded and tiny, like
  * any LSH plane set) and inlined as literals, so bucketing is a pure
  * projection: no extra join or shuffle to attach signs.
  */
object EmbeddingDedup {

  /** @return (id_a, id_b, cosine) pairs sharing a sign-bucket with
    *         cosine ≥ threshold; ids ordered a < b.
    *
    * `maxBucket` skew guard: buckets above the cap emit STAR pairs
    * (member vs min-id hub) instead of all pairs — candidate count
    * stays O(bucket) instead of O(bucket²). Recall trade as in
    * [[Dedup.minhashCandidates]]: member-member edges inside a hot
    * bucket of DISTINCT near-identical vectors surface only through
    * the hub, so size the cap above any bucket an all-pairs pass
    * should handle.
    *
    * Exact-duplicate vectors — the dominant near-dup class in a
    * replicated corpus — would inflate their sign-bucket past the cap
    * and truncate recall; they collapse through [[SetGroups]] (bucket
    * one representative per distinct vector, pair at the distinct
    * level, fan out to members). */
  def apply(vectors: DataFrame, idCol: String, vecCol: String,
            nPlanes: Int, threshold: Double, maxBucket: Int = 1000): DataFrame = {
    val planeVecs: Seq[Seq[Float]] = vectors.orderBy(col(idCol)).limit(nPlanes)
      .select(col(vecCol)).collect().toSeq
      .map(_.getSeq[Float](0))

    // bucket key: concatenated projection signs, plane order = id order
    val bucket = concat(planeVecs.map { p =>
      when(VectorFns.dotScaled(col(vecCol), typedLit(p)) >= 0, lit("1"))
        .otherwise(lit("0"))
    }: _*)

    // materialize once: the nPlanes+1 scaled-dot projections feed the
    // bucket aggregate, both cold self-join sides, and the star branch
    // — same reason Dedup's kernels checkpoint their fingerprint scans
    val signs = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"),
        VectorFns.normSqScaled(col(vecCol)).as("_n"), bucket.as("bucket"))
      // LAZY (r15): the threshold-gate aggregate below is the first
      // consumer and synchronous — it materializes the blocks itself;
      // the self-join sides only execute after it returned
      .localCheckpoint(eager = false)
    // vec determines _n and bucket, so grouping by all three is
    // grouping by vec and keeps both on the group row
    val groups =
      SetGroups.collapse(signs, "id", Seq("vec", "_n", "bucket"), maxBucket)
    val reps = groups.fold(signs)(_.reps)

    // shared pair shape (one bucket aggregate + star fallback) lives
    // in Dedup.starCappedPairs; a doc sits in exactly ONE sign-bucket
    // here, so pairs are already unique and no multi-band dedup
    // shuffle is paid
    val banded = reps.select(col("bucket"), col("id"), col("vec"), col("_n"))
    val repPairs = Dedup
      .starCappedPairs(banded, Seq("bucket"), Seq("vec", "_n"), maxBucket)
      .withColumn("cosine",
        when(col("_n_a") === 0 || col("_n_b") === 0, lit(null).cast("double"))
          .otherwise(VectorFns.dotScaled(col("vec_a"), col("vec_b")).cast("double") /
            sqrt(col("_n_a").cast("double") * col("_n_b").cast("double"))))
      .filter(col("cosine") >= threshold)
    groups match {
      case None => repPairs.select(col("id_a"), col("id_b"), col("cosine"))
      case Some(g) =>
        // a group's internal cosine is the SAME _n/sqrt(_n·_n) double
        // expression the in-bucket join would have produced (sqrt(n·n)
        // can differ from n by an ulp — a hand-written 1.0 would
        // diverge from the SQL oracle bit-for-bit); zero-norm groups
        // get the same null and so fail the threshold
        val self = when(col("_n") === 0, lit(null).cast("double"))
          .otherwise(col("_n").cast("double") /
            sqrt(col("_n").cast("double") * col("_n").cast("double")))
        g.fanOutPairs(repPairs, maxBucket, Seq("cosine"))
          .unionByName(g.withinGroupPairs(self >= threshold, maxBucket,
            Seq("cosine" -> self)))
    }
  }
}
