package graft.queries

import graft.operators.SimilaritySearch
import graft.util.Tables
import org.apache.spark.sql.functions._

/** Similarity-search surface over `embeddings` — the RAG top-k the
  * reference declares against pgvector (schemas.py:88-108). Brute-force
  * exact cosine as the correctness baseline; IVF-style probing as the
  * 100 TB scale path. Both oracles reproduce the scaled-long dot
  * products exactly (see VectorFns determinism note).
  */
object VectorQueries {

  /** DuckDB scaled-long dot product between two FLOAT lists (shared by
    * every vector oracle). */
  private[queries] def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), " +
      s"s -> CAST(round(CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE) * 1e10, 0) AS BIGINT))) AS BIGINT)"

  private[queries] def normSql(a: String): String =
    s"CAST(list_sum(list_transform($a, " +
      s"x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e10, 0) AS BIGINT))) AS BIGINT)"

  val all: Seq[Q] = Seq(

    // Exact cosine top-k (RAG top_k=5 default, schemas.py:92).
    Q("q26_cosine_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val corpus = emb.select(col("vec_id").as("n_id"), col("embedding"))
        SimilaritySearch.bruteForceTopK(queries, corpus,
          "q_id", "q_vec", "n_id", "embedding", k = 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS n_id, embedding AS cv FROM embeddings),
             |dots AS (SELECT q_id, n_id,
             |    ${dotSql("qv", "cv")} AS dot,
             |    ${normSql("qv")} AS na,
             |    ${normSql("cv")} AS nb
             |  FROM q, c WHERE q_id <> n_id),
             |cos AS (SELECT q_id, n_id,
             |    CASE WHEN na = 0 OR nb = 0 THEN NULL
             |      ELSE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS cosine
             |  FROM dots)
             |SELECT q_id, n_id, cosine, rnk FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
             |  FROM cos) t
             |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),
      headline = true),

    // IVF two-stage ANN: 10 seed centroids (every 50th vector), probe
    // the 3 nearest cells per query. The oracle replays the identical
    // assignment/probe/rank pipeline.
    Q("q27_ivf_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val centroids = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val corpus = emb.select(col("vec_id").as("n_id"), col("embedding"))
        SimilaritySearch.ivfTopK(queries, corpus, centroids,
          "q_id", "q_vec", "n_id", "embedding", k = 5, nProbe = 3)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some {
        def l2(a: String, b: String) =
          s"(${normSql(a)} - 2 * ${dotSql(a, b)} + ${normSql(b)})"
        s"""WITH cent AS (SELECT vec_id AS cell_id, embedding AS cell_vec
           |    FROM embeddings WHERE vec_id % 50 = 0),
           |corp AS (SELECT vec_id AS n_id, embedding AS cv FROM embeddings),
           |assigned AS (SELECT n_id, cv, cell_id,
           |    ROW_NUMBER() OVER (PARTITION BY n_id
           |      ORDER BY ${l2("cv", "cell_vec")}, cell_id) AS arn
           |  FROM corp, cent),
           |idx AS (SELECT n_id, cv, cell_id AS cell FROM assigned WHERE arn = 1),
           |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
           |qcell AS (SELECT q_id, qv, cell_id,
           |    ROW_NUMBER() OVER (PARTITION BY q_id
           |      ORDER BY ${l2("qv", "cell_vec")}, cell_id) AS prn
           |  FROM q, cent),
           |probes AS (SELECT q_id, qv, cell_id AS cell FROM qcell WHERE prn <= 3),
           |cand AS (SELECT p.q_id, i.n_id, p.qv, i.cv
           |  FROM probes p JOIN idx i ON p.cell = i.cell
           |  WHERE p.q_id <> i.n_id),
           |cos AS (SELECT q_id, n_id,
           |    CASE WHEN ${normSql("qv")} = 0 OR ${normSql("cv")} = 0 THEN NULL
           |      ELSE CAST(${dotSql("qv", "cv")} AS DOUBLE) /
           |        sqrt(CAST(${normSql("qv")} AS DOUBLE) * CAST(${normSql("cv")} AS DOUBLE)) END AS cosine
           |  FROM cand)
           |SELECT q_id, n_id, cosine, rnk FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
           |  FROM cos) t
           |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
      }),

    // Int8-quantized rerank: symmetric per-vector quantization
    // (q_i = round(x_i * 127 / max|x|)) then EXACT integer dot
    // products for ranking — the memory-bound scale path for a
    // 100 TB embedding store (4 bytes → 1 byte per dim; integer SIMD
    // dots at query time). The oracle replays the identical
    // quantize/dot/rank pipeline; everything after the single IEEE
    // divide is exact integer math, so results are bit-stable.
    Q("q78_int8_quant",
      (s, dir) => {
        import graft.functions.VectorFns
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), VectorFns.quantizeInt8(col("embedding")).as("qv"))
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("qv").as("qa"))
        val corpus = emb.select(col("vec_id").as("n_id"), col("qv").as("qb"))
        val joined = broadcast(queries).crossJoin(corpus)
          .filter(col("q_id") =!= col("n_id"))
          .withColumn("qdot", VectorFns.dotLong(col("qa"), col("qb")))
          .withColumn("cos_q8", VectorFns.cosineQ8(col("qa"), col("qb")))
          // bounded-buffer top-k (not a window): quantized vectors are
          // dropped before buffering, ranking on the UNROUNDED score
          .select(col("q_id"), col("n_id"), col("qdot"), col("cos_q8"))
        graft.plans.TopKPhysical.topK(joined, Seq("q_id"),
          Seq(("cos_q8", false), ("n_id", true)), k = 5)
          .select(col("q_id"), col("n_id"), col("qdot"),
            round(col("cos_q8"), 6).as("cos_q8"), col("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some {
        val qexpr =
          """CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
            |      OR len(embedding) = 0
            |    THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
            |    ELSE list_transform(embedding, x -> CAST(round(
            |      CAST(x AS DOUBLE) / (list_max(list_transform(embedding,
            |        y -> abs(CAST(y AS DOUBLE)))) / 127.0), 0) AS BIGINT)) END""".stripMargin
        def idot(a: String, b: String) =
          s"CAST(list_sum(list_transform(list_zip($a, $b), s -> s[1] * s[2])) AS BIGINT)"
        s"""WITH qt AS (SELECT vec_id, $qexpr AS qv FROM embeddings),
           |q AS (SELECT vec_id AS q_id, qv AS qa FROM qt WHERE vec_id < 10),
           |c AS (SELECT vec_id AS n_id, qv AS qb FROM qt),
           |dots AS (SELECT q_id, n_id,
           |    ${idot("qa", "qb")} AS qdot,
           |    ${idot("qa", "qa")} AS na,
           |    ${idot("qb", "qb")} AS nb
           |  FROM q, c WHERE q_id <> n_id),
           |cos AS (SELECT q_id, n_id, qdot,
           |    CASE WHEN na = 0 OR nb = 0 THEN NULL
           |      ELSE CAST(qdot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS cos_q8
           |  FROM dots)
           |SELECT q_id, n_id, qdot, round(cos_q8, 6) AS cos_q8, rnk FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_q8 DESC, n_id) AS rnk
           |  FROM cos) t
           |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
      }),

    // The RAG query surface proper (schemas.py:88-108): top_k=5 with a
    // metadata filter (label as the category analog) scoped per query —
    // filtered ANN, the pgvector `WHERE client_id=… AND category=…
    // ORDER BY embedding <=> q LIMIT 5` shape.
    Q("q28b_rag_filtered",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            (col("vec_id") % 10).cast("int").as("want_label"))
        val corpus = emb.select(col("vec_id").as("n_id"), col("embedding"),
          col("label"))
        val joined = broadcast(queries).crossJoin(corpus)
          .filter(col("q_id") =!= col("n_id") && col("label") === col("want_label"))
          .withColumn("cosine", graft.functions.VectorFns.cosine(col("q_vec"), col("embedding")))
          .select(col("q_id"), col("n_id"), col("label"), col("cosine"))
        graft.plans.TopKPhysical.topK(joined, Seq("q_id"),
          Seq(("cosine", false), ("n_id", true)), k = 5)
          .select(col("q_id"), col("n_id"), col("label"), col("cosine"), col("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv,
             |    CAST(vec_id % 10 AS INT) AS want_label
             |  FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS n_id, embedding AS cv, label FROM embeddings),
             |dots AS (SELECT q_id, n_id, label,
             |    ${dotSql("qv", "cv")} AS dot,
             |    ${normSql("qv")} AS na,
             |    ${normSql("cv")} AS nb
             |  FROM q, c WHERE q_id <> n_id AND label = want_label),
             |cos AS (SELECT q_id, n_id, label,
             |    CASE WHEN na = 0 OR nb = 0 THEN NULL
             |      ELSE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS cosine
             |  FROM dots)
             |SELECT q_id, n_id, label, cosine, rnk FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
             |  FROM cos) t
             |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin)),

    // Product-quantization codes (Jégou et al. TPAMI'11): split each
    // 64-dim vector into 4 subspaces of 16 dims; per subspace, assign
    // to the nearest of 8 codebook centroids (the subvectors of
    // vec_id < 8 — a deterministic stand-in for k-means training).
    // Distances are exact scaled-long L2 via |x|^2 + |c|^2 - 2x.c, so
    // assignment ties and ordering are integer-deterministic; the
    // codebook join is a broadcast (codebook is small by
    // construction — the 100 TB shape: PQ codes shrink vectors 64x
    // and the scan side never shuffles).
    Q("q80_pq_codes",
      (s, dir) => {
        import graft.functions.VectorFns
        val emb = Tables(s, dir, "embeddings")
        val subs = emb.select(col("vec_id"),
          posexplode(array((0 until 4).map(m =>
            slice(col("embedding"), m * 16 + 1, 16)): _*)).as(Seq("sub", "sv")))
        val cents = subs.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("sub"), col("sv").as("cv"))
        val dists = subs.join(broadcast(cents), "sub")
          .withColumn("dist", VectorFns.l2SqScaled(col("sv"), col("cv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id"), col("sub"))
          .orderBy(col("dist"), col("cid"))
        dists.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("sub"), col("cid").as("code"), col("dist"))
          .orderBy(col("vec_id"), col("sub"))
      },
      Some {
        val subSelects = (0 until 4).map { m =>
          s"SELECT vec_id, CAST($m AS INT) AS sub, list_slice(embedding, ${m * 16 + 1}, ${(m + 1) * 16}) AS sv FROM embeddings"
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH sub AS (
           |  $subSelects),
           |cents AS (SELECT vec_id AS cid, sub, sv AS cv FROM sub WHERE vec_id < 8),
           |d AS (SELECT s.vec_id, s.sub, c.cid,
           |    ${normSql("s.sv")} + ${normSql("c.cv")} - 2 * ${dotSql("s.sv", "c.cv")} AS dist
           |  FROM sub s JOIN cents c ON s.sub = c.sub)
           |SELECT vec_id, sub, cid AS code, dist FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
           |  FROM d) t
           |WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin
      }),

    // One Lloyd iteration of k-means (k = 8 seed centroids = the
    // vec_id < 8 vectors) — the codebook-TRAINING primitive behind
    // q27's IVF cells and q80's PQ codebook: assign every vector to
    // its nearest centroid (exact scaled-long L2, ties broken by
    // centroid id), then recompute each centroid as the per-dimension
    // member mean. Determinism: assignment is integer arithmetic; the
    // mean accumulates per-dim scaled longs (order-independent exact
    // integer sum) and performs the two divisions in a fixed order.
    // Scale shape: centroids broadcast (k rows), one shuffle to
    // re-aggregate means — iterating this step is exactly
    // spark.ml KMeans' dataflow.
    Q("q89_kmeans_step",
      (s, dir) => {
        import graft.functions.VectorFns
        val emb = Tables(s, dir, "embeddings")
        val cents = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        // argmin via min_by (same (dist, cid) tie-break as a window
        // rank): the map-side combine collapses each vector's k
        // candidate rows before the exchange — a window would shuffle
        // |corpus| × k rows (see SimilaritySearch.assignCells)
        val assigned = emb.crossJoin(broadcast(cents))
          .withColumn("dist", VectorFns.l2SqScaled(col("embedding"), col("cv")))
          .groupBy(col("vec_id"))
          .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cluster_id"),
            first(col("embedding")).as("embedding"))
          .select(col("cluster_id"), col("embedding"))
        assigned
          .select(col("cluster_id"),
            posexplode(col("embedding")).as(Seq("dim_idx", "x")))
          .withColumn("xs",
            round(col("x").cast("double") * lit(1e10), 0).cast("long"))
          .groupBy(col("cluster_id"), col("dim_idx"))
          .agg(count(lit(1)).as("n_members"), sum(col("xs")).as("xsum"))
          .select(col("cluster_id"), col("dim_idx"), col("n_members"),
            round(col("xsum").cast("double") / col("n_members").cast("double")
              / lit(1e10), 6).as("centroid_val"))
          .orderBy(col("cluster_id"), col("dim_idx"))
      },
      Some(s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv
             |  FROM embeddings WHERE vec_id < 8),
             |d AS (SELECT e.vec_id, e.embedding, c.cid,
             |    ${normSql("e.embedding")} + ${normSql("c.cv")}
             |      - 2 * ${dotSql("e.embedding", "c.cv")} AS dist
             |  FROM embeddings e, cents c),
             |a AS (SELECT cid AS cluster_id, embedding FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
             |      ORDER BY dist, cid) AS rn FROM d) t
             |  WHERE rn = 1),
             |x AS (SELECT cluster_id, CAST(i - 1 AS INT) AS dim_idx,
             |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1e10, 0) AS BIGINT) AS xs
             |  FROM a, unnest(generate_series(1, len(embedding))) AS u(i))
             |SELECT cluster_id, dim_idx, CAST(COUNT(*) AS BIGINT) AS n_members,
             |  round(CAST(CAST(SUM(xs) AS BIGINT) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) / 1e10, 6) AS centroid_val
             |FROM x GROUP BY cluster_id, dim_idx
             |ORDER BY cluster_id, dim_idx""".stripMargin)),

    // SemDeDup-style semantic dedup (cluster-then-dedup, published
    // method arXiv:2303.09540): nearest-centroid assignment via the
    // IVF machinery, near-dup pairs within cells only (star-capped),
    // drop any vector with a higher-similarity-than-τ neighbor of
    // smaller id in its cell. The oracle replays assignment (argmin),
    // intra-cell pairs, and the drop rule in exact scaled-long
    // arithmetic. τ=0.35 drops ~16% of the synthetic corpus.
    Q("q97_semdedup",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val centroids = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
        graft.operators.SemanticDedup(
          emb.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", centroids, threshold = 0.35)
          .select(col("id").as("vec_id"), col("cell_id"), col("kept"))
          .orderBy(col("vec_id"))
      },
      Some {
        def l2(a: String, b: String) =
          s"(${normSql(a)} - 2 * ${dotSql(a, b)} + ${normSql(b)})"
        s"""WITH cent AS (SELECT vec_id AS cell_id, embedding AS cell_vec
           |    FROM embeddings WHERE vec_id % 50 = 0),
           |v AS (SELECT vec_id, embedding AS ev FROM embeddings),
           |assigned AS (SELECT vec_id, ev, cell_id FROM (
           |    SELECT v.vec_id, v.ev, cent.cell_id,
           |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
           |        ORDER BY ${l2("ev", "cell_vec")}, cell_id) AS arn
           |    FROM v, cent) t WHERE arn = 1),
           |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    CASE WHEN ${normSql("a.ev")} = 0 OR ${normSql("b.ev")} = 0 THEN NULL
           |      ELSE CAST(${dotSql("a.ev", "b.ev")} AS DOUBLE)
           |        / sqrt(CAST(${normSql("a.ev")} AS DOUBLE) * CAST(${normSql("b.ev")} AS DOUBLE)) END AS cosine
           |  FROM assigned a JOIN assigned b
           |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id),
           |dropped AS (SELECT DISTINCT id_b FROM pairs WHERE cosine >= 0.35)
           |SELECT a.vec_id, a.cell_id,
           |  CAST(CASE WHEN d.id_b IS NULL THEN 1 ELSE 0 END AS INT) AS kept
           |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.id_b
           |ORDER BY a.vec_id""".stripMargin
      }),

    // SemDeDup END-TO-END: q97 consumes pre-supplied centroids; the
    // published method (arXiv:2303.09540 §2) k-means-TRAINS them
    // first. This composes [[KMeansTrain]] (the q89 Lloyd step to a
    // fixed 3 iterations, deterministic min-id init, k=8) with
    // [[SemanticDedup]] — the full cluster-then-dedup pipeline with
    // no artifact input. The oracle replays the ENTIRE composition:
    // a recursive CTE runs the three Lloyd iterations (argmin
    // assignment + per-dim scaled-long means rounded to 6 decimals,
    // empty cells keeping their centroid), then the q97 dedup shape
    // consumes the trained table. Engine-side centroids are exact
    // 6-decimal DOUBLES (the dot kernel reads float×double directly —
    // float narrowing would corrupt them).
    Q("q103_semdedup_trained",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        // autoCellTarget: at the oracle scales n/250 stays under the
        // k=8 floor (sf0.01: 500, sf0.1: 2000 vectors → kEff=8, the
        // oracle-replayed value); a 10×+ scale-up grows the codebook
        // so SemanticDedup's maxCell strict gate holds by default
        val centroids = graft.operators.KMeansTrain.train(
          emb.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 8, iters = 3,
          autoCellTarget = Some(250))
        graft.operators.SemanticDedup(
          emb.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", centroids, threshold = 0.35)
          .select(col("id").as("vec_id"), col("cell_id"), col("kept"))
          .orderBy(col("vec_id"))
      },
      Some {
        def l2(a: String, b: String) =
          s"(${normSql(a)} - 2 * ${dotSql(a, b)} + ${normSql(b)})"
        s"""WITH RECURSIVE t(iter, cell_id, cell_vec) AS (
           |  SELECT 0, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
           |  FROM embeddings WHERE vec_id < 8
           |  UNION ALL
           |  SELECT iter + 1, t.cell_id, COALESCE(m.nv, t.cell_vec)
           |  FROM t LEFT JOIN (
           |    SELECT cid, list(v ORDER BY i) AS nv FROM (
           |      SELECT cid, i, round(CAST(CAST(SUM(xs) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e10, 6) AS v
           |      FROM (
           |        SELECT a.cid, u.i, CAST(round(CAST(a.embedding[u.i] AS DOUBLE) * 1e10, 0) AS BIGINT) AS xs
           |        FROM (
           |          SELECT vec_id, embedding, cid FROM (
           |            SELECT e.vec_id, e.embedding, c.cell_id AS cid,
           |              ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |                ORDER BY ${l2("e.embedding", "c.cell_vec")}, c.cell_id) AS rn
           |            FROM embeddings e, t c) s WHERE rn = 1) a,
           |        unnest(generate_series(1, len(a.embedding))) AS u(i)
           |      ) GROUP BY cid, i
           |    ) GROUP BY cid
           |  ) m ON m.cid = t.cell_id
           |  WHERE iter < 3
           |),
           |cent AS (SELECT cell_id, cell_vec FROM t WHERE iter = 3),
           |v AS (SELECT vec_id, embedding AS ev FROM embeddings),
           |assigned AS (SELECT vec_id, ev, cell_id FROM (
           |    SELECT v.vec_id, v.ev, cent.cell_id,
           |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
           |        ORDER BY ${l2("ev", "cell_vec")}, cell_id) AS arn
           |    FROM v, cent) t2 WHERE arn = 1),
           |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    CASE WHEN ${normSql("a.ev")} = 0 OR ${normSql("b.ev")} = 0 THEN NULL
           |      ELSE CAST(${dotSql("a.ev", "b.ev")} AS DOUBLE)
           |        / sqrt(CAST(${normSql("a.ev")} AS DOUBLE) * CAST(${normSql("b.ev")} AS DOUBLE)) END AS cosine
           |  FROM assigned a JOIN assigned b
           |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id),
           |dropped AS (SELECT DISTINCT id_b FROM pairs WHERE cosine >= 0.35)
           |SELECT a.vec_id, a.cell_id,
           |  CAST(CASE WHEN d.id_b IS NULL THEN 1 ELSE 0 END AS INT) AS kept
           |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.id_b
           |ORDER BY a.vec_id""".stripMargin
      }),

    // ANN RECALL EVALUATION — the eval harness every approximate
    // index deployment needs: recall@10 of the IVF probe (q27's
    // configuration) against brute-force exact ground truth, per
    // query, as exact integers (hits, recall in basis points). At
    // 100 TB this is how an index's nProbe/nCells tradeoff is tuned:
    // ground truth over a bounded query sample (10 queries here) via
    // the two-phase exact top-k, candidates from the probed index —
    // both already bounded-shuffle operators; the comparison itself
    // is a k-row-per-query equi-join. Ties broken (cosine desc,
    // n_id) identically in both engines, so recall is deterministic.
    Q("q120_ann_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val centroids = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val corpus = emb.select(col("vec_id").as("n_id"), col("embedding"))
        val exact = SimilaritySearch.bruteForceTopK(queries, corpus,
            "q_id", "q_vec", "n_id", "embedding", k = 10)
          .select(col("q_id"), col("n_id"))
        val approx = SimilaritySearch.ivfTopK(queries, corpus, centroids,
            "q_id", "q_vec", "n_id", "embedding", k = 10, nProbe = 3)
          .select(col("q_id"), col("n_id"))
        val hits = approx.join(exact, Seq("q_id", "n_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("h"))
        queries.select(col("q_id"))
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("h"), lit(0L)).as("n_hits"),
            (coalesce(col("h"), lit(0L)) * 1000).as("recall_bp"))
          .orderBy(col("q_id"))
      },
      Some {
        def l2(a: String, b: String) =
          s"(${normSql(a)} - 2 * ${dotSql(a, b)} + ${normSql(b)})"
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
           |    FROM embeddings WHERE vec_id < 10),
           |corp AS (SELECT vec_id AS n_id, embedding AS cv FROM embeddings),
           |exd AS (SELECT q_id, n_id,
           |    CASE WHEN ${normSql("qv")} = 0 OR ${normSql("cv")} = 0 THEN NULL
           |      ELSE CAST(${dotSql("qv", "cv")} AS DOUBLE) /
           |        sqrt(CAST(${normSql("qv")} AS DOUBLE) * CAST(${normSql("cv")} AS DOUBLE)) END AS cosine
           |  FROM q, corp WHERE q_id <> n_id),
           |ex AS (SELECT q_id, n_id FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
           |      ORDER BY cosine DESC, n_id) AS rnk FROM exd) t
           |  WHERE rnk <= 10),
           |cent AS (SELECT vec_id AS cell_id, embedding AS cell_vec
           |    FROM embeddings WHERE vec_id % 50 = 0),
           |assigned AS (SELECT n_id, cv, cell_id,
           |    ROW_NUMBER() OVER (PARTITION BY n_id
           |      ORDER BY ${l2("cv", "cell_vec")}, cell_id) AS arn
           |  FROM corp, cent),
           |idx AS (SELECT n_id, cv, cell_id AS cell FROM assigned WHERE arn = 1),
           |qcell AS (SELECT q_id, qv, cell_id,
           |    ROW_NUMBER() OVER (PARTITION BY q_id
           |      ORDER BY ${l2("qv", "cell_vec")}, cell_id) AS prn
           |  FROM q, cent),
           |probes AS (SELECT q_id, qv, cell_id AS cell FROM qcell WHERE prn <= 3),
           |cand AS (SELECT p.q_id, i.n_id, p.qv, i.cv
           |  FROM probes p JOIN idx i ON p.cell = i.cell
           |  WHERE p.q_id <> i.n_id),
           |apd AS (SELECT q_id, n_id,
           |    CASE WHEN ${normSql("qv")} = 0 OR ${normSql("cv")} = 0 THEN NULL
           |      ELSE CAST(${dotSql("qv", "cv")} AS DOUBLE) /
           |        sqrt(CAST(${normSql("qv")} AS DOUBLE) * CAST(${normSql("cv")} AS DOUBLE)) END AS cosine
           |  FROM cand),
           |ap AS (SELECT q_id, n_id FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
           |      ORDER BY cosine DESC, n_id) AS rnk FROM apd) t
           |  WHERE rnk <= 10),
           |hits AS (SELECT a.q_id, CAST(COUNT(*) AS BIGINT) AS h
           |  FROM ap a JOIN ex e ON a.q_id = e.q_id AND a.n_id = e.n_id
           |  GROUP BY a.q_id)
           |SELECT q.q_id, COALESCE(h, 0) AS n_hits,
           |  COALESCE(h, 0) * 1000 AS recall_bp
           |FROM (SELECT DISTINCT q_id FROM q) q LEFT JOIN hits USING (q_id)
           |ORDER BY q.q_id""".stripMargin
      }),

    // Nearest-centroid classifier over the labeled embeddings (the
    // Rocchio / nearest-class-mean classifier — Manning, Raghavan &
    // Schütze, IIR §14.2, public): the cheap embedding-space quality/
    // topic classifier a curation pipeline trains when a 10-class
    // label sample exists (the fast-classifier slot of the CCNet/C4
    // stacks, q98's LM being the other half). Exact by integer
    // quantization: vectors quantize to micro-units, each class
    // centroid is the per-dimension floor-mean, the assignment metric
    // is integer squared L2, ties break to the smaller label. Output
    // is the full confusion matrix (true label × predicted, counts) —
    // the calibration artifact, not just an accuracy scalar.
    // Scale shape: centroids are a (n_labels × dim) table built by one
    // map-side-combined aggregate over exploded (label, dim) pairs —
    // ≤ 640 rows — then BROADCAST; classification is one map-only
    // pass (zip_with + aggregate per row, codegen, no per-row
    // explode); the confusion matrix is a ≤ |labels|² aggregate.
    // Corpus-scale sums per (label, dim) go through DECIMAL(38,0)
    // (the NgramLm.scala:116 overflow discipline).
    Q("q156_centroid_classify",
      (s, dir) => {
        // wide copy (r14 optimization round): the classify pass runs
        // |rows|·|classes|·dim interpreted zip_with/aggregate lambdas
        // (~1.3M at sf0.1) — on the raw single-partition cache that is
        // ONE task (FloorProbe: 7 jobs / 7 tasks, exec ~1.0 s); the
        // widened copy spreads it across session parallelism like
        // q157's Gram pass
        import graft.functions.VectorFns
        val q = Tables.wide(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
            .as("qv"))
        val cent = q
          .select(col("label").as("clabel"), posexplode(col("qv")).as(Seq("i", "v")))
          .groupBy(col("clabel"), col("i"))
          .agg(expr("CAST(sum(CAST(v AS DECIMAL(38,0))) div count(1) AS BIGINT)")
            .as("cv"))
          .groupBy(col("clabel"))
          .agg(expr("transform(array_sort(collect_list(struct(i, cv))), p -> p.cv)")
            .as("carr"))
        // dist via the codegen'd integer dot kernel (r14 optimization
        // round, guide §4-analog — HOFs evaluate interpreted):
        // Σ(a−b)² = Σa² − 2Σab + Σb², exact in int64 (micro-unit
        // elements ≤ ~2e6 ⇒ each term ≤ dim·4e12 ≪ 2⁶³). Per-row and
        // per-centroid norms are computed once BEFORE the broadcast
        // cross join, so the per-pair work is one dot_long — the
        // zip_with+aggregate form ran ~7 µs/element interpreted and
        // was re-evaluated in two stages (partial agg + project).
        q.withColumn("qq", VectorFns.dotLong(col("qv"), col("qv")))
          .join(broadcast(cent.withColumn("cc",
            VectorFns.dotLong(col("carr"), col("carr")))))
          .withColumn("dist", col("qq") -
            lit(2L) * VectorFns.dotLong(col("qv"), col("carr")) + col("cc"))
          .groupBy(col("vec_id"), col("label"))
          .agg(min(struct(col("dist"), col("clabel"))).as("m"))
          .select(col("label"), col("m.clabel").as("pred"))
          .groupBy(col("label"), col("pred"))
          .agg(count(lit(1)).cast(org.apache.spark.sql.types.LongType).as("n"))
          .orderBy(col("label"), col("pred"))
      },
      Some("""WITH q AS (SELECT vec_id, label,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
           |  FROM embeddings),
           |e AS (SELECT label, i, qv[i] AS v
           |  FROM q, unnest(range(1, 65)) AS u(i)),
           |c AS (SELECT label AS clabel, i,
           |    CAST(SUM(CAST(v AS HUGEINT)) // COUNT(*) AS BIGINT) AS cv
           |  FROM e GROUP BY 1, 2),
           |d AS (SELECT q.vec_id, q.label, c.clabel,
           |    CAST(SUM((qv[i] - cv) * (qv[i] - cv)) AS BIGINT) AS dist
           |  FROM q, c GROUP BY 1, 2, 3),
           |p AS (SELECT vec_id, label, clabel AS pred FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
           |      ORDER BY dist, clabel) AS rn FROM d) t WHERE rn = 1)
           |SELECT label, pred, CAST(COUNT(*) AS BIGINT) AS n
           |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Exact Gram (second-moment) matrix over the embedding corpus —
    // the Σ v·vᵀ accumulation behind PCA whitening, covariance-based
    // embedding-drift detection, and OPQ rotation training (Jégou et
    // al. 2011's PQ preprocessing; Ge et al. 2013 OPQ): the one
    // corpus-scale reduction all of them share. Exact in integer
    // space: micro-unit quantization, upper triangle only (i ≤ j —
    // the matrix is symmetric), per-cell sums through DECIMAL(38,0).
    // Scale shape: the d(d+1)/2 products per row are generated INSIDE
    // the row (nested transform + one explode — no self-join, no
    // shuffle of raw vectors) and map-side combine collapses every
    // partition to ≤ 2,080 cells, so the single exchange carries
    // partitions × 2,080 rows no matter the corpus size — the
    // wordcount shape with a quadratic-in-d (but constant-in-corpus)
    // key space.
    Q("q157_gram_matrix",
      (s, dir) => {
        Tables.wide(s, dir, "embeddings")
          .select(expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
            .as("qv"))
          .select(explode(expr(
            "flatten(transform(sequence(1, size(qv)), i -> " +
              "transform(sequence(i, size(qv)), j -> " +
              "struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, " +
              "qv[i-1] * qv[j-1] AS prod))))")).as("p"))
          .select(col("p.i").as("i"), col("p.j").as("j"), col("p.prod").as("prod"))
          .groupBy(col("i"), col("j"))
          .agg(expr("CAST(sum(CAST(prod AS DECIMAL(38,0))) AS BIGINT)").as("s"))
          .orderBy(col("i"), col("j"))
      },
      Some("""WITH q AS (SELECT vec_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
           |  FROM embeddings),
           |p AS (SELECT i, j, qv[i] * qv[j] AS prod
           |  FROM q, unnest(range(1, 65)) AS u(i), unnest(range(i, 65)) AS w(j))
           |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           |  CAST(SUM(CAST(prod AS DECIMAL(38,0))) AS BIGINT) AS s
           |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Dominant eigendirection of the Gram matrix by fixed-point POWER
    // ITERATION (von Mises & Pollaczek-Geiringer 1929; the PCA
    // direction behind whitening, covariance drift detection, and the
    // OPQ rotation seed) — the iterative-linear-algebra member of the
    // trainer family next to Lloyd's step (q89) and PageRank (q106).
    // The corpus-scale work is EXACTLY q157's Gram reduction (map-side
    // combined to ≤ d(d+1)/2 = 2,080 cells no matter the corpus
    // size); the iteration then runs on that DIMENSION-BOUNDED
    // artifact on the driver — the documented bounded-artifact
    // convention (PageRank's 1-row node count, q101's tens-of-rows
    // merge table): collecting 2,080 cells is O(d²), not O(corpus).
    // Determinism: 4 iterations of w = G·v in exact BigInt, rescaled
    // each round to ±2²⁰ fixed point by truncating division
    // (v' = w·2²⁰ div max|w| — DuckDB's `//` and BigInt `/` both
    // truncate toward zero, so the oracle's unrolled-CTE replay is
    // bit-identical; no sqrt, no doubles, no sign ambiguity).
    Q("q171_power_iteration",
      (s, dir) => {
        val d = 64
        val cells = Tables.wide(s, dir, "embeddings")
          .select(expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
            .as("qv"))
          .select(explode(expr(
            "flatten(transform(sequence(1, size(qv)), i -> " +
              "transform(sequence(i, size(qv)), j -> " +
              "struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, " +
              "qv[i-1] * qv[j-1] AS prod))))")).as("p"))
          .select(col("p.i").as("i"), col("p.j").as("j"), col("p.prod").as("prod"))
          .groupBy(col("i"), col("j"))
          .agg(expr("CAST(sum(CAST(prod AS DECIMAL(38,0))) AS BIGINT)").as("s"))
          .collect() // dimension-bounded artifact: ≤ 2,080 cells
        val g = Array.ofDim[BigInt](d, d)
        for (r <- cells) {
          val (i, j) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1)
          g(i)(j) = BigInt(r.getLong(2)); g(j)(i) = g(i)(j)
        }
        val scale = BigInt(1048576)
        var v = Array.fill(d)(scale)
        for (_ <- 1 to 4) {
          val w = Array.tabulate(d)(i =>
            (0 until d).map(j => g(i)(j) * v(j)).sum)
          val m = w.map(_.abs).max
          v = w.map(x => x * scale / m) // BigInt /: truncates toward 0
        }
        import s.implicits._
        v.zipWithIndex.toSeq
          .map { case (x, i) => (i + 1L, x.toLong) }
          .toDF("i", "v")
          .orderBy(col("i"))
      },
      Some("""WITH q AS (SELECT vec_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
           |  FROM embeddings),
           |pp AS (SELECT i, j, qv[i] * qv[j] AS prod
           |  FROM q, unnest(range(1, 65)) AS u(i), unnest(range(i, 65)) AS w(j)),
           |gup AS (SELECT i, j, CAST(SUM(CAST(prod AS DECIMAL(38,0))) AS BIGINT) AS s
           |  FROM pp GROUP BY 1, 2),
           |g AS (SELECT i, j, s FROM gup
           |  UNION ALL SELECT j, i, s FROM gup WHERE i <> j),
           |v0 AS (SELECT unnest(range(1, 65)) AS j, CAST(1048576 AS HUGEINT) AS v),
           |w1 AS (SELECT g.i, SUM(CAST(s AS HUGEINT) * v) AS w FROM g JOIN v0 USING (j) GROUP BY 1),
           |m1 AS (SELECT MAX(ABS(w)) AS m FROM w1),
           |v1 AS (SELECT i AS j, (w * 1048576) // m AS v FROM w1, m1),
           |w2 AS (SELECT g.i, SUM(CAST(s AS HUGEINT) * v) AS w FROM g JOIN v1 USING (j) GROUP BY 1),
           |m2 AS (SELECT MAX(ABS(w)) AS m FROM w2),
           |v2 AS (SELECT i AS j, (w * 1048576) // m AS v FROM w2, m2),
           |w3 AS (SELECT g.i, SUM(CAST(s AS HUGEINT) * v) AS w FROM g JOIN v2 USING (j) GROUP BY 1),
           |m3 AS (SELECT MAX(ABS(w)) AS m FROM w3),
           |v3 AS (SELECT i AS j, (w * 1048576) // m AS v FROM w3, m3),
           |w4 AS (SELECT g.i, SUM(CAST(s AS HUGEINT) * v) AS w FROM g JOIN v3 USING (j) GROUP BY 1),
           |m4 AS (SELECT MAX(ABS(w)) AS m FROM w4),
           |v4 AS (SELECT i AS j, (w * 1048576) // m AS v FROM w4, m4)
           |SELECT CAST(j AS BIGINT) AS i, CAST(v AS BIGINT) AS v
           |FROM v4 ORDER BY i""".stripMargin)),

    // Hard-negative mining for contrastive/retrieval training (the
    // pair-mining stage of every embedding-training pipeline; cf.
    // Robinson et al. 2021 "Contrastive Learning with Hard Negative
    // Samples", arXiv:2010.04592): per anchor, the top-3 most-similar
    // vectors with a DIFFERENT label — near-misses across the class
    // boundary, the pairs that actually move a contrastive loss.
    // Exact brute force with the label-mismatch predicate applied
    // BEFORE the bounded-buffer top-k, so only (ids, cosine) rows
    // ever reach the per-task k-row buffers — no vector payload
    // crosses the wire, no global window sort. At corpus scale the
    // anchor side is the (small, broadcast) training batch; a full
    // corpus×corpus mine swaps the crossJoin for the IVF cell probe
    // (SimilaritySearch.assignCells, q27's machinery) with the same
    // label filter. Scaled-long dot products, q26's determinism.
    Q("q194_hard_negatives",
      (s, dir) => {
        import graft.functions.VectorFns
        val emb = Tables(s, dir, "embeddings")
        val anchors = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"),
            col("label").as("a_lbl"))
          .withColumn("_an", VectorFns.normSqScaled(col("a_vec")))
        val corpus = emb
          .select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
            col("label").as("n_lbl"))
          .withColumn("_nn", VectorFns.normSqScaled(col("n_vec")))
        val pairs = broadcast(anchors).crossJoin(corpus)
          .filter(col("a_lbl") =!= col("n_lbl"))
          .withColumn("cosine",
            when(col("_an") === 0 || col("_nn") === 0,
              lit(null).cast("double"))
              .otherwise(VectorFns.dotScaled(col("a_vec"), col("n_vec"))
                .cast("double") /
                sqrt(col("_an").cast("double") * col("_nn").cast("double"))))
          .select(col("a_id"), col("n_id"), col("cosine"))
        graft.plans.TopKPhysical.topK(pairs, Seq("a_id"),
            Seq(("cosine", false), ("n_id", true)), 3)
          .select(col("a_id"), col("n_id"), col("cosine"), col("rnk"))
          .orderBy(col("a_id"), col("rnk"))
      },
      Some(s"""WITH a AS (SELECT vec_id AS a_id, embedding AS av, label AS a_lbl
             |  FROM embeddings WHERE vec_id < 20),
             |c AS (SELECT vec_id AS n_id, embedding AS nv, label AS n_lbl
             |  FROM embeddings),
             |dots AS (SELECT a_id, n_id,
             |    ${dotSql("av", "nv")} AS dot,
             |    ${normSql("av")} AS na,
             |    ${normSql("nv")} AS nb
             |  FROM a, c WHERE a_lbl <> n_lbl),
             |cos AS (SELECT a_id, n_id,
             |    CASE WHEN na = 0 OR nb = 0 THEN NULL
             |      ELSE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS cosine
             |  FROM dots)
             |SELECT a_id, n_id, cosine, rnk FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
             |    ORDER BY cosine DESC, n_id) AS rnk
             |  FROM cos) t
             |WHERE rnk <= 3 ORDER BY a_id, rnk""".stripMargin)),

    // Similarity-ordered context packing (in-context pretraining —
    // Shi et al. 2023, arXiv:2310.10638: packing RELATED documents
    // into one context window beats random order): q88's token-budget
    // packing, but the packing unit is the document's IVF cell
    // (SimilaritySearch.assignCells over q27's deterministic seed
    // centroids) instead of a doc_id shard — documents sharing a
    // window are embedding-neighbors. Within-cell window sums are
    // bounded by cell size (~corpus/√N cells by IVF design; q88's
    // shard split composes on top if a cell outgrows a task). The
    // oracle replays assignment (exact scaled-long L2 argmin) and
    // packing in SQL; fill_ratio divides by a power of two, so the
    // double is exact.
    Q("q196_context_packing",
      (s, dir) => {
        import graft.functions.TextFns
        import org.apache.spark.sql.types.{DoubleType, LongType}
        val emb = Tables(s, dir, "embeddings")
        val centroids = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
        val cells = SimilaritySearch.assignCells(
            emb.select(col("vec_id"), col("embedding")), centroids,
            "vec_id", "embedding")
          .select(col("vec_id").as("doc_id"), col("cell_id").as("cell"))
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"),
            TextFns.tokenCount(col("text")).cast(LongType).as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cell")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        docs.join(cells, "doc_id")
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("seq_id", expr("(cum - n_tokens) div 2048"))
          .groupBy(col("cell"), col("seq_id"))
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            sum(col("n_tokens")).cast(LongType).as("seq_tokens"),
            min(col("doc_id")).as("first_doc"))
          .select(col("cell"), col("seq_id"), col("n_docs"), col("seq_tokens"),
            round(col("seq_tokens").cast(DoubleType) / lit(2048.0), 6)
              .as("fill_ratio"), col("first_doc"))
          .orderBy(col("cell"), col("seq_id"))
      },
      Some {
        def l2(a: String, b: String) =
          s"(${normSql(a)} - 2 * ${dotSql(a, b)} + ${normSql(b)})"
        s"""WITH cent AS (SELECT vec_id AS cell_id, embedding AS cell_vec
           |    FROM embeddings WHERE vec_id % 50 = 0),
           |v AS (SELECT vec_id, embedding AS cv FROM embeddings),
           |assigned AS (SELECT vec_id, cell_id,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id
           |      ORDER BY ${l2("cv", "cell_vec")}, cell_id) AS arn
           |  FROM v, cent),
           |cellof AS (SELECT vec_id AS doc_id, cell_id AS cell
           |  FROM assigned WHERE arn = 1),
           |t AS (SELECT d.doc_id, cell,
           |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
           |      x -> x <> '')) AS BIGINT) AS n_tokens
           |  FROM documents d JOIN cellof USING (doc_id)),
           |c AS (SELECT doc_id, cell, n_tokens,
           |    CAST(SUM(n_tokens) OVER (PARTITION BY cell ORDER BY doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t),
           |p AS (SELECT cell, doc_id, n_tokens,
           |    (cum - n_tokens) // 2048 AS seq_id FROM c)
           |SELECT cell, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           |  round(CAST(SUM(n_tokens) AS DOUBLE) / CAST(2048 AS DOUBLE), 6)
           |    AS fill_ratio,
           |  MIN(doc_id) AS first_doc
           |FROM p GROUP BY cell, seq_id ORDER BY cell, seq_id""".stripMargin
      })
  )
}
