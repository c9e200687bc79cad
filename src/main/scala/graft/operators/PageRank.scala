package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Fixed-iteration PageRank (power method, Brin & Page 1998) over an
  * edge table — entity-importance scoring, the graph-quality signal a
  * training-data pipeline uses to weight sources (harmonic-centrality /
  * PageRank source weighting a la CommonCrawl) and the third member of
  * the engine's iterative-graph family next to pointer-jumping CC
  * ([[ClusterUnify]]) and Lloyd k-means ([[KMeansTrain]]).
  *
  * Deterministic by construction so a DuckDB recursive CTE replays it
  * bit-for-bit (q106):
  *   - every score is a scaled BIGINT (`scale` = 1e12); sums of longs
  *     are order-independent, so partial aggregation can't wobble the
  *     result — no doubles anywhere;
  *   - per-edge contribution is `score DIV outdeg` (truncating
  *     non-negative integer division, identical to DuckDB's `//`);
  *   - the damping mix is integer: `(15 * base) DIV 100 +
  *     (85 * inc) DIV 100`.
  *
  * Scale shape: the edge set is materialized ONCE (with the
  * destination's outdeg attached, so no per-iteration degree join),
  * pre-partitioned on the source key — each iteration then shuffles
  * only the node-sized state into the join (the stationary-relation
  * Pregel message exchange), followed by a map-side-combined SUM per
  * destination. The iteration chain is one LAZY plan: no per-iteration
  * driver action, no broadcast collect — the five message exchanges
  * run as ten small dependent stages inside a single job. The node
  * count enters as a literal (one bounded 1-row driver read of the
  * checkpointed degree table — the KMeansTrain convention for
  * O(1)-sized artifacts) instead of six broadcast-exchange barriers
  * of a 1-row frame. Every node must appear as a destination (true
  * for any symmetrized edge set — callers passing a directed graph
  * should union the reverse edges or accept dangling-node drop-out).
  */
object PageRank {

  /** Run `iters` power iterations over `edges(srcType, srcKey,
    * dstType, dstKey)` (typed keys let bipartite graphs share the
    * node space); returns `(node_type, node_key, score)`.
    *
    * The caller MATERIALIZES `edges` (checkpoint/cache), as
    * [[TriangleCount]] requires too: the dispatch count and the chosen
    * path each re-read it, so an unmaterialized derivation (q106: an
    * orders⋈lineitem distinct) would execute twice. PageRank stacks no
    * barrier of its own on top — stacked barriers are exactly what
    * regressed q106 in a cold bench window (+1.8 s, round-10
    * verdict). */
  def apply(edges: DataFrame, iters: Int, scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(
      col("srcType").as("st"), col("srcKey").cast(LongType).as("sk"),
      col("dstType").as("dt"), col("dstKey").cast(LongType).as("dk"))
    // Hybrid switch: below the edge threshold the whole power
    // iteration runs as ONE executor task — integer math identical to
    // the distributed loop (score DIV outdeg per edge, base +
    // (85·inc) DIV 100 per node, and the same destination-only state
    // regeneration), so the two paths are bit-equal. Above it, the
    // stationary-relation Pregel loop.
    LocalExact.internal(e, LocalSchema, LocalSolveMaxEdges)(localSolve(_, iters, scale))
      .getOrElse(distributed(e, iters, scale))
  }

  /** Edge-count threshold of the one-task path. */
  private val LocalSolveMaxEdges = 2000000L

  private val LocalSchema = StructType(Seq(
    StructField("node_type", StringType),
    StructField("node_key", LongType),
    StructField("score", LongType)))

  private def distributed(e: DataFrame, iters: Int, scale: Long): DataFrame = {
    // LAZY checkpoint: deg's consumers are strictly sequential driver
    // actions — the n-count below materializes it, then eAug's join
    // and the initial state read the persisted blocks — so the lazy
    // form gives one-compute semantics without spending a separate
    // job barrier on it (eager = one more full job; barrier stacking
    // is what regressed q106 in the r10 driver window)
    val deg = e.groupBy(col("st"), col("sk"))
      .agg(count(lit(1)).cast(LongType).as("outdeg"))
      .localCheckpoint(eager = false)
    // node count and the damped base term as literals: one bounded
    // 1-row read of the node-sized checkpointed degree table, replacing
    // a broadcast nn-frame cross-joined into every iteration
    val n = deg.count()
    val base = (15L * (scale / n)) / 100L
    // the stationary relation: edges with the DESTINATION's outdeg
    // attached (so the next state's outdeg needs no per-iteration
    // join), PRE-PARTITIONED on the source key — localCheckpoint
    // preserves the partitioning, so each iteration's join shuffles
    // only the node-sized state
    // CACHE here, not localCheckpoint: a checkpointed DataFrame's
    // LogicalRDD reports UnknownPartitioning (under AQE the plan isn't
    // finalized at capture time, eager or lazy), so all `iters` join
    // consumers re-exchange the full EDGE-sized relation — measured at
    // 10× (11.7M edges): five 11.7M-row exchanges, zero
    // ReusedExchange. InMemoryRelation preserves the cached plan's
    // hashpartitioning(st, sk) (AQE keeps it stable —
    // canChangeCachedPlanOutputPartitioning=false), so each iteration
    // shuffles only the node-sized state, as designed. The cache is
    // query-scoped scratch; Bench's release() unpersists it.
    val eAug = e
      .join(deg.select(col("st").as("dt"), col("sk").as("dk"),
        col("outdeg").as("dst_outdeg")), Seq("dt", "dk"))
      .repartition(col("st"), col("sk"))
      .cache()
    var state = deg.selectExpr("st AS nt", "sk AS nk", "outdeg",
      s"CAST($scale AS BIGINT) DIV CAST($n AS BIGINT) AS score")
    for (_ <- 0 until iters) {
      // state (node-sized) shuffles onto eAug's stationary
      // partitioning; the contribution aggregate is map-side combined
      // down to node cardinality. The chain stays LAZY across
      // iterations: each state is consumed exactly once by the next
      // join, so nothing recomputes, and the whole fixed-depth power
      // iteration executes as one job — no driver round-trip per
      // iteration. (A broadcast of the small state would also work but
      // costs an eager collect + broadcast barrier per iteration,
      // ~2× wall-clock here; on a cluster whose node table outgrows
      // memory the shuffle join is also the only correct choice.)
      // group on EXACTLY (dt, dk) — not (dt, dk, dst_outdeg) — so the
      // aggregate's output HashPartitioning satisfies the NEXT
      // iteration's join clustering on (nt, nk): the state side then
      // enters the join exchange-free and each iteration costs ONE
      // exchange (the contribution sum), not two. dst_outdeg is
      // functionally dependent on the key; max() carries it through.
      state = state.hint("shuffle_hash")
        .join(eAug, col("nt") === col("st") && col("nk") === col("sk"))
        .selectExpr("dt", "dk", "dst_outdeg", "score DIV outdeg AS c")
        .groupBy(col("dt"), col("dk"))
        .agg(sum(col("c")).as("inc"), max(col("dst_outdeg")).as("_deg"))
        .selectExpr("dt AS nt", "dk AS nk", "_deg AS outdeg",
          s"CAST($base AS BIGINT) + (85 * inc) DIV 100 AS score")
    }
    state.select(col("nt").as("node_type"), col("nk").as("node_key"), col("score"))
  }

  /** Single-task exact replay of the distributed loop for small edge
    * sets. Parity details that matter: `n` is the count of SOURCE
    * nodes (= deg rows); the state after each iteration covers only
    * nodes that RECEIVED a contribution (the join-aggregate shape —
    * src-only nodes drop out exactly as they do distributed); all
    * arithmetic is the same truncating integer division.
    *
    * Type strings compare against a ≤|types| UTF8String dictionary
    * (cloned on store — UnsafeRow buffers are reused), keys intern
    * through a specialized LongMap, and member arrays are primitive —
    * no per-edge allocation anywhere. */
  private def localSolve(it: Iterator[InternalRow], iters: Int, scale: Long): Iterator[Row] = {
    import scala.collection.mutable
    import org.apache.spark.unsafe.types.UTF8String
    val typeNames = mutable.ArrayBuffer.empty[UTF8String]
    val typeMaps = mutable.ArrayBuffer.empty[mutable.LongMap[Int]]
    val keyType = mutable.ArrayBuffer.empty[Int] // node -> type idx
    val keyVal = mutable.ArrayBuffer.empty[Long] // node -> key
    def typeId(t: UTF8String): Int = {
      var i = 0
      while (i < typeNames.length) {
        if (typeNames(i) == t) return i
        i += 1
      }
      typeNames += t.clone()
      typeMaps += mutable.LongMap.empty[Int]
      typeNames.length - 1
    }
    def id(t: UTF8String, k: Long): Int = {
      val ti = typeId(t)
      val got = typeMaps(ti).getOrElse(k, -1) // node ids are >= 0
      if (got >= 0) got
      else {
        val nid = keyType.length
        typeMaps(ti).update(k, nid)
        keyType += ti; keyVal += k
        nid
      }
    }
    var srcs = new Array[Int](1 << 16)
    var dsts = new Array[Int](1 << 16)
    var nE = 0
    it.foreach { r =>
      if (nE == srcs.length) {
        srcs = java.util.Arrays.copyOf(srcs, nE * 2)
        dsts = java.util.Arrays.copyOf(dsts, nE * 2)
      }
      srcs(nE) = id(r.getUTF8String(0), r.getLong(1))
      dsts(nE) = id(r.getUTF8String(2), r.getLong(3))
      nE += 1
    }
    val nN = keyType.length
    val outdeg = new Array[Long](nN)
    var ei = 0
    while (ei < nE) { outdeg(srcs(ei)) += 1; ei += 1 }
    val n = outdeg.count(_ > 0L) // deg.count(): distinct sources
    if (n == 0) Iterator.empty
    else {
      val base = (15L * (scale / n)) / 100L
      val score = Array.fill[Long](nN)(scale / n)
      val active = Array.tabulate[Boolean](nN)(outdeg(_) > 0L)
      for (_ <- 0 until iters) {
        val inc = new Array[Long](nN)
        val nextActive = new Array[Boolean](nN)
        var i = 0
        while (i < nE) {
          val s = srcs(i)
          if (active(s)) {
            val d = dsts(i)
            // mirror the distributed eAug inner join with the
            // source-degree table: edges to a sink destination
            // (outdeg 0) never enter state there, so they must not
            // receive contributions here either
            if (outdeg(d) > 0L) {
              inc(d) += score(s) / outdeg(s)
              nextActive(d) = true
            }
          }
          i += 1
        }
        var j = 0
        while (j < nN) {
          if (nextActive(j)) score(j) = base + (85L * inc(j)) / 100L
          j += 1
        }
        System.arraycopy(nextActive, 0, active, 0, nN)
      }
      (0 until nN).iterator.collect {
        case i if active(i) =>
          Row(typeNames(keyType(i)).toString, keyVal(i), score(i))
      }
    }
  }
}
