package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Per-node triangle participation counts over an undirected edge set
  * (degree-ordered wedge join — the standard skew guard for power-law
  * graphs: wedges form at each triangle's LOWEST-degree corner, so hub
  * fan-out is bounded; Suri & Vassilvitskii 2011, Cohen 2009).
  *
  * Hybrid switch ([[LocalExact]]): below the edge threshold the count
  * runs as ONE executor task — oriented adjacency + binary-search
  * closure, the exact same triangle set — because at a few hundred
  * thousand edges the wedge self-join's stages cost more in
  * scheduling than the whole graph. Above it, the
  * distributed wedge join is the 100-TB path.
  *
  * Input `e`: one row per undirected edge as (u, v) with u < v,
  * deduplicated, long keys, MATERIALIZED by the caller (the count
  * that picks the path re-reads it).
  * Output: (node, triangles) for every node in ≥1 triangle.
  */
object TriangleCount {

  def perNode(e: DataFrame): DataFrame =
    LocalExact.internal(e, LocalSchema, LocalSolveMaxEdges)(localSolve)
      .getOrElse(distributed(e))

  /** Edge-count threshold of the one-task path. */
  private val LocalSolveMaxEdges = 2000000L

  private val LocalSchema = StructType(Seq(StructField("node", LongType),
    StructField("triangles", LongType)))

  private def distributed(e: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val ori = e
      .join(deg.as("du"), col("u") === col("du.n"))
      .join(deg.as("dv"), col("v") === col("dv.n"))
      .select(
        when(col("du.d") < col("dv.d") ||
            (col("du.d") === col("dv.d") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst")))
          .as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
    val wedges = ori.as("e1").join(ori.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("p"),
        col("e1.dst").as("x"), col("e2.dst").as("y"))
    // closing-edge probe: the edge list is two longs per row —
    // broadcast it so the wedge stream (the big side, degree²-shaped)
    // never shuffles; past the broadcast threshold AQE falls back to
    // a shuffle join on the same keys
    val tri = wedges.join(broadcast(e),
      least(col("x"), col("y")) === col("u") &&
        greatest(col("x"), col("y")) === col("v"))
    tri.select(explode(array(col("p"), col("x"), col("y"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).cast(LongType).as("triangles"))
  }

  /** One-task exact replay: same degree orientation (lower degree
    * first, id tie-break), same once-per-triangle counting.
    * InternalRow reader + CSR primitive adjacency (the PageRank r14
    * kernel idiom — the Row/HashMap/ArrayBuffer form boxed every edge
    * twice); wedge pairs are enumerated in storage order because the
    * triangle COUNT is independent of the pair enumeration order (the
    * distributed plan's e1.dst < e2.dst cut exists only to pick each
    * unordered pair once). */
  private def localSolve(it: Iterator[InternalRow]): Iterator[Row] = {
    import scala.collection.mutable
    val idx = mutable.LongMap.empty[Int]
    var ids = new Array[Long](1 << 12)
    var nN = 0
    def id(k: Long): Int = {
      val got = idx.getOrElse(k, -1)
      if (got >= 0) got
      else {
        if (nN == ids.length) ids = java.util.Arrays.copyOf(ids, nN * 2)
        ids(nN) = k
        idx.update(k, nN)
        nN += 1
        nN - 1
      }
    }
    var us = new Array[Int](1 << 12)
    var vs = new Array[Int](1 << 12)
    var nE = 0
    it.foreach { r =>
      if (nE == us.length) {
        us = java.util.Arrays.copyOf(us, nE * 2)
        vs = java.util.Arrays.copyOf(vs, nE * 2)
      }
      us(nE) = id(r.getLong(0))
      vs(nE) = id(r.getLong(1))
      nE += 1
    }
    val degA = new Array[Int](nN)
    var i = 0
    while (i < nE) { degA(us(i)) += 1; degA(vs(i)) += 1; i += 1 }
    // CSR full adjacency holding neighbor NODE IDS, sorted per node
    // for the binary-search closure probe
    val off = new Array[Int](nN + 1)
    i = 0
    while (i < nN) { off(i + 1) = off(i) + degA(i); i += 1 }
    val fill = java.util.Arrays.copyOf(off, nN)
    val adj = new Array[Long](2 * nE)
    i = 0
    while (i < nE) {
      val a = us(i); val b = vs(i)
      adj(fill(a)) = ids(b); fill(a) += 1
      adj(fill(b)) = ids(a); fill(b) += 1
      i += 1
    }
    i = 0
    while (i < nN) { java.util.Arrays.sort(adj, off(i), off(i + 1)); i += 1 }
    def hasEdge(a: Int, bId: Long): Boolean = {
      var lo = off(a)
      var hi = off(a + 1) - 1
      while (lo <= hi) {
        val m = (lo + hi) >>> 1
        if (adj(m) < bId) lo = m + 1
        else if (adj(m) > bId) hi = m - 1
        else return true
      }
      false
    }
    // oriented out-adjacency (src = lower degree, id tie-break) as a
    // second CSR
    def aFirst(i0: Int): Boolean = {
      val a = us(i0); val b = vs(i0)
      degA(a) < degA(b) || (degA(a) == degA(b) && ids(a) < ids(b))
    }
    val odeg = new Array[Int](nN)
    i = 0
    while (i < nE) {
      if (aFirst(i)) odeg(us(i)) += 1 else odeg(vs(i)) += 1
      i += 1
    }
    val ooff = new Array[Int](nN + 1)
    i = 0
    while (i < nN) { ooff(i + 1) = ooff(i) + odeg(i); i += 1 }
    val ofill = java.util.Arrays.copyOf(ooff, nN)
    val out = new Array[Int](nE)
    i = 0
    while (i < nE) {
      val t = if (aFirst(i)) us(i) else vs(i)
      val h = if (aFirst(i)) vs(i) else us(i)
      out(ofill(t)) = h
      ofill(t) += 1
      i += 1
    }
    val cnt = new Array[Long](nN)
    var p = 0
    while (p < nN) {
      val s0 = ooff(p)
      val e0 = ooff(p + 1)
      var a = s0
      while (a < e0) {
        var b = a + 1
        while (b < e0) {
          if (hasEdge(out(a), ids(out(b)))) {
            cnt(p) += 1; cnt(out(a)) += 1; cnt(out(b)) += 1
          }
          b += 1
        }
        a += 1
      }
      p += 1
    }
    (0 until nN).iterator.filter(cnt(_) > 0L)
      .map(j => Row(ids(j), cnt(j)))
  }
}
