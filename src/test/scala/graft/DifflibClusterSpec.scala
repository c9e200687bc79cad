package graft

import graft.functions.SequenceMatcherRatio
import graft.operators.ClusterUnify
import org.apache.spark.sql.functions._

class DifflibClusterSpec extends SparkSpec {
  import spark.implicits._

  test("SequenceMatcher ratio matches Python difflib on reference pairs") {
    // expected values computed with CPython difflib.SequenceMatcher
    val cases = Seq(
      ("Brand-13", "Brand#13", 0.875),
      ("starbucks", "Starbucks Coffee", 0.64),
      ("mcdonalds", "McDonald's", 0.7368421052631579),
      ("aabbccdd", "abcd", 0.6666666666666666),
      ("Automercado", "automercado ", 0.8695652173913043),
      ("", "", 1.0),
      ("abc", "", 0.0))
    cases.foreach { case (a, b, exp) =>
      val got = SequenceMatcherRatio.ratio(a, b)
      assert(math.abs(got - exp) < 1e-12, s"ratio($a, $b) = $got, expected $exp")
    }
  }

  test("ratio is reproduced through the Catalyst expression with codegen") {
    val out = Seq(("Brand-13", "Brand#13")).toDF("a", "b")
      .select(graft.functions.DifflibRatio(col("a"), col("b")).as("r"))
      .head().getDouble(0)
    assert(out == 0.875)
  }

  test("cluster unify merges transitive chains but not separated groups") {
    // chain: 1-2-3 each ~16m apart (transitively one cluster even
    // though 1-3 > 25m); 4 isolated ~1km away
    val pts = Seq(
      (1L, 9.6000, -84.3), (2L, 9.60015, -84.3), (3L, 9.6003, -84.3),
      (4L, 9.61, -84.3)
    ).toDF("id", "lat", "lon")
    val out = ClusterUnify(pts, "id", "lat", "lon", 0.025)
      .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert(out(4L) == 4L)
  }

  test("cluster unify converges on a 1500-deep chain (pointer jumping)") {
    // 1500 points in a line ~10m apart with a 20m radius: one
    // component of graph diameter ~1500 — naive propagation needs
    // ~1500 rounds, pointer jumping must finish within 25
    val pts = (0 until 1500).map(i => (i.toLong, 9.0 + i * 0.00009, -84.0))
      .toDF("id", "lat", "lon")
    val out = ClusterUnify(pts, "id", "lat", "lon", radiusKm = 0.02)
      .select("cluster_id").distinct().as[Long].collect()
    assert(out.toSeq == Seq(0L))
  }

  test("local union-find and distributed pointer jumping agree (both paths)") {
    // two chains + isolated nodes, string AND long id variants; force
    // each path explicitly via the spark.graft.localExactMaxRows conf
    def sym(ps: Seq[(Long, Long)]) = (ps ++ ps.map(p => (p._2, p._1)))
      .toDF("_src", "_dst")
    val nodes = (0L to 9L).toDF("_id")
    val edges = sym(Seq((0L, 1L), (1L, 2L), (4L, 3L), (5L, 4L), (7L, 8L)))
    def run() = ClusterUnify.components(nodes, edges)
      .as[(Long, Long)].collect().toMap
    val expect = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L,
      5L -> 3L, 6L -> 6L, 7L -> 7L, 8L -> 7L, 9L -> 9L)
    assert(run() == expect, "local union-find path")
    assert(forcedDistributed(run()) == expect, "distributed pointer-jumping path")

    // string ids exercise the Comparable-based min tie-break
    val snodes = Seq("a", "b", "c", "d").toDF("_id")
    val sedges = Seq(("c", "b"), ("b", "c"), ("b", "a"), ("a", "b"))
      .toDF("_src", "_dst")
    val sexpect = Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d")
    def srun() = ClusterUnify.components(snodes, sedges)
      .as[(String, String)].collect().toMap
    assert(srun() == sexpect, "local path, string ids")
    assert(forcedDistributed(srun()) == sexpect, "distributed path, string ids")
  }
}
