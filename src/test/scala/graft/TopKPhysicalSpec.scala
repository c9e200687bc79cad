package graft

import graft.plans.TopKPhysical
import org.apache.spark.sql.functions._

class TopKPhysicalSpec extends SparkSpec {

  test("custom physical top-k equals the window formulation exactly") {
    val orders = graft.util.Tables(spark, sf001, "orders")
    val viaExec = TopKPhysical.topK(orders,
      groupBy = Seq("o_custkey"),
      orderBy = Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
      .orderBy("o_custkey", "rnk")
    orders.createOrReplaceTempView("topk_orders")
    val viaWindow = spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM topk_orders) t
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin)
    val a = viaExec.collect().toSeq
    val b = viaWindow.collect().toSeq
    assert(a.nonEmpty && a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.getLong(0) == y.getLong(0) && x.getLong(1) == y.getLong(1) &&
        x.getDouble(2) == y.getDouble(2) && x.getInt(3) == y.getInt(3)
    })
    // physical plan actually uses the custom operator + one exchange
    val plan = viaExec.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupExec") || plan.contains("TopKPerGroup"),
      s"custom exec missing:\n$plan")
    // ... and the map-side partial pass sits BELOW the exchange, so a
    // group's raw input is reduced to <=k rows per partition before any
    // shuffle (the final pass above the exchange merges candidates)
    assert(plan.contains("PartialTopK"), s"partial pass missing:\n$plan")
    val exchangeIdx = plan.indexOf("Exchange")
    val partialIdx = plan.indexOf("PartialTopK")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial pass must be under the exchange:\n$plan")
  }

  test("partial pass caps what each input partition can ship per group") {
    import spark.implicits._
    // 8 input partitions, ONE group, 10k rows: the partial phase may
    // emit at most k rows per (partition, group) = 8*3 candidates into
    // the exchange; the final phase must still produce the exact top-3
    val big = spark.sparkContext.parallelize(1 to 10000, 8)
      .map(i => (1L, i.toLong)).toDF("g", "v")
    val out = TopKPhysical.topK(big, Seq("g"), Seq(("v", false)), 3)
      .select("v", "rnk").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.map(_._1).toSeq == Seq(10000L, 9999L, 9998L))
    // count rows flowing out of the partial pass directly (sparkPlan:
    // the pre-AQE tree, traversable and executable below the exchange)
    val partialOnly = graft.plans.TopKPhysical.topK(big, Seq("g"),
      Seq(("v", false)), 3).queryExecution.sparkPlan
      .collectFirst { case p: graft.plans.PartialTopKExec => p }
    assert(partialOnly.isDefined)
    val shipped = partialOnly.get.execute().count()
    assert(shipped <= 8L * 3, s"partial shipped $shipped rows, expected <=24")
  }

  test("pre-clustered input: partial pass preserves partitioning, no extra exchange") {
    val orders = graft.util.Tables(spark, sf001, "orders")
      .repartition(col("o_custkey"))
    val df = TopKPhysical.topK(orders, Seq("o_custkey"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
    val plan = df.queryExecution.executedPlan.toString
    // exactly ONE exchange — the explicit repartition; the top-k's
    // final pass reuses that clustering instead of re-shuffling
    assert("Exchange".r.findAllIn(plan).length == 1, s"extra exchange:\n$plan")
    assert(df.count() > 0)
  }

  test("a group far larger than k keeps exactly its top k") {
    import spark.implicits._
    // one group with 10k rows through one heap of 5
    val big = (1 to 10000).map(i => (1L, i.toLong)).toDF("g", "v")
    val out = TopKPhysical.topK(big, Seq("g"), Seq(("v", false)), 5)
      .select("v", "rnk").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.map(_._1).toSeq == Seq(10000L, 9999L, 9998L, 9997L, 9996L))
  }

  test("high group cardinality: each group's heap holds k rows") {
    import spark.implicits._
    // 200k distinct groups × 3 rows, k = 1: each group's heap keeps
    // one row, replacing it only when a larger v arrives
    val big = (0 until 600000).map(i => (i % 200000L, i.toLong))
      .toDF("g", "v")
    val out = TopKPhysical.topK(big, Seq("g"), Seq(("v", false)), 1)
      .select("g", "v").as[(Long, Long)].collect()
    assert(out.length == 200000)
    // top row per group g is v = g + 400000 (the largest of the 3)
    assert(out.forall { case (g, v) => v == g + 400000L })
  }

  test("k below 1 is rejected") {
    val orders = graft.util.Tables(spark, sf001, "orders")
    val e = intercept[IllegalArgumentException] {
      TopKPhysical.topK(orders, Seq("o_custkey"), Seq(("o_orderkey", true)), 0)
    }
    assert(e.getMessage.contains("k >= 1"), e.getMessage)
  }

  test("every topK registry caller is partition-invariant (tie-break convention)") {
    // The partial/final split is exact only under a TOTAL per-group
    // order (topK's documented contract): a caller omitting a unique
    // tie-break would get partitioning-dependent tied survivors. Pin
    // the convention BEHAVIORALLY: run each registry query that routes
    // through TopKPhysical.topK under two very different scan-split +
    // shuffle-partition settings and require identical results.
    val topKQueries = Seq("q06_topk_per_group", "q26_cosine_topk",
      "q27_ivf_topk", "q28b_rag_filtered", "q29_nearest_topk",
      "q42_json_envelope", "q51_topk_typed_agg", "q58_topk_physical",
      "q72_balanced_sample", "q78_int8_quant", "q113_inverted_index")
    def withConf(pairs: (String, String)*)(body: => Seq[String]): Seq[String] = {
      val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    topKQueries.foreach { name =>
      val q = graft.queries.Registry.byName(name)
      // forced onto the distributed plans, so a LocalExact hybrid
      // (q113) runs its topK plan rather than its one-task kernel
      def canon(): Seq[String] = forcedDistributed(
        q.run(spark, sf001).collect().map(_.toString).toSeq)
      val tiny = withConf(
        "spark.sql.files.maxPartitionBytes" -> "65536",
        "spark.sql.files.openCostInBytes" -> "0",
        "spark.sql.shuffle.partitions" -> "3")(canon())
      val wide = withConf(
        "spark.sql.shuffle.partitions" -> "13")(canon())
      assert(tiny == wide, s"$name is partitioning-dependent")
    }
  }
}
