package graft.queries

import graft.util.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational surface widening: distinct aggregates, pivot, set ops,
  * the full ranking/analytic window family, cube, string/date scalar
  * functions, exact percentiles — engine surface the reference gets
  * for free from Postgres and a 100 TB engine must provide natively
  * (SURVEY §2.5 note, §2.7, §2.8).
  */
object ExtraQueries {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  val all: Seq[Q] = Seq(

    Q("q32_distinct_aggs",
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_parts"),
          countDistinct(col("l_suppkey")).as("nd_supps"),
          countDistinct(col("l_partkey"), col("l_suppkey")).as("nd_pairs"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  COUNT(DISTINCT l_partkey) AS nd_parts,
             |  COUNT(DISTINCT l_suppkey) AS nd_supps,
             |  COUNT(DISTINCT (l_partkey, l_suppkey)) AS nd_pairs,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q33_pivot",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("cnt_f"),
          coalesce(col("O"), lit(0L)).as("cnt_o"),
          coalesce(col("P"), lit(0L)).as("cnt_p"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_f,
             |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_o,
             |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    Q("q34_set_ops",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        def keys(st: String) = o.filter(col("o_orderstatus") === st)
          .select(col("o_custkey"))
        val both = keys("O").intersect(keys("F"))
          .select(col("o_custkey"), lit("both_o_f").as("set_tag"))
        val onlyO = keys("O").except(keys("P"))
          .select(col("o_custkey"), lit("o_minus_p").as("set_tag"))
        both.unionByName(onlyO).orderBy(col("set_tag"), col("o_custkey"))
      },
      Some("""(SELECT o_custkey, 'both_o_f' AS set_tag FROM
             |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |   INTERSECT
             |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t1)
             |UNION ALL
             |(SELECT o_custkey, 'o_minus_p' AS set_tag FROM
             |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |   EXCEPT
             |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') t2)
             |ORDER BY set_tag, o_custkey""".stripMargin)),

    // Ranking + analytic window family: rank/dense_rank/lag/lead/
    // ntile/first_value-ignore-nulls (needed for A5-style
    // best-of-cluster reduction).
    Q("q35_window_suite",
      (s, dir) => {
        val o = Tables(s, dir, "orders").filter(col("o_custkey") <= 100)
        val byPrice = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val byDate = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val byDateRows = byDate.rowsBetween(Window.unboundedPreceding, 0)
        o.select(col("o_custkey"), col("o_orderkey"),
            rank().over(byPrice).as("rnk"),
            dense_rank().over(byPrice).as("drnk"),
            lag(col("o_totalprice"), 1).over(byDate).as("prev_price"),
            lead(col("o_totalprice"), 1).over(byDate).as("next_price"),
            ntile(4).over(byDate).as("quartile"),
            first(nullif(col("o_orderpriority"), lit("3-MEDIUM")), ignoreNulls = true)
              .over(byDateRows).as("first_prio"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
             |  DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS drnk,
             |  LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
             |  LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
             |  NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS quartile,
             |  FIRST_VALUE(nullif(o_orderpriority, '3-MEDIUM') IGNORE NULLS) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_prio
             |FROM orders WHERE o_custkey <= 100
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    Q("q36_cube",
      (s, dir) => Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("revenue"))
        .orderBy(col("status"), col("priority")),
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
             |  coalesce(o_orderpriority, 'ALL') AS priority,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    // F17/F18 string scalar suite.
    Q("q37_string_fns",
      (s, dir) => Tables(s, dir, "part").filter(col("p_partkey") <= 2000)
        .select(col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
          substring(col("p_type"), 1, 5).as("type_abbrev"),
          lpad(col("p_partkey").cast(StringType), 8, "0").as("key_padded"),
          size(split(col("p_name"), " ")).as("n_words"),
          reverse(col("p_brand")).as("brand_rev"),
          translate(col("p_brand"), "#", "-").as("brand_dash"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
             |  upper(p_name) AS name_upper,
             |  regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
             |  substr(p_type, 1, 5) AS type_abbrev,
             |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
             |  len(string_split(p_name, ' ')) AS n_words,
             |  reverse(p_brand) AS brand_rev,
             |  replace(p_brand, '#', '-') AS brand_dash
             |FROM part WHERE p_partkey <= 2000 ORDER BY p_partkey""".stripMargin)),

    // F11-adjacent date/time scalar suite (timestamp compare semantics
    // live in q17_cdc_delta; this covers truncation/extraction).
    Q("q38_date_fns",
      (s, dir) => Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofweek(col("o_orderdate")).as("dow"),
          datediff(lit(java.sql.Timestamp.valueOf("2002-01-01 00:00:00")),
            col("o_orderdate")).as("days_left"),
          quarter(col("o_orderdate")).as("qtr"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
             |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
             |  CAST(year(o_orderdate) AS INT) AS yr,
             |  CAST(month(o_orderdate) AS INT) AS mo,
             |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
             |  CAST(datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INT) AS days_left,
             |  CAST(quarter(o_orderdate) AS INT) AS qtr
             |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin)),

    // Typed single-pass top-k via a custom Aggregator (map-side
    // bounded buffers instead of whole-group window sort) — must equal
    // the window formulation exactly (same oracle as q06).
    Q("q51_topk_typed_agg",
      (s, dir) => {
        import s.implicits._
        val ds = Tables(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .as[(Long, Long, Double)]
        ds.groupByKey(_._1)
          .mapValues(r => (r._2, r._3))
          .agg(new graft.functions.TopKAggregator(3).toColumn.name("top"))
          .flatMap { case (ck, hits) =>
            hits.zipWithIndex.map { case ((ok, price), i) => (ck, ok, price, i + 1) }
          }
          .toDF("o_custkey", "o_orderkey", "o_totalprice", "rnk")
          .orderBy(col("o_custkey"), col("rnk"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             |  FROM orders) t
             |WHERE rnk <= 3
             |ORDER BY o_custkey, rnk""".stripMargin)),

    // The same top-k through the CUSTOM PHYSICAL OPERATOR
    // (LogicalPlan + Strategy + SparkPlan, bounded per-partition
    // buffers after one hash exchange) — must equal the window form.
    Q("q58_topk_physical",
      (s, dir) => graft.plans.TopKPhysical.topK(
        Tables(s, dir, "orders"),
        groupBy = Seq("o_custkey"),
        orderBy = Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
        .orderBy(col("o_custkey"), col("rnk")),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             |  FROM orders) t
             |WHERE rnk <= 3
             |ORDER BY o_custkey, rnk""".stripMargin)),

    // Explicit grouping sets (beyond rollup/cube): status totals and
    // priority totals in one pass.
    Q("q55_grouping_sets",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        // Spark DataFrame API exposes rollup/cube; arbitrary grouping
        // sets go through SQL — same engine, same plan space.
        o.createOrReplaceTempView("_orders_gs")
        s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
                |  coalesce(o_orderpriority, 'ALL') AS priority,
                |  COUNT(*) AS n,
                |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
                |FROM _orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
                |ORDER BY status, priority""".stripMargin)
      },
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
             |  coalesce(o_orderpriority, 'ALL') AS priority,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
             |ORDER BY status, priority""".stripMargin)),

    // Array/map scalar suite over tokenized text: sort, distinct,
    // flatten/zip, map construction + lookup.
    Q("q56_array_map_fns",
      (s, dir) => {
        val toks = graft.functions.TextFns.tokens(col("text"))
        Tables(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"),
            array_join(array_sort(array_distinct(toks)), ",").as("sorted_vocab"),
            size(array_distinct(toks)).as("n_distinct"),
            element_at(array_sort(array_distinct(toks)), 1).as("first_word"),
            element_at(array_sort(array_distinct(toks)), -1).as("last_word"),
            array_contains(toks, "spark").cast("int").as("has_spark"),
            size(array_intersect(toks,
              array(lit("the"), lit("a"), lit("data")))).as("n_common"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents
             |  WHERE doc_id < 100),
             |d AS (SELECT doc_id, toks,
             |    list_sort(list_distinct(toks)) AS sv FROM t)
             |SELECT doc_id,
             |  array_to_string(sv, ',') AS sorted_vocab,
             |  len(sv) AS n_distinct,
             |  sv[1] AS first_word,
             |  sv[-1] AS last_word,
             |  CAST(list_contains(toks, 'spark') AS INT) AS has_spark,
             |  len(list_intersect(list_distinct(toks), ['the', 'a', 'data'])) AS n_common
             |FROM d ORDER BY doc_id""".stripMargin)),

    // Histogram binning (explicit floor arithmetic — identical on both
    // engines, unlike engine-specific width_bucket variants).
    Q("q57_histogram",
      (s, dir) => Tables(s, dir, "orders")
        .withColumn("bucket",
          least(lit(19L), floor(col("o_totalprice") / lit(25000.0)).cast("long")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy(col("bucket")),
      Some("""SELECT least(19, CAST(floor(o_totalprice / 25000.0) AS BIGINT)) AS bucket,
             |  COUNT(*) AS n,
             |  round(MIN(o_totalprice), 2) AS lo,
             |  round(MAX(o_totalprice), 2) AS hi
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Generator with ordinality: posexplode of tokenized text (the
    // page-number-bearing explode of the PDF chunker, processor.py:
    // 125-149 — chunk ids carry their position).
    Q("q59_posexplode",
      (s, dir) => Tables(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(graft.functions.TextFns.tokens(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).as("token_no"), col("col").as("token"))
        .withColumn("chunk_id",
          concat(lit("doc_"), col("doc_id"), lit("_part_"), col("token_no")))
        .orderBy(col("doc_id"), col("token_no")),
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents WHERE doc_id < 20)
             |SELECT doc_id, CAST(i AS INT) AS token_no, toks[i] AS token,
             |  'doc_' || CAST(doc_id AS VARCHAR) || '_part_' || CAST(i AS VARCHAR) AS chunk_id
             |FROM t, unnest(generate_series(1, len(toks))) AS u(i)
             |ORDER BY doc_id, token_no""".stripMargin)),

    // Conditional aggregation (FILTER-clause shape) — the reference's
    // flag-counting aggregates (A2/A3) in a single grouped pass.
    Q("q60_conditional_agg",
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(when(col("l_discount") > 0.05, 1)).as("n_discounted"),
          count(when(col("l_tax") === 0.0, 1)).as("n_taxfree"),
          sum(when(col("l_quantity") > 40,
            col("l_extendedprice").cast(DecimalType(18, 2)))).cast(DoubleType)
            .as("bulk_revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
             |  COUNT(*) FILTER (WHERE l_tax = 0.0) AS n_taxfree,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
             |    FILTER (WHERE l_quantity > 40) AS DOUBLE) AS bulk_revenue,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Exact interpolated percentiles (distribution surface; identical
    // (n-1)·q linear-interpolation definition on both engines).
    Q("q39_percentiles",
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          round(min(col("l_quantity")), 6).as("qmin"),
          round(max(col("l_quantity")), 6).as("qmax"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 6) AS p25,
             |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS p50,
             |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 6) AS p75,
             |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 6) AS p90,
             |  round(MIN(l_quantity), 6) AS qmin,
             |  round(MAX(l_quantity), 6) AS qmax
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Bloom-filter semi-join prefilter (operators/BloomFilter): build
    // the sketch over the selective dim-side key set (top-priced
    // orders), probe every fact-side order key against the broadcast
    // (word, bits) table, and publish the funnel — probe count, bloom
    // pass count, exact semi-join count, observed false positives,
    // and the structurally-zero false-negative count — in ONE
    // aggregate over a flags frame (bloom verdict ⋈ exact verdict),
    // so the whole check is a single pass with no plan reuse. This is
    // the engine-surfaced runtime-filter pattern: at 100 TB the pass
    // bit would gate the fact scan BEFORE its shuffle join.
    Q("q110_bloom_prefilter",
      (s, dir) => {
        import graft.operators.BloomFilter
        val keys = Tables(s, dir, "orders")
          .filter(col("o_totalprice") >= 495000)
          .select(col("o_orderkey").as("k"))
        val bloom = BloomFilter.build(keys, "k", words = 1024, k = 3)
        val flags = BloomFilter.probe(
            Tables(s, dir, "lineitem"), "l_orderkey", bloom,
            words = 1024, k = 3)
          .join(broadcast(keys.withColumn("in_build", lit(1))), Seq("k"), "left")
        flags.agg(
          count(lit(1)).cast(LongType).as("n_probe"),
          sum(col("pass")).cast(LongType).as("n_pass"),
          count(col("in_build")).cast(LongType).as("n_exact"),
          sum(when(col("pass") === 1 && col("in_build").isNull, 1)
            .otherwise(0)).cast(LongType).as("n_false_pos"),
          sum(when(col("pass") === 0 && col("in_build").isNotNull, 1)
            .otherwise(0)).cast(LongType).as("n_missed"))
      },
      Some("""WITH keys AS (SELECT o_orderkey AS k FROM orders
             |    WHERE o_totalprice >= 495000),
             |hb AS (SELECT ('0x' || substr(md5(CAST(k AS VARCHAR)),
             |      CAST(1 + 8 * i AS INT), 8))::BIGINT AS h
             |  FROM keys, unnest(range(0, 3)) AS u(i)),
             |bloom AS (SELECT (h // 32) % 1024 AS word,
             |    bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS bits
             |  FROM hb GROUP BY 1),
             |probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
             |ph AS (SELECT k, ('0x' || substr(md5(CAST(k AS VARCHAR)),
             |      CAST(1 + 8 * i AS INT), 8))::BIGINT AS h
             |  FROM probe, unnest(range(0, 3)) AS u(i)),
             |pj AS (SELECT ph.k, CASE WHEN b.bits IS NOT NULL
             |      AND ((b.bits >> CAST(ph.h % 32 AS INT)) & 1) = 1
             |    THEN 1 ELSE 0 END AS hit
             |  FROM ph LEFT JOIN bloom b ON (ph.h // 32) % 1024 = b.word),
             |fl AS (SELECT pj.k, MIN(pj.hit) AS pass FROM pj GROUP BY pj.k),
             |fj AS (SELECT fl.k, fl.pass,
             |    CASE WHEN keys.k IS NULL THEN NULL ELSE 1 END AS in_build
             |  FROM fl LEFT JOIN keys ON fl.k = keys.k)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
             |  CAST(SUM(pass) AS BIGINT) AS n_pass,
             |  CAST(COUNT(in_build) AS BIGINT) AS n_exact,
             |  CAST(SUM(CASE WHEN pass = 1 AND in_build IS NULL
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
             |  CAST(SUM(CASE WHEN pass = 0 AND in_build IS NOT NULL
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_missed
             |FROM fj""".stripMargin)),

    // Closed-form OLS per group (extendedprice-cents ~ quantity) via
    // SUFFICIENT STATISTICS: one map-side-combined aggregate collects
    // (n, Σx, Σy, Σxy, Σx²) exactly — inputs go to integer domains
    // first (quantity is integer-valued; price → cents), the moments
    // accumulate as decimal(38,0), and slope/intercept come out of
    // the normal equations in exact integer micro-units (`div`
    // truncates toward zero in BOTH engines, verified for negatives).
    // This is how regression runs at 100 TB: a single wordcount-
    // shaped pass builds X'X / X'y per group, the solve is O(1) per
    // group — no gradient iterations, no per-row driver math.
    // Distinct from q54 (z-score) and q39 (percentiles): those rank;
    // this fits. Method: Hastie et al., ESL §3.2 (public).
    Q("q116_ols_fit",
      (s, dir) => {
        val dec = DecimalType(38, 0)
        val li = Tables(s, dir, "lineitem").select(
          col("l_returnflag"),
          col("l_quantity").cast(LongType).as("x"),
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("y"))
        li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).cast(dec).as("n"),
            sum(col("x").cast(dec)).as("sx"),
            sum(col("y").cast(dec)).as("sy"),
            sum((col("x") * col("y")).cast(dec)).as("sxy"),
            sum((col("x") * col("x")).cast(dec)).as("sxx"))
          .withColumn("slope_micro", expr(
            "CAST((1000000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx) AS BIGINT)"))
          .withColumn("intercept_micro", expr(
            "CAST((1000000 * sy - slope_micro * sx) div n AS BIGINT)"))
          .select(col("l_returnflag"), col("n").cast(LongType).as("n"),
            col("slope_micro"), col("intercept_micro"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH m AS (SELECT l_returnflag,
             |    CAST(COUNT(*) AS HUGEINT) AS n,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sx,
             |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS HUGEINT) AS sy,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)
             |      * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS HUGEINT) AS sxy,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)
             |      * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sxx
             |  FROM lineitem GROUP BY l_returnflag),
             |f AS (SELECT l_returnflag, n,
             |    (1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS slope_micro
             |  FROM m)
             |SELECT f.l_returnflag, CAST(f.n AS BIGINT) AS n,
             |  CAST(f.slope_micro AS BIGINT) AS slope_micro,
             |  CAST((1000000 * m.sy - f.slope_micro * m.sx) // m.n AS BIGINT)
             |    AS intercept_micro
             |FROM f JOIN m ON f.l_returnflag = m.l_returnflag
             |ORDER BY f.l_returnflag""".stripMargin)),

    // Pareto frontier (skyline) on parts: cheapest-for-their-size
    // rows under (minimize retailprice, maximize size). The operator
    // runs the sort-scan algorithm with a DISTRIBUTED prefix-max (two
    // shuffles, O(numParts) sequential step — see operators/Skyline);
    // the oracle states the DEFINITION instead: the all-pairs
    // NOT-EXISTS dominance test, a genuinely different O(n²) plan
    // that proves the O(n log n) one. Coordinate-tied rows both
    // survive (no strict edge) — exercised: parts duplicate
    // (price, size) pairs in this data.
    Q("q118_skyline",
      (s, dir) => graft.operators.Skyline(
          Tables(s, dir, "part")
            .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
          "p_retailprice", "p_size")
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_retailprice, p_size FROM part p
             |WHERE NOT EXISTS (SELECT 1 FROM part q
             |  WHERE q.p_retailprice <= p.p_retailprice
             |    AND q.p_size >= p.p_size
             |    AND (q.p_retailprice < p.p_retailprice
             |      OR q.p_size > p.p_size))
             |ORDER BY p_partkey""".stripMargin)),

    // EXACT decile binning (the quantile discretizer of feature
    // engineering) without any global sort: per-value counts (a
    // wordcount), a DISTRIBUTED prefix sum over the value order
    // (operators/PrefixSum — range partition, O(numParts) sequential
    // step), and the bin rule decile = (rows_strictly_below × 10)
    // div N. Ties share a bin by construction, so the assignment is
    // deterministic under any partitioning — unlike ntile(), whose
    // global ORDER BY window funnels every row through one task AND
    // splits ties arbitrarily. The oracle uses exactly that
    // single-window formulation (the obvious SQL), proving the
    // distributed plan against it; DuckDB's window is fine at test
    // scale — Spark's would not be at 100 TB. The oracle CASTs the
    // decile to BIGINT because DuckDB widens SUM(BIGINT) (incl. the
    // window sum feeding ce) to HUGEINT, which arrow-based compares
    // read as decimal128 and format differently than Spark's int64
    // — values equal, hashes not (scripts/check.py pins the types).
    Q("q122_decile_bins",
      (s, dir) => {
        val v = Tables(s, dir, "lineitem")
          .select(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("p"))
        val g = v.groupBy(col("p")).agg(count(lit(1)).cast(LongType).as("c"))
          // eager, measured: PrefixSum's bounds, totals and probe
          // branches read g in concurrent stages, and under a lazy
          // checkpoint they race-compute it before the cache lands
          // (the q130 race; same-window Probe at sf0.1, 4 cores:
          // 2.88/3.57 s lazy vs 2.65/2.66 s eager)
          .localCheckpoint()
        // totalCol folds the corpus count into PrefixSum's offsets
        // window (r15: drops the separate SUM(c) aggregate branch and
        // its BroadcastNestedLoopJoin cross join)
        graft.operators.PrefixSum(g, "p", "c", "cum", totalCol = Some("n"))
          .withColumn("decile", expr("((cum - c) * 10) div n"))
          .groupBy(col("decile"))
          .agg(sum(col("c")).cast(LongType).as("n_rows"),
            min(col("p")).as("min_cents"),
            max(col("p")).as("max_cents"))
          .orderBy(col("decile"))
      },
      Some("""WITH v AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p
             |  FROM lineitem),
             |g AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY p),
             |cum AS (SELECT p, c, SUM(c) OVER (ORDER BY p
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS ce
             |  FROM g),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v)
             |SELECT CAST((ce * 10) // n.n AS BIGINT) AS decile,
             |  CAST(SUM(c) AS BIGINT) AS n_rows,
             |  MIN(p) AS min_cents, MAX(p) AS max_cents
             |FROM cum, n GROUP BY decile ORDER BY decile""".stripMargin)),

    // Benford first-digit audit (Newcomb 1881, Benford 1938 — public):
    // the classic fabricated-data / quality screen — compare the
    // observed leading-digit distribution of order totals against the
    // Benford expectation. Exact integers: amounts in cents, the
    // leading digit read off the decimal string, observed shares in
    // basis points, and the Benford reference ⌊log10(1+1/d)·10⁴⌋
    // entered as the standard literal table (both engines share the
    // identical constants, so no transcendental ever evaluates at
    // query time). One map-side-combined 9-row count; the 1-row total
    // broadcasts (q125's shape). Deviation is reported per digit —
    // the audit artifact — rather than collapsed to one statistic
    // (q125 is the collapsed-statistic precedent).
    Q("q123_benford",
      (s, dir) => {
        val benford = "CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1760 " +
          "WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 791 " +
          "WHEN 6 THEN 669 WHEN 7 THEN 579 WHEN 8 THEN 511 ELSE 457 END"
        val d = Tables(s, dir, "orders")
          .select(expr(
            "CAST(substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
              "AS STRING), 1, 1) AS BIGINT)").as("digit"))
          .filter(col("digit") >= 1)
          .groupBy(col("digit"))
          .agg(count(lit(1)).cast(LongType).as("n"))
        val tot = d.agg(sum(col("n")).cast(LongType).as("t"))
        d.crossJoin(broadcast(tot))
          .withColumn("share_bp", expr("(n * 10000) div t"))
          .withColumn("benford_bp", expr(benford).cast(LongType))
          .withColumn("dev_bp", abs(col("share_bp") - col("benford_bp")))
          .select(col("digit"), col("n"), col("share_bp"),
            col("benford_bp"), col("dev_bp"))
          .orderBy(col("digit"))
      },
      Some("""WITH d AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100, 0)
             |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
             |  FROM orders),
             |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM d WHERE digit >= 1 GROUP BY digit),
             |t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g)
             |SELECT digit, n, (n * 10000) // t.t AS share_bp,
             |  CAST(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1760
             |    WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 791
             |    WHEN 6 THEN 669 WHEN 7 THEN 579 WHEN 8 THEN 511
             |    ELSE 457 END AS BIGINT) AS benford_bp,
             |  abs((n * 10000) // t.t - CAST(CASE digit WHEN 1 THEN 3010
             |    WHEN 2 THEN 1760 WHEN 3 THEN 1249 WHEN 4 THEN 969
             |    WHEN 5 THEN 791 WHEN 6 THEN 669 WHEN 7 THEN 579
             |    WHEN 8 THEN 511 ELSE 457 END AS BIGINT)) AS dev_bp
             |FROM g, t ORDER BY digit""".stripMargin)),

    // Chi-square contingency association (returnflag × linestatus) in
    // EXACT integer arithmetic: observed counts O, margins R/C, and
    // per-cell contribution (10⁶·(O·N − R·C)²) div (N·R·C) — the ppm
    // value of (O−E)²/E with E = R·C/N, kept rational until one
    // integer floor per cell so both engines agree bit-for-bit
    // (decimal-38 / HUGEINT headroom: (O·N)² ≲ 10²³, ×10⁶ ≲ 10²⁹).
    // One map-side-combined cell count; margins are group-count-sized
    // broadcasts. The statistic behind categorical feature selection
    // at corpus scale (Pearson 1900 — public).
    Q("q125_chisq",
      (s, dir) => {
        val dec = DecimalType(38, 0)
        val cells = Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).cast(LongType).as("o"))
        val rows = cells.groupBy(col("l_returnflag"))
          .agg(sum(col("o")).cast(LongType).as("r"))
        val cols = cells.groupBy(col("l_linestatus"))
          .agg(sum(col("o")).cast(LongType).as("cc"))
        val n = cells.agg(sum(col("o")).cast(dec).as("n"))
        cells.join(broadcast(rows), "l_returnflag")
          .join(broadcast(cols), "l_linestatus")
          .crossJoin(broadcast(n))
          .withColumn("expected_milli",
            expr("CAST((CAST(r AS DECIMAL(38,0)) * cc * 1000) div n AS BIGINT)"))
          .withColumn("contrib_ppm", expr(
            """CAST((1000000 * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * cc)
              |  * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * cc))
              |  div (n * r * cc) AS BIGINT)""".stripMargin))
          .select(col("l_returnflag"), col("l_linestatus"), col("o"),
            col("expected_milli"), col("contrib_ppm"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""WITH cells AS (SELECT l_returnflag, l_linestatus,
             |    CAST(COUNT(*) AS BIGINT) AS o
             |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
             |r AS (SELECT l_returnflag, CAST(SUM(o) AS BIGINT) AS r
             |  FROM cells GROUP BY l_returnflag),
             |c AS (SELECT l_linestatus, CAST(SUM(o) AS BIGINT) AS cc
             |  FROM cells GROUP BY l_linestatus),
             |n AS (SELECT CAST(SUM(o) AS HUGEINT) AS n FROM cells)
             |SELECT cells.l_returnflag, cells.l_linestatus, o,
             |  CAST((CAST(r.r AS HUGEINT) * c.cc * 1000) // n.n AS BIGINT)
             |    AS expected_milli,
             |  CAST((1000000 * (CAST(o AS HUGEINT) * n.n - CAST(r.r AS HUGEINT) * c.cc)
             |    * (CAST(o AS HUGEINT) * n.n - CAST(r.r AS HUGEINT) * c.cc))
             |    // (n.n * r.r * c.cc) AS BIGINT) AS contrib_ppm
             |FROM cells
             |JOIN r ON cells.l_returnflag = r.l_returnflag
             |JOIN c ON cells.l_linestatus = c.l_linestatus, n
             |ORDER BY cells.l_returnflag, cells.l_linestatus""".stripMargin))
  )
}
