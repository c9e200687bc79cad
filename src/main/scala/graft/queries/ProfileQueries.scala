package graft.queries

import graft.util.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality / statistics surface: fuzzy dictionary joins, robust
  * outlier detection, one-pass column profiling, and sequence
  * transition models — the "know your data" operators a corpus
  * curation pipeline runs before and after every transform.
  *
  * Determinism discipline as everywhere in the registry: doubles are
  * quantized to integer micro-units through round() (HALF-AWAY, the
  * one rounding both engines share) before any compare/aggregate the
  * oracle sees; ratios use scaled-integer floor division.
  */
object ProfileQueries {

  private val MicroUs = "CAST(round(value * 1000000) AS BIGINT)"

  /** Lower median of a WEIGHTED (group, micro-unit value, count)
    * relation: the smallest v whose cumulative count reaches
    * ceil(n/2). Exact and total-order deterministic; the window runs
    * over per-(group, value) COUNTS, not raw rows, so its input is
    * bounded by the distinct quantized-value domain per group (for an
    * unbounded domain you'd switch to the q91 mergeable quantile
    * sketch). Taking cells instead of rows lets callers aggregate the
    * corpus ONCE and run every subsequent median on cell-sized data. */
  private def lowerMedian(cells: DataFrame, out: String): DataFrame = {
    val cum = cells.withColumn("cum",
      sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("v"))))
    val tot = cells.groupBy(col("event_type"))
      .agg(sum(col("c")).cast(LongType).as("n"))
    cum.join(tot, "event_type")
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("event_type"))
      .agg(min(col("v")).as(out))
  }

  val all: Seq[Q] = Seq(

    // Edit-distance fuzzy self-join over the part-name dictionary
    // (the q43 brand-fuzzy family, but with classic Levenshtein ≤ 2
    // instead of difflib ratio — both engines ship an identical
    // integer unit-cost levenshtein()). Shape at scale: the join runs
    // over the DISTINCT-name dictionary (vocab-sized, Zipf — counts
    // ride along from one wordcount), candidates are generated by
    // length-bucket blocking (width-4 buckets; |len₁−len₂| ≤ 2 ⇒
    // buckets differ by ≤ 1, so each name probes its home bucket and
    // the next — an EQUI-join on the bucket key, no theta-join), and
    // the exact levenshtein verify touches candidates only. For an
    // unbounded dictionary the next refinement is Ed-Join prefix
    // filtering (Xiao et al., VLDB 2008) on rare q-grams; the
    // length-bucket stage already bounds fan-out to dictionary
    // density per bucket.
    Q("q129_edit_join",
      (s, dir) => {
        val n = Tables(s, dir, "part")
          .groupBy(col("p_name").as("nm"))
          .agg(count(lit(1)).cast(LongType).as("c"))
        val h = n.withColumn("k", expr("CAST(length(nm) div 4 AS BIGINT)"))
        val probe = h.select(col("nm").as("nm_b"),
          explode(array(col("k"), col("k") + 1)).as("key"))
        val cand = h.join(probe, col("k") === col("key"))
          .filter(col("nm") =!= col("nm_b"))
          .select(least(col("nm"), col("nm_b")).as("w1"),
            greatest(col("nm"), col("nm_b")).as("w2"))
          .distinct()
        cand
          .filter(abs(length(col("w1")) - length(col("w2"))) <= 2)
          .withColumn("lev", levenshtein(col("w1"), col("w2")).cast(LongType))
          .filter(col("lev") <= 2)
          .join(n.select(col("nm").as("w1"), col("c").as("c1")), "w1")
          .join(n.select(col("nm").as("w2"), col("c").as("c2")), "w2")
          .select(col("w1"), col("w2"), col("lev"), col("c1"), col("c2"))
          .orderBy(col("w1"), col("w2"))
      },
      Some("""WITH n AS (SELECT p_name AS nm, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM part GROUP BY p_name),
             |h AS (SELECT nm, c, CAST(length(nm) // 4 AS BIGINT) AS k FROM n),
             |pr AS (SELECT nm AS nm_b, unnest([k, k + 1]) AS key FROM h),
             |cand AS (SELECT DISTINCT LEAST(nm, nm_b) AS w1,
             |    GREATEST(nm, nm_b) AS w2
             |  FROM h JOIN pr ON k = key WHERE nm <> nm_b)
             |SELECT w1, w2, CAST(levenshtein(w1, w2) AS BIGINT) AS lev,
             |  n1.c AS c1, n2.c AS c2
             |FROM cand JOIN n n1 ON w1 = n1.nm JOIN n n2 ON w2 = n2.nm
             |WHERE abs(length(w1) - length(w2)) <= 2
             |  AND levenshtein(w1, w2) <= 2
             |ORDER BY w1, w2""".stripMargin)),

    // End-to-end ENTITY RESOLUTION (Fellegi & Sunter 1969 frame;
    // Christen 2012's blocking survey — public): the composed
    // pipeline every MDM/catalog-dedup stack runs, built from kernels
    // the registry verifies separately — q129's length-band blocking
    // (candidates only from adjacent length buckets, never all-pairs)
    // → edit-distance ≤ 2 match edges → ClusterUnify's pointer-
    // jumping connected components over the NAME graph (strings are
    // the node ids — the kernel is ordering-generic) → canonical
    // survivor = min name per cluster, with member and source-row
    // rollups. Only true merge clusters (≥ 2 names) are emitted —
    // the ER artifact is the merge map, not the identity rows.
    // The oracle replays the closure as a recursive CTE (the q41/q86
    // convention; UNION-distinct recursion is the one construct Spark
    // SQL lacks, so this joins those two in the documented parity
    // exclusions). Scale: blocking bounds candidates, CC is O(log d)
    // rounds, everything shuffles on name keys.
    Q("q163_er_resolve",
      (s, dir) => {
        val n = Tables(s, dir, "part")
          .groupBy(col("p_name").as("nm"))
          .agg(count(lit(1)).cast(LongType).as("c"))
        val h = n.withColumn("k", expr("CAST(length(nm) div 4 AS BIGINT)"))
        val probe = h.select(col("nm").as("nm_b"),
          explode(array(col("k"), col("k") + 1)).as("key"))
        val pairs = h.join(probe, col("k") === col("key"))
          .filter(col("nm") =!= col("nm_b"))
          .select(least(col("nm"), col("nm_b")).as("w1"),
            greatest(col("nm"), col("nm_b")).as("w2"))
          .distinct()
          .filter(abs(length(col("w1")) - length(col("w2"))) <= 2)
          .filter(levenshtein(col("w1"), col("w2")) <= 2)
          // eager: the symmetrizing union reads pairs twice inside
          // ClusterUnify's edge materialization — the barrier halves
          // the blocking-join + levenshtein work
          .localCheckpoint()
        val edges = pairs.select(col("w1").as("_src"), col("w2").as("_dst"))
          .unionAll(pairs.select(col("w2").as("_src"), col("w1").as("_dst")))
        graft.operators.ClusterUnify
          .components(n.select(col("nm").as("_id")), edges)
          .join(n.select(col("nm").as("_id"), col("c")), "_id")
          .groupBy(col("_lbl").as("canonical"))
          .agg(count(lit(1)).cast(LongType).as("n_names"),
            sum(col("c")).cast(LongType).as("n_rows"))
          .filter(col("n_names") >= 2)
          .orderBy(col("canonical"))
      },
      Some("""WITH RECURSIVE n AS (SELECT p_name AS nm,
             |    CAST(COUNT(*) AS BIGINT) AS c FROM part GROUP BY p_name),
             |h AS (SELECT nm, c, CAST(length(nm) // 4 AS BIGINT) AS k FROM n),
             |pr AS (SELECT nm AS nm_b, unnest([k, k + 1]) AS key FROM h),
             |cand AS (SELECT DISTINCT LEAST(nm, nm_b) AS w1,
             |    GREATEST(nm, nm_b) AS w2
             |  FROM h JOIN pr ON k = key WHERE nm <> nm_b),
             |p AS (SELECT w1, w2 FROM cand
             |  WHERE abs(length(w1) - length(w2)) <= 2
             |    AND levenshtein(w1, w2) <= 2),
             |edges AS (SELECT w1 AS ka, w2 AS kb FROM p
             |  UNION ALL SELECT w2, w1 FROM p),
             |reach(k, lbl) AS (
             |  SELECT nm, nm FROM n
             |  UNION
             |  SELECT e.kb, r.lbl FROM reach r JOIN edges e ON e.ka = r.k
             |  WHERE r.lbl < e.kb),
             |comp AS (SELECT k, MIN(lbl) AS canonical FROM reach GROUP BY k)
             |SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_names,
             |  CAST(SUM(c) AS BIGINT) AS n_rows
             |FROM comp JOIN n ON comp.k = n.nm
             |GROUP BY canonical HAVING COUNT(*) >= 2
             |ORDER BY canonical""".stripMargin)),

    // Robust outlier detection per group: median / MAD (median
    // absolute deviation) with the Hampel 3·MAD rule (Hampel 1974;
    // Leys et al. 2013 — public). Both medians are EXACT lower
    // medians computed from per-(group, value) counts + a cumulative
    // window — no sampling, no global sort of raw rows; values are
    // micro-unit integers so "deviation > 3·MAD" is an exact integer
    // comparison. Three passes over events (counts, deviations,
    // flags), each shuffle-on-key with map-side combine.
    // The corpus is touched ONCE: the per-(group, value) cell table
    // is the only raw-row aggregation, and the deviation median, the
    // outlier count, and the totals all derive from those cells
    // (weighted medians over |v − med| with weight c).
    Q("q130_mad_outliers",
      (s, dir) => {
        val cells = Tables.wide(s, dir, "events")
          .select(col("event_type"), expr(MicroUs).as("v"))
          .groupBy(col("event_type"), col("v"))
          .agg(count(lit(1)).cast(LongType).as("c"))
          // eager, measured: under a lazy checkpoint the med and tot
          // branches race-compute this CORPUS-sized aggregate in
          // concurrent stages before the cache lands (+0.25 s in both
          // A/B runs); the barrier is cheaper than the double scan
          .localCheckpoint()
        // Hybrid switch (LocalExact): the cell table is bounded by the
        // value domain; below the threshold the two weighted medians
        // and the Hampel count run in one exact sequential pass — the
        // same lower-median definition (first v with cum ≥ (n+1) div 2
        // in ascending v order) over the same integer cells.
        val localOut = graft.operators.LocalExact(cells,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n", LongType),
            org.apache.spark.sql.types.StructField("med_us", LongType),
            org.apache.spark.sql.types.StructField("mad_us", LongType),
            org.apache.spark.sql.types.StructField("n_out", LongType))),
          5000000L) { it =>
          def lowerMed(cells: Array[(Long, Long)], n: Long): Long = {
            val need = (n + 1) / 2
            var cum = 0L
            val sorted = cells.sortBy(_._1)
            var i = 0
            while (i < sorted.length) {
              cum += sorted(i)._2
              if (cum >= need) return sorted(i)._1
              i += 1
            }
            sorted.last._1
          }
          it.toArray.groupBy(_.getString(0)).toSeq.sortBy(_._1).iterator
            .map { case (tpe, rows) =>
              val vc = rows.map(r => (r.getLong(1), r.getLong(2)))
              val n = vc.map(_._2).sum
              val med = lowerMed(vc, n)
              val dev = vc.groupBy(p => math.abs(p._1 - med))
                .map { case (d, ps) => (d, ps.map(_._2).sum) }.toArray
              val mad = lowerMed(dev, n)
              val nOut = vc.collect {
                case (v, c) if math.abs(v - med) > 3L * mad => c
              }.sum
              org.apache.spark.sql.Row(tpe, n, med, mad, nOut)
            }
        }
        localOut.getOrElse {
        val med = lowerMedian(cells, "med_us")
        val dev = cells.join(broadcast(med), "event_type")
          .groupBy(col("event_type"),
            abs(col("v") - col("med_us")).as("v"))
          .agg(sum(col("c")).cast(LongType).as("c"))
        val mad = lowerMedian(dev, "mad_us")
        val tot = cells.groupBy(col("event_type"))
          .agg(sum(col("c")).cast(LongType).as("n"))
        cells.join(broadcast(med), "event_type")
          .join(broadcast(mad), "event_type")
          .groupBy(col("event_type"))
          .agg(sum(when(abs(col("v") - col("med_us")) > lit(3) * col("mad_us"),
            col("c")).otherwise(0L)).cast(LongType).as("n_out"))
          .join(tot, "event_type")
          .join(med, "event_type").join(mad, "event_type")
          .select(col("event_type"), col("n"), col("med_us"),
            col("mad_us"), col("n_out"))
        }.orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type,
             |    CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
             |cnt AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM ev GROUP BY 1, 2),
             |cum AS (SELECT event_type, v,
             |    SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
             |  FROM cnt),
             |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM ev GROUP BY 1),
             |med AS (SELECT event_type, MIN(v) AS med_us
             |  FROM cum JOIN tot USING (event_type)
             |  WHERE cum >= (n + 1) // 2 GROUP BY event_type),
             |dv AS (SELECT ev.event_type, abs(v - med_us) AS v
             |  FROM ev JOIN med USING (event_type)),
             |dcnt AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM dv GROUP BY 1, 2),
             |dcum AS (SELECT event_type, v,
             |    SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
             |  FROM dcnt),
             |mad AS (SELECT event_type, MIN(v) AS mad_us
             |  FROM dcum JOIN tot USING (event_type)
             |  WHERE cum >= (n + 1) // 2 GROUP BY event_type),
             |fl AS (SELECT ev.event_type,
             |    CAST(SUM(CASE WHEN abs(v - med_us) > 3 * mad_us
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_out
             |  FROM ev JOIN med USING (event_type) JOIN mad USING (event_type)
             |  GROUP BY ev.event_type)
             |SELECT event_type, n, med_us, mad_us, n_out
             |FROM fl JOIN tot USING (event_type)
             |  JOIN med USING (event_type) JOIN mad USING (event_type)
             |ORDER BY event_type""".stripMargin)),

    // One-pass column profiler over `orders` — the schema-quality
    // snapshot (null rate, exact distinct cardinality, canonical
    // min/max) every ingest runs before accepting a drop. ALL columns
    // profile in a SINGLE aggregate scan (Spark plans the multi-
    // countDistinct through one Expand — rows × #columns in the map
    // stage, zero extra scans, map-side combined); the 1-row result
    // is melted to one row per column with a literal struct array —
    // no shuffle after the aggregate. Min/max are canonicalized to
    // strings through exact integer domains (micro-units for doubles,
    // epoch-micros for timestamps) so no float or timestamp
    // formatting ever reaches the compared values.
    Q("q131_profile",
      (s, dir) => {
        def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
          .cast(LongType)
        def profile(name: String, nc: Column, nd: Column, mn: Column,
                    mx: Column) =
          struct(lit(name).as("col_name"), col("n_rows"),
            nc.as("n_nulls"), nd.as("n_distinct"),
            mn.cast(StringType).as("min_s"), mx.cast(StringType).as("max_s"))
        val priceUs = expr("CAST(round(o_totalprice * 1000000) AS BIGINT)")
        val dateUs = unix_micros(col("o_orderdate"))
        // LocalExact hybrid: the 6-way countDistinct Expand multiplies
        // rows ×7 before the exchange; below the row threshold one
        // sequential pass accumulates all six profiles (typed columns
        // pre-derived in Catalyst so the kernel sees only longs and
        // strings; string min/max in UTF8-binary = code-point order).
        // The kernel reads one coalesced partition, so its input is the
        // plain table: a widened one only adds a repartition shuffle to
        // the gating count and to the kernel's read.
        val localOut = graft.operators.LocalExact(
          Tables(s, dir, "orders").select(
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            priceUs.as("p_us"), dateUs.as("d_us"), col("o_orderpriority")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("col_name",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_rows", LongType),
            org.apache.spark.sql.types.StructField("n_nulls", LongType),
            org.apache.spark.sql.types.StructField("n_distinct", LongType),
            org.apache.spark.sql.types.StructField("min_s",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("max_s",
              org.apache.spark.sql.types.StringType))),
          5000000L) { it =>
          val names = Array("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice_us", "o_orderdate_us", "o_orderpriority")
          val isStr = Array(false, false, true, false, false, true)
          val nulls = new Array[Long](6)
          // distinct tracking: primitive open-addressing long sets for
          // the four numeric columns (boxed HashSet[Any] over millions
          // of rows costs ~48 B/entry of heap + an alloc per add — the
          // one-task kernel would OOM near the 5M threshold where the
          // distributed countDistinct plan succeeds); the two string
          // columns keep a HashSet (tiny domains here, and string
          // interning beats re-hashing for min/max anyway)
          val longSets = Array.tabulate(6)(i =>
            if (isStr(i)) null else new graft.operators.LongSet(1 << 16))
          val strSets = Array.tabulate(6)(i =>
            if (isStr(i)) new java.util.HashSet[String]() else null)
          val minL = Array.fill(6)(Long.MaxValue)
          val maxL = Array.fill(6)(Long.MinValue)
          val minS = new Array[String](6)
          val maxS = new Array[String](6)
          var nRows = 0L
          it.foreach { r =>
            nRows += 1L
            var i = 0
            while (i < 6) {
              if (r.isNullAt(i)) nulls(i) += 1L
              else if (isStr(i)) {
                val v = r.getString(i)
                strSets(i).add(v)
                if (minS(i) == null ||
                  graft.functions.Md5Kernel.utf8Lt(v, minS(i))) minS(i) = v
                if (maxS(i) == null ||
                  graft.functions.Md5Kernel.utf8Lt(maxS(i), v)) maxS(i) = v
              } else {
                val v = r.getLong(i)
                longSets(i).add(v)
                if (v < minL(i)) minL(i) = v
                if (v > maxL(i)) maxL(i) = v
              }
              i += 1
            }
          }
          (0 until 6).iterator.map { i =>
            val nd = if (isStr(i)) strSets(i).size.toLong else longSets(i).size
            val (mn, mx) =
              if (nd == 0L) (null, null)
              else if (isStr(i)) (minS(i), maxS(i))
              else (minL(i).toString, maxL(i).toString)
            org.apache.spark.sql.Row(names(i), nRows, nulls(i), nd, mn, mx)
          }
        }
        localOut.map(_.orderBy(col("col_name"))).getOrElse {
        // widen: the 6-way countDistinct Expand multiplies rows ×6 in
        // the map stage — on a single-file scan that all lands on one
        // task without the spread
        Tables.wide(s, dir, "orders")
          .agg(count(lit(1)).cast(LongType).as("n_rows"),
            nulls("o_orderkey").as("nc1"),
            countDistinct(col("o_orderkey")).cast(LongType).as("nd1"),
            min(col("o_orderkey")).as("mn1"), max(col("o_orderkey")).as("mx1"),
            nulls("o_custkey").as("nc2"),
            countDistinct(col("o_custkey")).cast(LongType).as("nd2"),
            min(col("o_custkey")).as("mn2"), max(col("o_custkey")).as("mx2"),
            nulls("o_orderstatus").as("nc3"),
            countDistinct(col("o_orderstatus")).cast(LongType).as("nd3"),
            min(col("o_orderstatus")).as("mn3"),
            max(col("o_orderstatus")).as("mx3"),
            nulls("o_totalprice").as("nc4"),
            countDistinct(priceUs).cast(LongType).as("nd4"),
            min(priceUs).as("mn4"), max(priceUs).as("mx4"),
            nulls("o_orderdate").as("nc5"),
            countDistinct(dateUs).cast(LongType).as("nd5"),
            min(dateUs).as("mn5"), max(dateUs).as("mx5"),
            nulls("o_orderpriority").as("nc6"),
            countDistinct(col("o_orderpriority")).cast(LongType).as("nd6"),
            min(col("o_orderpriority")).as("mn6"),
            max(col("o_orderpriority")).as("mx6"))
          .select(explode(array(
            profile("o_orderkey", col("nc1"), col("nd1"), col("mn1"), col("mx1")),
            profile("o_custkey", col("nc2"), col("nd2"), col("mn2"), col("mx2")),
            profile("o_orderstatus", col("nc3"), col("nd3"), col("mn3"), col("mx3")),
            profile("o_totalprice_us", col("nc4"), col("nd4"), col("mn4"), col("mx4")),
            profile("o_orderdate_us", col("nc5"), col("nd5"), col("mn5"), col("mx5")),
            profile("o_orderpriority", col("nc6"), col("nd6"), col("mn6"), col("mx6"))
          )).as("p"))
          .select(col("p.col_name").as("col_name"), col("p.n_rows").as("n_rows"),
            col("p.n_nulls").as("n_nulls"), col("p.n_distinct").as("n_distinct"),
            col("p.min_s").as("min_s"), col("p.max_s").as("max_s"))
          .orderBy(col("col_name"))
        }
      },
      Some("""WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc1,
             |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd1,
             |  CAST(MIN(o_orderkey) AS VARCHAR) AS mn1,
             |  CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
             |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc2,
             |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd2,
             |  CAST(MIN(o_custkey) AS VARCHAR) AS mn2,
             |  CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
             |  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc3,
             |  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
             |  MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3,
             |  CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc4,
             |  CAST(COUNT(DISTINCT CAST(round(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) AS nd4,
             |  CAST(MIN(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS VARCHAR) AS mn4,
             |  CAST(MAX(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS VARCHAR) AS mx4,
             |  CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc5,
             |  CAST(COUNT(DISTINCT epoch_us(o_orderdate)) AS BIGINT) AS nd5,
             |  CAST(MIN(epoch_us(o_orderdate)) AS VARCHAR) AS mn5,
             |  CAST(MAX(epoch_us(o_orderdate)) AS VARCHAR) AS mx5,
             |  CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc6,
             |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd6,
             |  MIN(o_orderpriority) AS mn6, MAX(o_orderpriority) AS mx6
             |  FROM orders)
             |SELECT 'o_orderkey' AS col_name, n_rows, nc1 AS n_nulls,
             |  nd1 AS n_distinct, mn1 AS min_s, mx1 AS max_s FROM a
             |UNION ALL SELECT 'o_custkey', n_rows, nc2, nd2, mn2, mx2 FROM a
             |UNION ALL SELECT 'o_orderstatus', n_rows, nc3, nd3, mn3, mx3 FROM a
             |UNION ALL SELECT 'o_totalprice_us', n_rows, nc4, nd4, mn4, mx4 FROM a
             |UNION ALL SELECT 'o_orderdate_us', n_rows, nc5, nd5, mn5, mx5 FROM a
             |UNION ALL SELECT 'o_orderpriority', n_rows, nc6, nd6, mn6, mx6 FROM a
             |ORDER BY col_name""".stripMargin)),

    // First-order Markov transition matrix over per-user event
    // sequences (the session-behavior model behind next-event
    // prediction and funnel simulation). Sequences order by (ts,
    // event_id) — a total order, so LEAD is deterministic under ties;
    // transition probability is row-scaled basis points
    // (c·10⁴ div row_total), exact integers. Shape at scale: the lag
    // window shuffles once on user_id (per-key bounded state), then
    // transition counting is a wordcount on the (from, to) key with
    // map-side combine; the matrix is |E|² rows.
    Q("q132_markov_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val tr = Tables(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("from_type"))
          .withColumn("to_type", lead(col("from_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
        val c = tr.groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).cast(LongType).as("c"))
        val tot = c.groupBy(col("from_type"))
          .agg(sum(col("c")).cast(LongType).as("row_tot"))
        c.join(tot, "from_type")
          .withColumn("p_bp", expr("(c * 10000) div row_tot"))
          .select(col("from_type"), col("to_type"), col("c"), col("p_bp"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH tr AS (SELECT event_type AS from_type,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |tot AS (SELECT from_type, CAST(SUM(c) AS BIGINT) AS row_tot
             |  FROM c GROUP BY 1)
             |SELECT from_type, to_type, c, (c * 10000) // row_tot AS p_bp
             |FROM c JOIN tot USING (from_type)
             |ORDER BY from_type, to_type""".stripMargin)),

    // Exact CART split finding (decision stump): the best
    // o_totalprice threshold separating o_orderstatus classes by
    // weighted Gini impurity (Breiman et al. 1984 — the split-finding
    // kernel inside every distributed tree trainer). Minimizing Gini
    // ⇔ maximizing f = ΣL²/nL + ΣR²/nR, evaluated for EVERY distinct
    // threshold from per-(value, class) counts + per-class cumulative
    // windows (input bounded by the quantized value domain, never raw
    // rows — the q130 median shape). f is compared EXACTLY via
    // two-step scaled division (q div d)·2²⁰ + ((q mod d)·2²⁰) div d
    // — no intermediate exceeds decimal-38 even at 100-TB counts, and
    // no float touches the argmax. Ties break toward the smaller
    // threshold. Precondition (documented): N·2²⁰ < 2⁶³ for the final
    // BIGINT score.
    Q("q135_decision_stump",
      (s, dir) => {
        val ev = Tables(s, dir, "orders")
          .select(expr("CAST(round(o_totalprice * 1000000) AS BIGINT)").as("v"),
            col("o_orderstatus").as("cls"))
        // materialized once: cnt feeds the value domain, the class
        // domain, the grid join, and the per-class totals — four
        // consumers, no reusable exchange across their differing keys
        val cnt = ev.groupBy(col("v"), col("cls"))
          .agg(count(lit(1)).cast(LongType).as("c"))
          .localCheckpoint(eager = false)
        // Hybrid switch (LocalExact): the cell table is DOMAIN-bounded
        // (distinct price values × classes); below the threshold one
        // sequential pass computes the exact argmax with BigInteger
        // arithmetic identical to the DECIMAL(38) plan below —
        // ascending-v scan with strict improvement keeps the smallest
        // v among score ties, matching ORDER BY score DESC, v LIMIT 1.
        val localOut = graft.operators.LocalExact(cnt,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("split_us", LongType),
            org.apache.spark.sql.types.StructField("n_l", LongType),
            org.apache.spark.sql.types.StructField("n_r", LongType),
            org.apache.spark.sql.types.StructField("score_s", LongType))),
          5000000L) { it =>
          import java.math.BigInteger
          val rows = it.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .toArray.sortBy(_._1)
          if (rows.isEmpty) Iterator.empty
          else {
            val classes = rows.map(_._2).distinct.sorted
            val ci = classes.zipWithIndex.toMap
            val tot = new Array[Long](classes.length)
            rows.foreach { case (_, c, m) => tot(ci(c)) += m }
            val n = tot.sum
            val cum = new Array[Long](classes.length)
            val M = BigInteger.valueOf(1048576L)
            // Long fast path (r14 optimization round, guide §1.2
            // per-task work): for n < 2²⁰ every intermediate fits a
            // signed 64-bit long with margin — ssq ≤ n² < 2⁴⁰,
            // num = ssqL·nr + ssqR·nl ≤ n³ < 2⁶⁰, and the second
            // division step (num mod den)·2²⁰ < den·2²⁰ ≤ n²·2²⁰ <
            // 2⁶⁰ — and Java long division truncates exactly like
            // BigInteger.divide, so the score is bit-identical. The
            // BigInteger branch (measured ~0.3 s of the sf0.1 kernel
            // at 150k distinct thresholds) remains the ≥2²⁰ path —
            // the 100-TB case the DECIMAL(38) distributed plan also
            // serves.
            val longSafe = n < 1048576L
            var (bestV, bestNl, bestScore, any) = (0L, 0L, 0L, false)
            var i = 0
            while (i < rows.length) {
              val v = rows(i)._1
              while (i < rows.length && rows(i)._1 == v) {
                cum(ci(rows(i)._2)) += rows(i)._3; i += 1
              }
              var nl = 0L
              if (longSafe) {
                var ssqL = 0L
                var ssqR = 0L
                var j = 0
                while (j < classes.length) {
                  nl += cum(j)
                  val a = cum(j)
                  val b = tot(j) - cum(j)
                  ssqL += a * a
                  ssqR += b * b
                  j += 1
                }
                if (nl < n) {
                  val nr = n - nl
                  val num = ssqL * nr + ssqR * nl
                  val den = nl * nr
                  val score = (num / den) * 1048576L +
                    ((num % den) * 1048576L) / den
                  if (!any || score > bestScore) {
                    any = true; bestScore = score; bestV = v; bestNl = nl
                  }
                }
              } else {
                var ssqL = BigInteger.ZERO
                var ssqR = BigInteger.ZERO
                var j = 0
                while (j < classes.length) {
                  nl += cum(j)
                  val a = BigInteger.valueOf(cum(j))
                  val b = BigInteger.valueOf(tot(j) - cum(j))
                  ssqL = ssqL.add(a.multiply(a))
                  ssqR = ssqR.add(b.multiply(b))
                  j += 1
                }
                if (nl < n) {
                  val nr = n - nl
                  val num = ssqL.multiply(BigInteger.valueOf(nr))
                    .add(ssqR.multiply(BigInteger.valueOf(nl)))
                  val den = BigInteger.valueOf(nl)
                    .multiply(BigInteger.valueOf(nr))
                  val qr = num.divideAndRemainder(den)
                  val score = qr(0).multiply(M)
                    .add(qr(1).multiply(M).divide(den)).longValueExact()
                  if (!any || score > bestScore) {
                    any = true; bestScore = score; bestV = v; bestNl = nl
                  }
                }
              }
            }
            if (!any) Iterator.empty
            else Iterator(org.apache.spark.sql.Row(
              bestV, bestNl, n - bestNl, bestScore))
          }
        }
        localOut.getOrElse {
        val vs = cnt.select(col("v")).distinct()
        val cl = cnt.select(col("cls")).distinct()
        val grid = vs.crossJoin(broadcast(cl))
          .join(cnt, Seq("v", "cls"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
        val cum = grid.withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("cls")).orderBy(col("v"))))
        val tot = cnt.groupBy(col("cls"))
          .agg(sum(col("c")).cast(LongType).as("tot"))
        val nt = ev.agg(count(lit(1)).cast(LongType).as("n"))
        val perv = cum.join(broadcast(tot), "cls")
          .groupBy(col("v"))
          .agg(sum(col("cum")).cast(LongType).as("n_l"),
            sum(expr("CAST(cum AS DECIMAL(38,0)) * CAST(cum AS DECIMAL(38,0))"))
              .as("ssq_l"),
            sum(expr(
              "CAST(tot - cum AS DECIMAL(38,0)) * CAST(tot - cum AS DECIMAL(38,0))"))
              .as("ssq_r"))
        perv.crossJoin(broadcast(nt))
          .filter(col("n_l") < col("n"))
          .withColumn("n_r", col("n") - col("n_l"))
          .withColumn("num", expr(
            "ssq_l * CAST(n_r AS DECIMAL(38,0)) + ssq_r * CAST(n_l AS DECIMAL(38,0))"))
          .withColumn("den", expr(
            "CAST(n_l AS DECIMAL(38,0)) * CAST(n_r AS DECIMAL(38,0))"))
          .withColumn("score_s", expr(
            "(num div den) * 1048576 + CAST(((num % den) * 1048576) div den AS BIGINT)"))
          .orderBy(col("score_s").desc, col("v"))
          .limit(1)
          .select(col("v").as("split_us"), col("n_l"), col("n_r"),
            col("score_s"))
        }
      },
      Some("""WITH ev AS (SELECT
             |    CAST(round(o_totalprice * 1000000) AS BIGINT) AS v,
             |    o_orderstatus AS cls FROM orders),
             |cnt AS (SELECT v, cls, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM ev GROUP BY 1, 2),
             |vs AS (SELECT DISTINCT v FROM cnt),
             |cl AS (SELECT DISTINCT cls FROM cnt),
             |grid AS (SELECT v, cls, COALESCE(c, 0) AS c
             |  FROM vs CROSS JOIN cl LEFT JOIN cnt USING (v, cls)),
             |cum AS (SELECT v, cls,
             |    SUM(c) OVER (PARTITION BY cls ORDER BY v) AS cum FROM grid),
             |tot AS (SELECT cls, CAST(SUM(c) AS BIGINT) AS tot
             |  FROM cnt GROUP BY 1),
             |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
             |perv AS (SELECT v, CAST(SUM(cum) AS BIGINT) AS n_l,
             |    SUM(CAST(cum AS HUGEINT) * CAST(cum AS HUGEINT)) AS ssq_l,
             |    SUM(CAST(tot - cum AS HUGEINT) * CAST(tot - cum AS HUGEINT))
             |      AS ssq_r
             |  FROM cum JOIN tot USING (cls) GROUP BY v),
             |sc AS (SELECT v, n_l, n - n_l AS n_r,
             |    ssq_l * CAST(n - n_l AS HUGEINT) + ssq_r * CAST(n_l AS HUGEINT)
             |      AS num,
             |    CAST(n_l AS HUGEINT) * CAST(n - n_l AS HUGEINT) AS den
             |  FROM perv, nt WHERE n_l < n)
             |SELECT v AS split_us, n_l, n_r,
             |  CAST((num // den) * 1048576 + ((num % den) * 1048576) // den
             |    AS BIGINT) AS score_s
             |FROM sc ORDER BY score_s DESC, v LIMIT 1""".stripMargin)),

    // Embedding-space drift diagnostics: how far does each label
    // cluster's centroid sit from the global centroid? The data-drift
    // / class-balance check a training pipeline runs on every
    // embedding refresh. Floats are quantized to 2²⁰-scaled longs
    // BEFORE any aggregation (float sums are reduction-order-
    // dependent; integer sums are exact), centroids are floored
    // per-dimension integer means, and the squared L2 drift is an
    // exact integer. Shape at scale: posexplode → (label, dim)
    // wordcount with map-side combine (|labels|·dims rows of state),
    // global centroid derived from the SAME aggregate (no second
    // corpus pass), dims-sized broadcast join.
    Q("q136_embedding_drift",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("d0", "x")))
          .select(col("label"), (col("d0") + 1).as("d"),
            expr("CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)").as("xs"))
        val sl = e.groupBy(col("label"), col("d"))
          .agg(sum(col("xs")).cast(LongType).as("sd"),
            count(lit(1)).cast(LongType).as("n_l"))
        val g = sl.groupBy(col("d"))
          .agg(sum(col("sd")).cast(LongType).as("gs"),
            sum(col("n_l")).cast(LongType).as("gn"))
          .withColumn("gm", expr("gs div gn"))
        sl.withColumn("m", expr("sd div n_l"))
          .join(broadcast(g.select(col("d"), col("gm"))), "d")
          .groupBy(col("label"))
          .agg(min(col("n_l")).cast(LongType).as("n_vecs"),
            sum((col("m") - col("gm")) * (col("m") - col("gm")))
              .cast(LongType).as("dist2_s"))
          .orderBy(col("label"))
      },
      Some("""WITH e AS (SELECT label, i AS d,
             |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
             |      AS xs
             |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
             |sl AS (SELECT label, d, CAST(SUM(xs) AS BIGINT) AS sd,
             |    CAST(COUNT(*) AS BIGINT) AS n_l FROM e GROUP BY 1, 2),
             |g AS (SELECT d, CAST(SUM(sd) AS BIGINT) AS gs,
             |    CAST(SUM(n_l) AS BIGINT) AS gn FROM sl GROUP BY 1),
             |m AS (SELECT label, d, n_l, sd // n_l AS m, gs // gn AS gm
             |  FROM sl JOIN g USING (d))
             |SELECT label, CAST(MIN(n_l) AS BIGINT) AS n_vecs,
             |  CAST(SUM((m - gm) * (m - gm)) AS BIGINT) AS dist2_s
             |FROM m GROUP BY label ORDER BY label""".stripMargin)),

    // Quality-band pruning (the "drop the junk AND the too-clean
    // boilerplate" selection rule many curation recipes apply):
    // per-source quality DECILES computed from per-(source, quality-
    // value) counts + a cumulative window — the q122/q130 domain-
    // bounded shape, NOT a per-source raw-row rank (a single hot
    // source would serialize a raw-row window at 100 TB; the
    // per-value formulation's window input is bounded by the
    // quantized quality domain). Ties share a band deterministically
    // (band of a value = rows strictly below it ×10 div n). Keep
    // bands 1–8, report per-source kept docs/tokens.
    Q("q137_quality_band_prune",
      (s, dir) => {
        val base = Tables(s, dir, "documents")
          .select(col("source"),
            graft.functions.TextFns.qualityScore(col("text"),
              graft.functions.TextFns.langStopwords.head._2).as("q"),
            graft.functions.TextFns.tokenCount(col("text"))
              .cast(LongType).as("n_tokens"))
          .select(col("source"),
            expr("CAST(round(q * 1000000) AS BIGINT)").as("qv"),
            col("n_tokens"))
        val cell = base.groupBy(col("source"), col("qv"))
          .agg(count(lit(1)).cast(LongType).as("c"),
            sum(col("n_tokens")).cast(LongType).as("toks"))
          // eager, measured: the cum window and the n aggregate read
          // cell in concurrent stages, and under a lazy checkpoint
          // they race-compute it before the cache lands (the q130
          // race; same-window Probe at sf0.1, 4 cores: 1.44/1.65 s
          // lazy vs 1.07/1.08 s eager)
          .localCheckpoint()
        val cum = cell.withColumn("below",
          coalesce(sum(col("c")).over(
            Window.partitionBy(col("source")).orderBy(col("qv"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val n = cell.groupBy(col("source"))
          .agg(sum(col("c")).cast(LongType).as("n_src"))
        cum.join(n, "source")
          .withColumn("band", expr("(below * 10) div n_src"))
          .groupBy(col("source"))
          .agg(sum(col("c")).cast(LongType).as("n_docs"),
            sum(when(col("band").between(1, 8), col("c")).otherwise(0L))
              .cast(LongType).as("n_kept"),
            sum(when(col("band").between(1, 8), col("toks")).otherwise(0L))
              .cast(LongType).as("kept_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH ${TextQueries.qualitySql("doc_id, source")},
             |base AS (SELECT source,
             |    CAST(round(quality * 1000000) AS BIGINT) AS qv, n_tokens
             |  FROM qx),
             |cell AS (SELECT source, qv, CAST(COUNT(*) AS BIGINT) AS c,
             |    CAST(SUM(n_tokens) AS BIGINT) AS toks
             |  FROM base GROUP BY 1, 2),
             |cum AS (SELECT source, qv, c, toks,
             |    COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY qv
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS below
             |  FROM cell),
             |n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src
             |  FROM cell GROUP BY 1),
             |b AS (SELECT source, c, toks, (below * 10) // n_src AS band
             |  FROM cum JOIN n USING (source))
             |SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
             |  CAST(SUM(CASE WHEN band BETWEEN 1 AND 8 THEN c ELSE 0 END)
             |    AS BIGINT) AS n_kept,
             |  CAST(SUM(CASE WHEN band BETWEEN 1 AND 8 THEN toks ELSE 0 END)
             |    AS BIGINT) AS kept_tokens
             |FROM b GROUP BY source ORDER BY source""".stripMargin)),

    // Last-touch attribution: each purchase's value is credited to
    // the most recent PRECEDING non-purchase event by the same user
    // within 30 minutes ('direct' if none) — the marketing-analytics
    // join usually done with messy self-joins, here one pass over the
    // per-user (ts, event_id) total order with IGNORE NULLS window
    // carries. Revenue is exact micro-units. One shuffle on user_id,
    // then a |channels|-sized wordcount.
    Q("q138_attribution",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), expr(MicroUs).as("v_us"))
          .withColumn("prev_type", last(
            when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
          .withColumn("prev_ts", last(
            when(col("event_type") =!= "purchase", col("ts")),
            ignoreNulls = true).over(w))
        ev.filter(col("event_type") === "purchase")
          .withColumn("channel",
            when(col("prev_ts").isNotNull &&
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) <= 1800000000L,
              col("prev_type")).otherwise(lit("direct")))
          .groupBy(col("channel"))
          .agg(count(lit(1)).cast(LongType).as("n_purchases"),
            sum(col("v_us")).cast(LongType).as("revenue_us"))
          .orderBy(col("channel"))
      },
      Some("""WITH ev AS (SELECT user_id, ts, event_id, event_type,
             |    CAST(round(value * 1000000) AS BIGINT) AS v_us,
             |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
             |        THEN event_type END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS prev_type,
             |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
             |        THEN ts END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS prev_ts
             |  FROM events)
             |SELECT CASE WHEN prev_ts IS NOT NULL
             |    AND epoch_us(ts) - epoch_us(prev_ts) <= 1800000000
             |    THEN prev_type ELSE 'direct' END AS channel,
             |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
             |  CAST(SUM(v_us) AS BIGINT) AS revenue_us
             |FROM ev WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY channel""".stripMargin)),

    // Position-based (U-shaped 40/20/40) MULTI-touch attribution —
    // q138's fractional-credit counterpart: every non-purchase touch
    // within 30 min before a purchase shares that purchase's credit.
    // EXACT integer split in basis points: 1 touch → 10000; 2 →
    // 5000/5000; k ≥ 3 → last 4000, middles ⌊2000/(k−2)⌋ each, and
    // the FIRST touch takes 4000 plus the middle-division remainder —
    // so every purchase's credit sums to exactly 10000 and revenue
    // attribution ((v_us·bp) div 10⁴) is reproducible bit-for-bit.
    // Untouched purchases credit 'direct' in full. Scale shape: the
    // touch↔purchase pairing is a user-keyed equi-join with a time-
    // band filter (state bounded by the 30-min window, the q95
    // discipline); the rank/count windows partition by purchase id
    // (window size = touches per purchase, never corpus-sized); the
    // channel rollup is map-side combined.
    Q("q164_multitouch",
      (s, dir) => {
        val ev = Tables(s, dir, "events").select(col("user_id"),
          col("event_id"), unix_micros(col("ts")).as("t_us"),
          col("event_type"), expr(MicroUs).as("v_us"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("pid"),
            col("t_us").as("pt"), col("v_us"))
        val t = ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("event_id").as("tid"),
            col("t_us").as("tt"), col("event_type").as("channel"))
        val j = p.join(t, Seq("user_id"))
          .filter(col("tt") < col("pt") &&
            col("pt") - col("tt") <= lit(1800000000L))
        val wOrd = Window.partitionBy(col("pid"))
          .orderBy(col("tt"), col("tid"))
        val wAll = Window.partitionBy(col("pid"))
        val credited = j
          .withColumn("rn", row_number().over(wOrd).cast(LongType))
          .withColumn("k", count(lit(1)).over(wAll).cast(LongType))
          .withColumn("credit_bp", expr(
            """CASE WHEN k = 1 THEN 10000
              |     WHEN k = 2 THEN 5000
              |     WHEN rn = k THEN 4000
              |     WHEN rn = 1 THEN 4000 + 2000 - (2000 div (k - 2)) * (k - 2)
              |     ELSE 2000 div (k - 2) END""".stripMargin))
        val direct = p
          .join(credited.select(col("pid")).distinct(), Seq("pid"), "left_anti")
          .select(lit("direct").as("channel"), lit(10000L).as("credit_bp"),
            col("v_us"))
        credited.select(col("channel"), col("credit_bp"), col("v_us"))
          .unionAll(direct)
          .withColumn("rev_us", expr("(v_us * credit_bp) div 10000"))
          .groupBy(col("channel"))
          .agg(count(lit(1)).cast(LongType).as("n_credits"),
            sum(col("credit_bp")).cast(LongType).as("credit_bp"),
            sum(col("rev_us")).cast(LongType).as("revenue_us"))
          .orderBy(col("channel"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS t_us,
             |    event_type, CAST(round(value * 1000000) AS BIGINT) AS v_us
             |  FROM events),
             |p AS (SELECT user_id, event_id AS pid, t_us AS pt, v_us
             |  FROM ev WHERE event_type = 'purchase'),
             |t AS (SELECT user_id, event_id AS tid, t_us AS tt,
             |    event_type AS channel
             |  FROM ev WHERE event_type <> 'purchase'),
             |j AS (SELECT p.pid, p.v_us, t.channel, t.tt, t.tid
             |  FROM p JOIN t ON p.user_id = t.user_id
             |  WHERE t.tt < p.pt AND p.pt - t.tt <= 1800000000),
             |cr AS (SELECT pid, v_us, channel,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tt, tid)
             |      AS BIGINT) AS rn,
             |    CAST(COUNT(*) OVER (PARTITION BY pid) AS BIGINT) AS k
             |  FROM j),
             |cb AS (SELECT pid, v_us, channel,
             |    CASE WHEN k = 1 THEN 10000
             |         WHEN k = 2 THEN 5000
             |         WHEN rn = k THEN 4000
             |         WHEN rn = 1 THEN 4000 + 2000 - (2000 // (k - 2)) * (k - 2)
             |         ELSE 2000 // (k - 2) END AS credit_bp
             |  FROM cr),
             |direct AS (SELECT 'direct' AS channel, CAST(10000 AS BIGINT)
             |    AS credit_bp, v_us
             |  FROM p WHERE pid NOT IN (SELECT DISTINCT pid FROM j)),
             |allc AS (SELECT channel, credit_bp, v_us FROM cb
             |  UNION ALL SELECT channel, credit_bp, v_us FROM direct)
             |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
             |  CAST(SUM(credit_bp) AS BIGINT) AS credit_bp,
             |  CAST(SUM((v_us * credit_bp) // 10000) AS BIGINT) AS revenue_us
             |FROM allc GROUP BY channel ORDER BY channel""".stripMargin)),

    // Time-to-convert distribution: per user, seconds from FIRST
    // signup to the first purchase at-or-after it; report exact p50
    // and p90 of that distribution. The quantiles run on per-VALUE
    // counts through the DISTRIBUTED prefix sum (PrefixSum's two-
    // phase scan — no global single-task window even though the
    // quantile is global; the q122 shape), so the only corpus-scale
    // stages are two user-keyed aggregations and one value-keyed
    // wordcount. p90 threshold is ceil(9n/10) = (9n+9) div 10, exact
    // in both engines.
    Q("q144_time_to_convert",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        // `sign` feeds both the user count and the conversion join;
        // `cnt` (the per-value cell table, |distinct dur_s| rows) feeds
        // the total, the prefix sum, and — via one conditional-min agg —
        // BOTH percentiles. Each corpus-scale subplan executes once.
        val sign = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
          .localCheckpoint(eager = false)
        val conv = ev.filter(col("event_type") === "purchase")
          .join(sign, "user_id")
          .filter(col("ts") >= col("s_ts"))
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("p_ts"), min(col("s_ts")).as("s0"))
          .select(col("user_id"),
            expr("(unix_micros(p_ts) - unix_micros(s0)) div 1000000")
              .as("dur_s"))
        val cnt = conv.groupBy(col("dur_s"))
          .agg(count(lit(1)).cast(LongType).as("c"))
          .localCheckpoint(eager = false)
        val cum = graft.operators.PrefixSum(cnt, "dur_s", "c")
        val tot = cnt.agg(sum(col("c")).cast(LongType).as("n_conv"))
        val users = sign.agg(count(lit(1)).cast(LongType).as("n_users"))
        val pct = cum.crossJoin(broadcast(tot)).agg(
          min(when(col("cum") >= expr("(n_conv + 1) div 2"), col("dur_s")))
            .as("med_s"),
          min(when(col("cum") >= expr("(9 * n_conv + 9) div 10"),
            col("dur_s"))).as("p90_s"))
        users.crossJoin(broadcast(tot)).crossJoin(broadcast(pct))
          .select(col("n_users"), col("n_conv"), col("med_s"), col("p90_s"))
      },
      Some("""WITH sign AS (SELECT user_id, MIN(ts) AS s_ts
             |  FROM events WHERE event_type = 'signup' GROUP BY 1),
             |conv AS (SELECT user_id,
             |    (epoch_us(MIN(ts)) - epoch_us(MIN(s_ts))) // 1000000 AS dur_s
             |  FROM events JOIN sign USING (user_id)
             |  WHERE event_type = 'purchase' AND ts >= s_ts
             |  GROUP BY user_id),
             |cnt AS (SELECT dur_s, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM conv GROUP BY 1),
             |cum AS (SELECT dur_s,
             |    SUM(c) OVER (ORDER BY dur_s) AS cum FROM cnt),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_conv FROM conv),
             |us AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM sign),
             |med AS (SELECT MIN(dur_s) AS med_s FROM cum, tot
             |  WHERE cum >= (n_conv + 1) // 2),
             |p90 AS (SELECT MIN(dur_s) AS p90_s FROM cum, tot
             |  WHERE cum >= (9 * n_conv + 9) // 10)
             |SELECT n_users, n_conv, med_s, p90_s
             |FROM us, tot, med, p90""".stripMargin)),

    // Session quality rollup over the gap-based sessionization (q16's
    // operator, 30-min gap): session count, bounce rate (single-event
    // sessions) in basis points, and the exact median session size —
    // again from per-VALUE counts through the distributed prefix sum,
    // so no stage ever sorts raw sessions globally.
    Q("q145_session_stats",
      (s, dir) => {
        val sess = graft.operators.Sessionize(
          Tables(s, dir, "events"), "user_id", "ts", "event_id", 1800L)
          .select(col("n_events").cast(LongType).as("n_events"))
        // The per-value cell table is the ONLY consumer of the raw
        // sessionization; totals and bounce counts fold out of it, so
        // the window pass over the corpus executes exactly once.
        val cnt = sess.groupBy(col("n_events"))
          .agg(count(lit(1)).cast(LongType).as("c"))
          .localCheckpoint(eager = false)
        val cum = graft.operators.PrefixSum(cnt, "n_events", "c")
        val tot = cnt.agg(sum(col("c")).cast(LongType).as("n_sessions"),
          sum(when(col("n_events") === 1L, col("c")).otherwise(0L))
            .cast(LongType).as("n_bounce"))
        val med = cum.crossJoin(broadcast(tot))
          .filter(col("cum") >= expr("(n_sessions + 1) div 2"))
          .agg(min(col("n_events")).as("med_events"))
        tot.crossJoin(broadcast(med))
          .withColumn("bounce_bp", expr("(n_bounce * 10000) div n_sessions"))
          .select(col("n_sessions"), col("n_bounce"), col("bounce_bp"),
            col("med_events"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t
             |  FROM events),
             |lagd AS (SELECT *, lag(t) OVER (PARTITION BY user_id
             |    ORDER BY t, event_id) AS pt FROM e),
             |flag AS (SELECT *, CASE WHEN pt IS NULL OR
             |    CAST(floor(epoch(t)) AS BIGINT) -
             |    CAST(floor(epoch(pt)) AS BIGINT) > 1800
             |  THEN 1 ELSE 0 END AS nf FROM lagd),
             |sess AS (SELECT *, SUM(nf) OVER (PARTITION BY user_id
             |    ORDER BY t, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sseq
             |  FROM flag),
             |sz AS (SELECT user_id, sseq, CAST(COUNT(*) AS BIGINT) AS n_events
             |  FROM sess GROUP BY user_id, sseq),
             |cnt AS (SELECT n_events, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM sz GROUP BY 1),
             |cum AS (SELECT n_events, SUM(c) OVER (ORDER BY n_events) AS cum
             |  FROM cnt),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
             |    CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_bounce FROM sz),
             |med AS (SELECT MIN(n_events) AS med_events FROM cum, tot
             |  WHERE cum >= (n_sessions + 1) // 2)
             |SELECT n_sessions, n_bounce,
             |  (n_bounce * 10000) // n_sessions AS bounce_bp, med_events
             |FROM tot, med""".stripMargin)),

    // Tabular drift table (the PSI / population-stability shape —
    // tabular counterpart of q136's embedding drift): EXACT deciles
    // of the BASELINE period (events before the q142 cutoff) become
    // the bucket boundaries both periods are scored against; per
    // bucket, counts, basis-point shares, and the integer floor-log2
    // share ratio (the PSI log term, quantized the q98 way). Decile
    // boundaries come from per-value counts + the distributed prefix
    // sum; assignment is a 9-element broadcast boundary array probed
    // per row — no per-row window, no second sort.
    Q("q146_psi_drift",
      (s, dir) => {
        val cut = lit("2024-01-16 00:00:00").cast(TimestampType)
        val ev = Tables.wide(s, dir, "events")
          .select(col("ts"), expr(MicroUs).as("v"))
          .withColumn("period", when(col("ts") < cut, "a").otherwise("b"))
        // ONE corpus pass builds the per-value × period cell table;
        // totals, decile bounds, AND the bucket counts all fold from
        // it (the bucket assignment previously re-scanned the corpus)
        val cells = ev.groupBy(col("v"))
          .agg(sum(when(col("period") === "a", 1L).otherwise(0L))
            .cast(LongType).as("ca"),
            sum(when(col("period") === "b", 1L).otherwise(0L))
              .cast(LongType).as("cb"))
          .localCheckpoint(eager = false)
        // LocalExact hybrid: bounds + buckets + shares in one sorted
        // sequential pass over the domain-bounded cells
        val localOut = graft.operators.LocalExact(cells,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("bucket", LongType),
            org.apache.spark.sql.types.StructField("c_a", LongType),
            org.apache.spark.sql.types.StructField("c_b", LongType),
            org.apache.spark.sql.types.StructField("share_a_bp", LongType),
            org.apache.spark.sql.types.StructField("share_b_bp", LongType),
            org.apache.spark.sql.types.StructField("log2r_fl2", LongType))),
          5000000L) { it =>
          import java.math.BigInteger
          val rows = it.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .toArray.sortBy(_._1)
          val nA = rows.map(_._2).sum
          val nB = rows.map(_._3).sum
          if (nA == 0 || nB == 0) Iterator.empty
          else {
            // decile bounds over period-a cells: first v whose prior
            // cumA < target ≤ new cumA (ca = 0 cells can't hit)
            val targets = (1 to 9).map(k => (k.toLong * nA + 9) / 10)
            val bounds = scala.collection.mutable.ArrayBuffer.empty[Long]
            var cumA = 0L
            var k = 0
            rows.foreach { case (v, ca, _) =>
              if (ca > 0) {
                val prev = cumA
                cumA += ca
                while (k < 9 && prev < targets(k) && targets(k) <= cumA) {
                  bounds += v; k += 1
                }
              }
            }
            val bnd = bounds.sorted.toArray
            val cA = new Array[Long](10)
            val cB = new Array[Long](10)
            rows.foreach { case (v, ca, cb) =>
              var b = 0
              while (b < bnd.length && v >= bnd(b)) b += 1
              cA(b) += ca; cB(b) += cb
            }
            (0 to 9).iterator.filter(b => cA(b) + cB(b) > 0L).map { b =>
              val q = BigInteger.valueOf(cB(b))
                .multiply(BigInteger.valueOf(nA))
                .multiply(BigInteger.valueOf(1048576L))
                .divide(BigInteger.valueOf(math.max(cA(b), 1L))
                  .multiply(BigInteger.valueOf(nB)))
              val fl2 = q.max(BigInteger.ONE).bitLength() - 1
              org.apache.spark.sql.Row(b.toLong, cA(b), cB(b),
                cA(b) * 10000L / nA, cB(b) * 10000L / nB, fl2.toLong - 20L)
            }
          }
        }
        localOut.getOrElse {
        val aCnt = cells.filter(col("ca") > 0L)
          .select(col("v"), col("ca").as("c"))
        val cum = graft.operators.PrefixSum(aCnt, "v", "c")
        val tots = cells.groupBy()
          .agg(sum(col("ca")).cast(LongType).as("n_a"),
            sum(col("cb")).cast(LongType).as("n_b"))
        val nA = tots.select(col("n_a"))
        val bounds = cum.crossJoin(broadcast(nA))
          .select(col("v"), explode(expr(
            """filter(transform(sequence(1, 9),
              |  k -> named_struct('k', k, 'hit',
              |    cum - c < (k * n_a + 9) div 10 AND
              |    cum >= (k * n_a + 9) div 10)), x -> x.hit)""".stripMargin))
            .as("s"))
          .select(col("s.k").as("k"), col("v"))
          .groupBy(col("k")).agg(min(col("v")).as("b"))
          .agg(sort_array(collect_list(col("b"))).as("bnd"))
        val bucketed = cells.crossJoin(broadcast(bounds))
          .withColumn("bucket",
            expr("size(filter(bnd, x -> v >= x))").cast(LongType))
          .groupBy(col("bucket"))
          .agg(sum(col("ca")).cast(LongType).as("c_a"),
            sum(col("cb")).cast(LongType).as("c_b"))
        bucketed.crossJoin(broadcast(tots))
          .withColumn("share_a_bp", expr("(c_a * 10000) div n_a"))
          .withColumn("share_b_bp", expr("(c_b * 10000) div n_b"))
          .withColumn("log2r_fl2", (length(bin(greatest(expr(
            "CAST((CAST(c_b AS DECIMAL(38,0)) * n_a * 1048576) div (greatest(c_a, 1L) * n_b) AS BIGINT)"),
            lit(1L)))) - 1).cast(LongType) - 20)
          .select(col("bucket"), col("c_a"), col("c_b"),
            col("share_a_bp"), col("share_b_bp"), col("log2r_fl2"))
        }.orderBy(col("bucket"))
      },
      Some("""WITH ev AS (SELECT
             |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
             |      THEN 'a' ELSE 'b' END AS period,
             |    CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
             |ac AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM ev WHERE period = 'a' GROUP BY 1),
             |cum AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum FROM ac),
             |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a
             |  FROM ev WHERE period = 'a'),
             |bs AS (SELECT k, MIN(v) AS b
             |  FROM cum, na, unnest(range(1, 10)) AS u(k)
             |  WHERE cum - c < (k * n_a + 9) // 10
             |    AND cum >= (k * n_a + 9) // 10
             |  GROUP BY k),
             |bnd AS (SELECT list_sort(list(b)) AS bnd FROM bs),
             |bk AS (SELECT period,
             |    CAST(len(list_filter(bnd, x -> v >= x)) AS BIGINT) AS bucket
             |  FROM ev, bnd),
             |cb AS (SELECT bucket,
             |    CAST(SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS c_a,
             |    CAST(SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS c_b
             |  FROM bk GROUP BY bucket),
             |tt AS (SELECT CAST(SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_b FROM ev)
             |SELECT bucket, c_a, c_b,
             |  (c_a * 10000) // n_a AS share_a_bp,
             |  (c_b * 10000) // n_b AS share_b_bp,
             |  CAST(length(bin(GREATEST(
             |    CAST((CAST(c_b AS HUGEINT) * n_a * 1048576)
             |      // (GREATEST(c_a, 1) * n_b) AS BIGINT), 1))) - 1 - 20
             |    AS BIGINT) AS log2r_fl2
             |FROM cb, tt ORDER BY bucket""".stripMargin)),

    // 7-day rolling revenue per user — a RANGE-frame window (value-
    // based, µs-exact) rather than the registry's row/tumbling
    // windows: every purchase sees the sum/count of that user's
    // purchases in the trailing 7×86400 s. One shuffle on user_id;
    // the frame is value-bounded so state per key is the window's
    // row span, not the history.
    Q("q147_rolling_revenue",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("t_us"))
          .rangeBetween(-604799999999L, 0L)
        Tables(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("t_us"), expr(MicroUs).as("v_us"))
          .withColumn("roll_n", count(lit(1)).over(w).cast(LongType))
          .withColumn("roll_us", sum(col("v_us")).over(w).cast(LongType))
          .select(col("event_id"), col("user_id"), col("roll_n"),
            col("roll_us"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
             |  CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
             |  CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) OVER w
             |    AS BIGINT) AS roll_us
             |FROM events WHERE event_type = 'purchase'
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |  RANGE BETWEEN 604799999999 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // Cumulative distinct users by day — the growth-curve query naive
    // SQL computes with a per-day COUNT(DISTINCT ... WHERE d <= day)
    // rescan (quadratic in days). The engine form: distinct is
    // converted ONCE into per-user first-seen dates (shuffle on
    // user_id), then new-user counts roll up with a cumulative sum
    // over the DAY DOMAIN (a calendar-bounded window, ~30 rows here;
    // never corpus-sized). One corpus pass total.
    Q("q148_cumulative_distinct",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("d"))
        val nu = ev.groupBy(col("user_id")).agg(min(col("d")).as("d"))
          .groupBy(col("d")).agg(count(lit(1)).cast(LongType).as("new_users"))
        ev.select(col("d")).distinct()
          .join(nu, Seq("d"), "left")
          .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
          .withColumn("cum_users",
            sum(col("new_users")).over(
              Window.orderBy(col("d"))
                .rowsBetween(Window.unboundedPreceding, 0))
              .cast(LongType))
          .orderBy(col("d"))
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
             |fs AS (SELECT user_id, MIN(d) AS d FROM ev GROUP BY 1),
             |nu AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users
             |  FROM fs GROUP BY 1),
             |days AS (SELECT DISTINCT d FROM ev)
             |SELECT d, COALESCE(new_users, 0) AS new_users,
             |  CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY d
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum_users
             |FROM days LEFT JOIN nu USING (d)
             |ORDER BY d""".stripMargin)),

    // Burst detection over the DENSE hour spine (q124's generated
    // spine — missing hours count as zero; detecting bursts on only
    // the observed hours silently inflates the trailing baseline): an
    // hour is a burst when its count exceeds 3.5× the trailing-7-hour
    // mean, i.e. the exact integer test c·7 > 2·Σ(prev 7h) — and at
    // least 7 prior spine hours exist. Shape: hourly wordcount, 1-row
    // bounds broadcast → spine, per-type lag-frame window over the
    // calendar-bounded dense series.
    Q("q149_burst_hours",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        val hc = ev.groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).cast(LongType).as("c"))
        val bounds = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        val spine = hc.select(col("event_type")).distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"),
            explode(expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("h"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        val dense = spine.join(hc, Seq("event_type", "h"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
          .withColumn("prev7", coalesce(sum(col("c")).over(
            w.rowsBetween(-7, -1)), lit(0L)).cast(LongType))
          .withColumn("rn", row_number().over(w))
        dense.filter(col("rn") > 7 && col("c") * 7 > col("prev7") * 2)
          .select(col("event_type"), col("h").as("hour_start"),
            col("c"), col("prev7"))
          .orderBy(col("event_type"), col("hour_start"))
      },
      Some("""WITH e AS (SELECT event_type,
             |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
             |hc AS (SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM e GROUP BY 1, 2),
             |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e),
             |t AS (SELECT DISTINCT event_type FROM hc),
             |spine AS (SELECT event_type,
             |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
             |  FROM t, b),
             |dense AS (SELECT s.event_type, s.h, COALESCE(c, 0) AS c
             |  FROM spine s LEFT JOIN hc ON s.event_type = hc.event_type
             |    AND s.h = hc.h),
             |wd AS (SELECT event_type, h, c,
             |    CAST(COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY h
             |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS prev7,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
             |  FROM dense)
             |SELECT event_type, h AS hour_start, c, prev7
             |FROM wd WHERE rn > 7 AND c * 7 > prev7 * 2
             |ORDER BY event_type, hour_start""".stripMargin)),

    // Maximum concurrency (sweep line): how many 30-min sessions
    // (q16's definition) overlap at the busiest instant, and when is
    // it first reached? Interval endpoints become ±1 deltas, ties
    // collapse in a per-timestamp aggregate (making the order key
    // unique), and the running concurrency is the DISTRIBUTED prefix
    // sum over endpoint time — the classic O(n log n) sweep with no
    // single-task scan. µs-exact: the −1 lands at end+1µs so
    // inclusive-end overlaps count.
    Q("q150_max_concurrency",
      (s, dir) => {
        // LocalExact hybrid over the RAW events (r15; the r14 shape
        // kerneled only the final boundary scan, so build still paid
        // the sessionize window + delta aggregate as 5 serial one-task
        // AQE stage-jobs — FloorProbe read build 0.65 s of a 0.92 s
        // total). Sub-threshold, ONE kernel does sessionize (same
        // floor-seconds gap rule as operators.Sessionize, same
        // (ts, event_id) tie order) + the endpoint sweep; ties in the
        // sweep collapse per unique timestamp before the comparison,
        // exactly like the distributed groupBy(t) + min(t)-at-max.
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"))
        val localOut = graft.operators.LocalExact(ev,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("max_concurrent", LongType),
            org.apache.spark.sql.types.StructField("at_us", LongType))),
          5000000L) { it =>
          val rows = it.map { r =>
            val ts = r.getTimestamp(1)
            val us = Math.floorDiv(ts.getTime, 1000L) * 1000000L +
              ts.getNanos / 1000L
            (r.getLong(0), us, r.getLong(2))
          }.toArray
          if (rows.isEmpty) Iterator.empty
          else {
            scala.util.Sorting.quickSort(rows)
            // session boundaries: +1 at start, -1 at end+1µs
            val bts = new scala.collection.mutable.ArrayBuffer[Long]()
            val bdv = new scala.collection.mutable.ArrayBuffer[Int]()
            var i = 0
            var user = rows(0)._1
            var start = rows(0)._2
            var prev = rows(0)._2
            def close(endUs: Long): Unit = {
              bts += start; bdv += 1
              bts += endUs + 1L; bdv += -1
            }
            i = 1
            while (i < rows.length) {
              val (u, t, _) = rows(i)
              if (u != user ||
                  Math.floorDiv(t, 1000000L) - Math.floorDiv(prev, 1000000L) > 1800L) {
                close(prev); user = u; start = t
              }
              prev = t
              i += 1
            }
            close(prev)
            val ord = Array.tabulate(bts.length)(j => (bts(j), bdv(j)))
            scala.util.Sorting.quickSort(ord)
            var cum = 0L
            var best = Long.MinValue
            var at = 0L
            var j = 0
            while (j < ord.length) {
              val t = ord(j)._1
              var net = 0L
              while (j < ord.length && ord(j)._1 == t) { net += ord(j)._2; j += 1 }
              cum += net
              if (cum > best) { best = cum; at = t }
            }
            Iterator(org.apache.spark.sql.Row(best, at))
          }
        }
        localOut.getOrElse {
          val sess = graft.operators.Sessionize(
            Tables(s, dir, "events"), "user_id", "ts", "event_id", 1800L)
          // one pass over the sessionize window: exploding (+1 at
          // start, -1 past end) per row beats a union of two selects,
          // which executes the user-keyed window twice (exchange reuse
          // dedups only the shuffle, not the window compute)
          val deltas = sess
            .select(explode(array(
              struct(unix_micros(col("session_start")).as("t"),
                lit(1L).as("dv")),
              struct((unix_micros(col("session_end")) + 1).as("t"),
                lit(-1L).as("dv")))).as("x"))
            .select(col("x.t").as("t"), col("x.dv").as("dv"))
          val net = deltas.groupBy(col("t"))
            .agg(sum(col("dv")).cast(LongType).as("net"))
            .localCheckpoint(eager = false)
          val run = graft.operators.PrefixSum(net, "t", "net", "conc")
          val mx = run.agg(max(col("conc")).cast(LongType).as("max_concurrent"))
          run.join(broadcast(mx), col("conc") === col("max_concurrent"))
            .groupBy(col("max_concurrent"))
            .agg(min(col("t")).as("at_us"))
            .select(col("max_concurrent"), col("at_us"))
        }
      },
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t
             |  FROM events),
             |lagd AS (SELECT *, lag(t) OVER (PARTITION BY user_id
             |    ORDER BY t, event_id) AS pt FROM e),
             |flag AS (SELECT *, CASE WHEN pt IS NULL OR
             |    CAST(floor(epoch(t)) AS BIGINT) -
             |    CAST(floor(epoch(pt)) AS BIGINT) > 1800
             |  THEN 1 ELSE 0 END AS nf FROM lagd),
             |sess AS (SELECT *, SUM(nf) OVER (PARTITION BY user_id
             |    ORDER BY t, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sseq
             |  FROM flag),
             |sz AS (SELECT user_id, sseq, MIN(t) AS s0, MAX(t) AS s1
             |  FROM sess GROUP BY user_id, sseq),
             |d AS (SELECT epoch_us(s0) AS t, 1 AS dv FROM sz
             |  UNION ALL SELECT epoch_us(s1) + 1, -1 FROM sz),
             |net AS (SELECT t, CAST(SUM(dv) AS BIGINT) AS net
             |  FROM d GROUP BY t),
             |run AS (SELECT t, SUM(net) OVER (ORDER BY t) AS conc FROM net),
             |mx AS (SELECT CAST(MAX(conc) AS BIGINT) AS max_concurrent
             |  FROM run)
             |SELECT max_concurrent, MIN(t) AS at_us
             |FROM run JOIN mx ON conc = max_concurrent
             |GROUP BY max_concurrent""".stripMargin)),

    // RFM segmentation (Hughes 1994 — the classic recency/frequency/
    // monetary customer partition) with EXACT distributed terciles:
    // each dimension's bucket is (customers strictly below × 3) div N
    // — q122's decile rule per dimension, computed from per-value
    // counts + the distributed prefix sum (never a global ORDER BY
    // window over customers; the oracle uses exactly that obvious
    // RANK() formulation, proving the distributed plan against it).
    // Ties share a bucket in both engines by construction, and all
    // metrics are exact integers (µs timestamps, micro-unit money).
    // Shape at scale: the customer rollup is one shuffle; each
    // dimension's boundary table is value-domain-sized and joins back
    // on the value key; the 27-cell segment table aggregates
    // map-side. The same three-pipeline composition handles any
    // bucket count.
    Q("q155_rfm_segments",
      (s, dir) => {
        // materialized once: feeds the three bucket pipelines and the
        // final three-way join back
        val c = Tables(s, dir, "orders")
          .groupBy(col("o_custkey").as("ck"))
          .agg(max(unix_micros(col("o_orderdate"))).as("r"),
            count(lit(1)).cast(LongType).as("f"),
            sum(expr("CAST(round(o_totalprice * 1000000) AS BIGINT)"))
              .cast(LongType).as("m"))
          .localCheckpoint(eager = false)
        // LocalExact hybrid: below the customer threshold the three
        // rank-bucket assignments and the segment rollup run in one
        // sequential pass — same bucket rule b(v) = (3·|{values<v}|)
        // div n, Σm accumulated exactly (BigInt, the DECIMAL(38)
        // discipline of the distributed plan)
        val localOut = graft.operators.LocalExact(c,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("r_b", LongType),
            org.apache.spark.sql.types.StructField("f_b", LongType),
            org.apache.spark.sql.types.StructField("m_b", LongType),
            org.apache.spark.sql.types.StructField("n_cust", LongType),
            org.apache.spark.sql.types.StructField("avg_m_us", LongType))),
          5000000L) { it =>
          val rows = it.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toArray
          val n = rows.length.toLong
          def bucketOf(vs: Array[Long]): java.util.HashMap[Long, Long] = {
            val cnt = new java.util.TreeMap[Long, Long]()
            vs.foreach(v => cnt.merge(v, 1L, _ + _))
            val b = new java.util.HashMap[Long, Long]()
            var cumBefore = 0L
            cnt.forEach { (v, c0) =>
              b.put(v, (cumBefore * 3L) / n); cumBefore += c0
            }
            b
          }
          val (rb, fb, mb) = (bucketOf(rows.map(_._1)),
            bucketOf(rows.map(_._2)), bucketOf(rows.map(_._3)))
          val agg = new java.util.HashMap[(Long, Long, Long), (Long, BigInt)]()
          rows.foreach { case (r, f, m) =>
            val k = (rb.get(r), fb.get(f), mb.get(m))
            val cur = agg.getOrDefault(k, (0L, BigInt(0)))
            agg.put(k, (cur._1 + 1L, cur._2 + m))
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          agg.forEach { case ((r, f, m), (nc, sm)) =>
            out += org.apache.spark.sql.Row(r, f, m, nc, (sm / nc).toLong)
          }
          out.iterator
        }
        localOut.map(_.orderBy(col("r_b"), col("f_b"), col("m_b"))).getOrElse {
        val n = c.agg(count(lit(1)).cast(LongType).as("n"))
        // all three dimensions' per-value counts run through ONE
        // grouped prefix-sum machine (melt → count → grouped scan),
        // not three serialized PrefixSum pipelines — one sampling
        // job, one range exchange, one totals stage for r/f/m
        // together. Lazy-checkpointed because the three bucket
        // tables below re-filter it by dimension.
        val g3 = c.select(explode(array(
            struct(lit("r").as("d"), col("r").as("v")),
            struct(lit("f").as("d"), col("f").as("v")),
            struct(lit("m").as("d"), col("m").as("v")))).as("x"))
          .groupBy(col("x.d").as("d"), col("x.v").as("v"))
          .agg(count(lit(1)).cast(LongType).as("c"))
        val cum3 = graft.operators.PrefixSum.grouped(g3, "d", "v", "c")
          .crossJoin(broadcast(n))
          .select(col("d"), col("v"), expr("((cum - c) * 3) div n").as("b"))
          .localCheckpoint(eager = false)
        def buckets(dim: String): org.apache.spark.sql.DataFrame =
          cum3.filter(col("d") === dim)
            .select(col("v").as(dim), col("b").as(s"${dim}_b"))
        c.join(buckets("r"), "r")
          .join(buckets("f"), "f")
          .join(buckets("m"), "m")
          .groupBy(col("r_b"), col("f_b"), col("m_b"))
          .agg(count(lit(1)).cast(LongType).as("n_cust"),
            // decimal sum: Σm in micro-units can pass 2⁶³ at corpus
            // scale (the NgramLm.scala:116 discipline); DuckDB's
            // SUM(BIGINT) promotes to HUGEINT on its own
            expr("CAST(sum(CAST(m AS DECIMAL(38,0))) div count(1) AS BIGINT)")
              .as("avg_m_us"))
          .orderBy(col("r_b"), col("f_b"), col("m_b"))
        }
      },
      Some("""WITH c AS (SELECT o_custkey AS ck,
             |    epoch_us(MAX(o_orderdate)) AS r,
             |    CAST(COUNT(*) AS BIGINT) AS f,
             |    CAST(SUM(CAST(round(o_totalprice * 1000000) AS BIGINT))
             |      AS BIGINT) AS m
             |  FROM orders GROUP BY o_custkey),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
             |b AS (SELECT ck, m,
             |    ((RANK() OVER (ORDER BY r) - 1) * 3) // n.n AS r_b,
             |    ((RANK() OVER (ORDER BY f) - 1) * 3) // n.n AS f_b,
             |    ((RANK() OVER (ORDER BY m) - 1) * 3) // n.n AS m_b
             |  FROM c, n)
             |SELECT r_b, f_b, m_b, CAST(COUNT(*) AS BIGINT) AS n_cust,
             |  CAST(SUM(m) // COUNT(*) AS BIGINT) AS avg_m_us
             |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Shuffle-key skew audit — the pre-flight check an engine runs
    // BEFORE keying a 100 TB shuffle: hash every candidate key into
    // the 32 buckets a shuffle would use (the md5 bucket convention
    // the q71 splits already pin across engines) and report each
    // bucket's row load, key count, and single heaviest key — the
    // exact evidence that decides between plain shuffle, salting
    // (q48), and AQE skew splitting. Audited over a genuinely skewed
    // key (event_type: ~5 values, one bucket takes the hot type's
    // full mass) and a uniform one (user_id) side by side, so the
    // output demonstrates both verdicts. Scale shape: one map-side-
    // combined per-key count is the only corpus pass (the wordcount
    // discipline — the audit never shuffles raw rows); everything
    // after runs on the key-cardinality table; heavy hitter per
    // bucket via one min(struct) aggregate, ties to the smaller key.
    Q("q160_skew_audit",
      (s, dir) => {
        def audit(keyCol: String): DataFrame =
          Tables(s, dir, "events")
            .groupBy(col(keyCol).cast(StringType).as("k"))
            .agg(count(lit(1)).cast(LongType).as("c"))
            .withColumn("bucket",
              pmod(graft.operators.Dedup.md5Int32(col("k")), lit(32))
                .cast(LongType))
            .groupBy(col("bucket"))
            .agg(sum(col("c")).cast(LongType).as("n_rows"),
              count(lit(1)).cast(LongType).as("n_keys"),
              min(struct((-col("c")).as("nc"), col("k").as("k"))).as("m"))
            .select(lit(keyCol).as("audit_key"), col("bucket"),
              col("n_rows"), col("n_keys"), col("m.k").as("top_key"),
              (-col("m.nc")).cast(LongType).as("top_key_rows"))
        audit("event_type").unionAll(audit("user_id"))
          .orderBy(col("audit_key"), col("bucket"))
      },
      Some("""WITH a1 AS (SELECT CAST(event_type AS VARCHAR) AS k,
             |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
             |b1 AS (SELECT ('0x' || substr(md5(k), 1, 8))::BIGINT % 32 AS bucket,
             |    k, c FROM a1),
             |g1 AS (SELECT 'event_type' AS audit_key, bucket,
             |    CAST(SUM(c) AS BIGINT) AS n_rows,
             |    CAST(COUNT(*) AS BIGINT) AS n_keys,
             |    min({'nc': -c, 'k': k}).k AS top_key,
             |    CAST(MAX(c) AS BIGINT) AS top_key_rows
             |  FROM b1 GROUP BY bucket),
             |a2 AS (SELECT CAST(user_id AS VARCHAR) AS k,
             |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
             |b2 AS (SELECT ('0x' || substr(md5(k), 1, 8))::BIGINT % 32 AS bucket,
             |    k, c FROM a2),
             |g2 AS (SELECT 'user_id' AS audit_key, bucket,
             |    CAST(SUM(c) AS BIGINT) AS n_rows,
             |    CAST(COUNT(*) AS BIGINT) AS n_keys,
             |    min({'nc': -c, 'k': k}).k AS top_key,
             |    CAST(MAX(c) AS BIGINT) AS top_key_rows
             |  FROM b2 GROUP BY bucket)
             |SELECT * FROM g1 UNION ALL SELECT * FROM g2
             |ORDER BY audit_key, bucket""".stripMargin))
  )
}
