package graft.queries

import graft.functions.GeoFns
import graft.operators.GeoRadiusJoin
import graft.plans.TopKPhysical
import graft.util.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Geospatial surface: the reference's PostGIS radius join / top-k
  * enrichment / walkability+premium aggregates (cl_test1.py:66-296)
  * re-expressed as one distributed job over ALL properties (vs the
  * reference's per-property SQL round-trips). The test tables carry no
  * coordinates, so both sides derive deterministic synthetic coords
  * from integer keys (GeoFns.synthLat/synthLon — trivially mirrored in
  * the oracle).
  *
  * The Spark side uses the grid-cell prefilter join (GeoRadiusJoin);
  * the oracle brute-forces the cross join — feasible at sf0.01, which
  * is exactly the point: the operator scales, the oracle checks it.
  */
object GeoQueries {

  /** Shared SQL fragments (kept in one place so every geo oracle uses
    * the identical formula). */
  private val custCoords =
    """SELECT c_custkey,
      |  9.6 + CAST(c_custkey % 1000 AS DOUBLE) * 0.0008 AS c_lat,
      |  -84.3 + CAST((c_custkey * 7) % 1000 AS DOUBLE) * 0.0008 AS c_lon
      |FROM customer""".stripMargin

  private val suppCoords =
    """SELECT s_suppkey, s_acctbal, s_nationkey,
      |  9.6 + CAST(s_suppkey % 1000 AS DOUBLE) * 0.0008 AS s_lat,
      |  -84.3 + CAST((s_suppkey * 7) % 1000 AS DOUBLE) * 0.0008 AS s_lon
      |FROM supplier""".stripMargin

  /** DuckDB haversine km, the GeoFns.haversineKm formula (shared by
    * every geo oracle). */
  private[queries] def havSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""(6371.0 * (2 * atan2(
       |  sqrt(sin(radians($lat2 - $lat1) / 2) * sin(radians($lat2 - $lat1) / 2)
       |    + cos(radians($lat1)) * cos(radians($lat2))
       |      * (sin(radians($lon2 - $lon1) / 2) * sin(radians($lon2 - $lon1) / 2))),
       |  sqrt(1 - (sin(radians($lat2 - $lat1) / 2) * sin(radians($lat2 - $lat1) / 2)
       |    + cos(radians($lat1)) * cos(radians($lat2))
       |      * (sin(radians($lon2 - $lon1) / 2) * sin(radians($lon2 - $lon1) / 2)))))))""".stripMargin

  private[queries] def customers(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select(col("c_custkey"),
      GeoFns.synthLat(col("c_custkey")).as("c_lat"),
      GeoFns.synthLon(col("c_custkey")).as("c_lon"))

  private[queries] def suppliers(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "supplier").select(col("s_suppkey"), col("s_acctbal"), col("s_nationkey"),
      GeoFns.synthLat(col("s_suppkey")).as("s_lat"),
      GeoFns.synthLon(col("s_suppkey")).as("s_lon"))

  val all: Seq[Q] = Seq(

    // J1: spatial radius join (ST_DWithin analog), pairs only — the
    // cell-bucketed join must produce exactly the brute-force set.
    Q("q28_radius_join",
      (s, dir) => GeoRadiusJoin(
        customers(s, dir), suppliers(s, dir),
        "c_lat", "c_lon", "s_lat", "s_lon", radiusKm = 2.0)
        .select(col("c_custkey"), col("s_suppkey"))
        .orderBy(col("c_custkey"), col("s_suppkey")),
      Some(s"""WITH c AS ($custCoords), s AS ($suppCoords)
             |SELECT c_custkey, s_suppkey
             |FROM c, s
             |WHERE ${havSql("c_lat", "c_lon", "s_lat", "s_lon")} <= 2.0
             |ORDER BY c_custkey, s_suppkey""".stripMargin),
      headline = true),

    // T1: per-property top-k nearest by (distance asc, key asc) —
    // the lead-prep ORDER BY distance LIMIT n, one window for all
    // properties. Distance exported rounded (trig ulps differ across
    // engines; ranking unaffected at these magnitudes).
    Q("q29_nearest_topk",
      (s, dir) => {
        val joined = GeoRadiusJoin(
          customers(s, dir), suppliers(s, dir),
          "c_lat", "c_lon", "s_lat", "s_lon", radiusKm = 5.0)
        TopKPhysical.topK(joined, Seq("c_custkey"),
          Seq(("dist_km", true), ("s_suppkey", true)), k = 3)
          .select(col("c_custkey"), col("s_suppkey"),
            round(col("dist_km"), 6).as("dist_km"), col("rnk"))
          .orderBy(col("c_custkey"), col("rnk"))
      },
      Some(s"""WITH c AS ($custCoords), s AS ($suppCoords),
             |d AS (SELECT c_custkey, s_suppkey,
             |    ${havSql("c_lat", "c_lon", "s_lat", "s_lon")} AS dist_km
             |  FROM c, s
             |  WHERE ${havSql("c_lat", "c_lon", "s_lat", "s_lon")} <= 5.0)
             |SELECT c_custkey, s_suppkey, round(dist_km, 6) AS dist_km, rnk FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
             |    ORDER BY dist_km, s_suppkey) AS rnk FROM d) t
             |WHERE rnk <= 3 ORDER BY c_custkey, rnk""".stripMargin)),

    // A2/A3: walkability score + premium-zone boolean aggregate per
    // property (cl_test1.py:227-272) over the 2 km neighborhood.
    Q("q30_walkability",
      (s, dir) => {
        val joined = GeoRadiusJoin(
          customers(s, dir), suppliers(s, dir),
          "c_lat", "c_lon", "s_lat", "s_lon", radiusKm = 2.0)
        val agg = joined.groupBy(col("c_custkey"))
          .agg(
            count(lit(1)).as("n_nearby"),
            sum(when(col("dist_km") <= 1.0, 1).otherwise(0)).as("n_walkable"),
            max(when(col("dist_km") <= 1.0 && col("s_acctbal") > 5000, 1).otherwise(0))
              .as("has_premium_near"),
            max(when(col("s_nationkey") % 5 === 0, 1).otherwise(0)).as("has_anchor"))
        customers(s, dir).join(agg, Seq("c_custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("n_nearby"), lit(0L)).as("n_nearby"),
            least(lit(10L), floor(coalesce(col("n_walkable"), lit(0L)) / lit(2.0)).cast(LongType))
              .as("walk_score"),
            when(coalesce(col("n_walkable"), lit(0L)) >= 10, "high")
              .when(coalesce(col("n_walkable"), lit(0L)) >= 4, "medium")
              .otherwise("low").as("walk_label"),
            (coalesce(col("has_premium_near"), lit(0)) === 1 &&
              coalesce(col("has_anchor"), lit(0)) === 1).cast(IntegerType).as("is_premium"))
          .orderBy(col("c_custkey"))
      },
      Some(s"""WITH c AS ($custCoords), s AS ($suppCoords),
             |d AS (SELECT c_custkey, s_suppkey, s_acctbal, s_nationkey,
             |    ${havSql("c_lat", "c_lon", "s_lat", "s_lon")} AS dist_km
             |  FROM c, s
             |  WHERE ${havSql("c_lat", "c_lon", "s_lat", "s_lon")} <= 2.0),
             |agg AS (SELECT c_custkey, COUNT(*) AS n_nearby,
             |    SUM(CASE WHEN dist_km <= 1.0 THEN 1 ELSE 0 END) AS n_walkable,
             |    MAX(CASE WHEN dist_km <= 1.0 AND s_acctbal > 5000 THEN 1 ELSE 0 END) AS has_premium_near,
             |    MAX(CASE WHEN s_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS has_anchor
             |  FROM d GROUP BY c_custkey)
             |SELECT c.c_custkey,
             |  COALESCE(n_nearby, 0) AS n_nearby,
             |  least(10, CAST(floor(COALESCE(n_walkable, 0) / 2.0) AS BIGINT)) AS walk_score,
             |  CASE WHEN COALESCE(n_walkable, 0) >= 10 THEN 'high'
             |       WHEN COALESCE(n_walkable, 0) >= 4 THEN 'medium'
             |       ELSE 'low' END AS walk_label,
             |  CAST(COALESCE(has_premium_near, 0) = 1 AND COALESCE(has_anchor, 0) = 1 AS INT) AS is_premium
             |FROM c LEFT JOIN agg ON c.c_custkey = agg.c_custkey
             |ORDER BY c.c_custkey""".stripMargin),
      headline = true),

    // Point-in-polygon containment join — the PostGIS ST_Contains /
    // zone-assignment operator (which delivery zone / admin region /
    // geofence holds each point), the spatial-join class the radius
    // join (J1) doesn't cover. EXACT integer geometry: coordinates
    // are micro-degrees (the synthLat/synthLon formulas ×1e6 — pure
    // integer arithmetic, no doubles anywhere), polygons are eight
    // deterministic integer octagons generated from a closed formula,
    // and containment is the even-odd ray-casting rule (Shimrat 1962,
    // CACM alg. 112) with the crossing test cross-multiplied so no
    // division or float ever occurs — the two engines agree
    // bit-for-bit even for boundary points. Scale shape: the polygon
    // set (vertices → edge arrays) is dimension-sized and BROADCAST;
    // candidates come from a bbox prefilter (the q28 grid-prefilter
    // discipline — the exact ray cast touches only bbox hits, and
    // n_cand in the output keeps the prefilter selectivity observable);
    // the exact test is one codegen aggregate over the ≤8-edge array
    // per candidate; the rollup is map-side combined to ≤|polygons|
    // rows. At 100 TB with many polygons the broadcast becomes the
    // q28 grid-cell equi-join on bbox cells — same pipeline shape.
    Q("q161_polygon_join",
      (s, dir) => {
        val polys = s.range(8).select(col("id").cast(LongType).as("p"))
          .withColumn("cx",
            lit(-84300000L) + ((col("p") * 131) % 900) * 800 + 40000)
          .withColumn("cy",
            lit(9600000L) + ((col("p") * 197) % 900) * 800 + 40000)
          .withColumn("r", lit(30000L) + col("p") * 20000)
          .withColumn("a", expr("(r * 7) div 10"))
          .withColumn("vs", expr(
            "array(struct(cx + r AS x, cy AS y), struct(cx + a AS x, cy + a AS y), " +
              "struct(cx AS x, cy + r AS y), struct(cx - a AS x, cy + a AS y), " +
              "struct(cx - r AS x, cy AS y), struct(cx - a AS x, cy - a AS y), " +
              "struct(cx AS x, cy - r AS y), struct(cx + a AS x, cy - a AS y))"))
          .withColumn("edges", expr(
            "transform(sequence(0, 7), i -> struct(vs[i].x AS x1, vs[i].y AS y1, " +
              "vs[(i + 1) % 8].x AS x2, vs[(i + 1) % 8].y AS y2))"))
          .select(col("p"), col("cx"), col("cy"), col("r"), col("edges"))
        val pts = Tables(s, dir, "customer").select(
          col("c_custkey").as("ck"),
          (lit(-84300000L) + ((col("c_custkey") * 7) % 1000) * 800).as("x"),
          (lit(9600000L) + (col("c_custkey") % 1000) * 800).as("y"))
        pts.join(broadcast(polys),
            col("x").between(col("cx") - col("r"), col("cx") + col("r")) &&
              col("y").between(col("cy") - col("r"), col("cy") + col("r")))
          .withColumn("ncross", expr(
            "aggregate(edges, CAST(0 AS BIGINT), (acc, e) -> acc + " +
              "(CASE WHEN ((e.y1 > y) != (e.y2 > y)) AND " +
              "(((e.x2 - e.x1) * (y - e.y1) - (x - e.x1) * (e.y2 - e.y1) > 0) " +
              "= (e.y2 > e.y1)) THEN 1 ELSE 0 END))"))
          .groupBy(col("p"))
          .agg(count(lit(1)).cast(LongType).as("n_cand"),
            sum(col("ncross") % 2).cast(LongType).as("n_inside"),
            sum(when(col("ncross") % 2 === 1, col("ck")).otherwise(0L))
              .cast(LongType).as("sum_ck_inside"))
          .orderBy(col("p"))
      },
      Some("""WITH pl0 AS (SELECT CAST(v AS BIGINT) AS p
             |  FROM (SELECT 1 AS one) dummy, unnest(range(0, 8)) AS z(v)),
             |pl1 AS (SELECT p,
             |    -84300000 + ((p * 131) % 900) * 800 + 40000 AS cx,
             |    9600000 + ((p * 197) % 900) * 800 + 40000 AS cy,
             |    30000 + p * 20000 AS r
             |  FROM pl0),
             |pl AS (SELECT p, cx, cy, r, (r * 7) // 10 AS a FROM pl1),
             |vs AS (SELECT p, cx, cy, r, v,
             |    CASE v WHEN 0 THEN cx + r WHEN 1 THEN cx + a WHEN 2 THEN cx
             |      WHEN 3 THEN cx - a WHEN 4 THEN cx - r WHEN 5 THEN cx - a
             |      WHEN 6 THEN cx WHEN 7 THEN cx + a END AS vx,
             |    CASE v WHEN 0 THEN cy WHEN 1 THEN cy + a WHEN 2 THEN cy + r
             |      WHEN 3 THEN cy + a WHEN 4 THEN cy WHEN 5 THEN cy - a
             |      WHEN 6 THEN cy - r WHEN 7 THEN cy - a END AS vy
             |  FROM pl, unnest(range(0, 8)) AS u(v)),
             |ed AS (SELECT a.p, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
             |  FROM vs a JOIN vs b ON a.p = b.p AND b.v = (a.v + 1) % 8),
             |pt AS (SELECT c_custkey AS ck,
             |    -84300000 + ((c_custkey * 7) % 1000) * 800 AS x,
             |    9600000 + (c_custkey % 1000) * 800 AS y
             |  FROM customer),
             |cand AS (SELECT pl.p, pt.ck, pt.x, pt.y
             |  FROM pt JOIN pl ON pt.x BETWEEN pl.cx - pl.r AND pl.cx + pl.r
             |    AND pt.y BETWEEN pl.cy - pl.r AND pl.cy + pl.r),
             |cr AS (SELECT c.p, c.ck,
             |    CAST(SUM(CASE WHEN ((y1 > c.y) != (y2 > c.y))
             |      AND (((x2 - x1) * (c.y - y1) - (c.x - x1) * (y2 - y1) > 0)
             |        = (y2 > y1)) THEN 1 ELSE 0 END) AS BIGINT) AS ncross
             |  FROM cand c JOIN ed ON ed.p = c.p GROUP BY 1, 2)
             |SELECT p, CAST(COUNT(*) AS BIGINT) AS n_cand,
             |  CAST(SUM(ncross % 2) AS BIGINT) AS n_inside,
             |  CAST(SUM(CASE WHEN ncross % 2 = 1 THEN ck ELSE 0 END) AS BIGINT)
             |    AS sum_ck_inside
             |FROM cr GROUP BY p ORDER BY p""".stripMargin))
  )
}
