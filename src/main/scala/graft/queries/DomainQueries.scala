package graft.queries

import graft.functions.{DifflibRatio, TextFns}
import graft.operators.{ClusterUnify, TopKPerGroup}
import graft.util.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-domain operators over the test tables: OSM tag parsing +
  * POI quality scoring, spatial cluster unification (the transitive
  * dedup), JSON envelope assembly/explode round-trip, difflib brand
  * fuzzy matching, and the brand-config contrast calculator.
  */
object DomainQueries {
  import GeoQueries.havSql

  /** Fine-grained synthetic chains for cluster-unify: groups of ≤7
    * points 16.6 m apart (within the 25 m radius consecutively), groups
    * ~1.1 km apart — component diameter stays tiny at every scale
    * factor. Formula mirrored textually in the oracle. */
  private def chainPoints(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val g = ((k - (k % 7)) / 7).cast(LongType)
    val m = k % 7
    Tables(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"),
      (lit(9.6d) + (g % 1000).cast(DoubleType) * 0.01d +
        m.cast(DoubleType) * 0.00015d).as("lat"),
      (lit(-84.3d) + ((g * 7) % 1000).cast(DoubleType) * 0.01d).as("lon"))
  }

  private val chainPointsSql =
    """SELECT c_custkey, c_acctbal,
      |  9.6 + CAST((CAST((c_custkey - (c_custkey % 7)) / 7 AS BIGINT) % 1000) AS DOUBLE) * 0.01
      |      + CAST(c_custkey % 7 AS DOUBLE) * 0.00015 AS lat,
      |  -84.3 + CAST((CAST((c_custkey - (c_custkey % 7)) / 7 AS BIGINT) * 7 % 1000) AS DOUBLE) * 0.01 AS lon
      |FROM customer""".stripMargin

  val all: Seq[Q] = Seq(

    // F9 + A7: hstore-ish tag parsing (str_to_map + lowercased values,
    // process_pois.py:167-183) and the POI quality weighted sum
    // (process_pois.py:248-269) over synthesized tag strings.
    Q("q40_osm_tags",
      (s, dir) => {
        val raw = Tables(s, dir, "part").filter(col("p_partkey") <= 2000)
          .withColumn("other_tags",
            concat(lit("\"brand\"=>\""), col("p_brand"),
              lit("\",\"type\"=>\""), col("p_type"),
              lit("\",\"size\"=>\""), col("p_size").cast(StringType), lit("\"")))
        val m = transform_values(
          str_to_map(regexp_replace(col("other_tags"), "\"", ""), lit(","), lit("=>")),
          (_, v) => lower(v))
        raw.select(col("p_partkey"),
            element_at(m, "brand").as("tag_brand"),
            element_at(m, "type").as("tag_type"),
            size(map_filter(m, (k, _) => k.isin("brand", "type"))).as("meta_n"))
          .withColumn("quality_score",
            greatest(lit(0),
              when(col("tag_brand").isNotNull, 10).otherwise(0) +
                when(col("tag_type").contains("brass"), 5).otherwise(-5) +
                col("meta_n") * 3))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey,
             |  lower(p_brand) AS tag_brand,
             |  lower(p_type) AS tag_type,
             |  2 AS meta_n,
             |  greatest(0,
             |    CASE WHEN p_brand IS NOT NULL THEN 10 ELSE 0 END +
             |    CASE WHEN lower(p_type) LIKE '%brass%' THEN 5 ELSE -5 END +
             |    2 * 3) AS quality_score
             |FROM part WHERE p_partkey <= 2000 ORDER BY p_partkey""".stripMargin)),

    // J2 + A5: transitive spatial cluster unification (buffer/dissolve
    // analog, process_pois.py:396-426) + best-of-cluster reduction.
    // Oracle: recursive-CTE connected components over the same edges.
    Q("q41_cluster_unify",
      (s, dir) => {
        val pts = chainPoints(s, dir)
        val clustered = ClusterUnify(pts, "c_custkey", "lat", "lon", 0.025)
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        clustered
          .withColumn("_rn", row_number().over(w))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max(when(col("_rn") === 1, col("c_custkey"))).as("rep_custkey"),
            max(when(col("_rn") === 1, col("c_acctbal"))).as("best_acctbal"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE pts AS ($chainPointsSql),
             |edges AS (SELECT a.c_custkey AS ka, b.c_custkey AS kb
             |  FROM pts a, pts b
             |  WHERE a.c_custkey <> b.c_custkey
             |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 0.025),
             |reach(k, lbl) AS (
             |  SELECT c_custkey, c_custkey FROM pts
             |  UNION
             |  SELECT e.kb, r.lbl FROM reach r JOIN edges e ON e.ka = r.k WHERE r.lbl < e.kb),
             |comp AS (SELECT k, MIN(lbl) AS cluster_id FROM reach GROUP BY k),
             |j AS (SELECT p.c_custkey, p.c_acctbal, c.cluster_id
             |  FROM pts p JOIN comp c ON p.c_custkey = c.k),
             |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
             |    ORDER BY c_acctbal DESC, c_custkey) AS rn FROM j)
             |SELECT cluster_id, COUNT(*) AS n_members,
             |  MAX(CASE WHEN rn = 1 THEN c_custkey END) AS rep_custkey,
             |  MAX(CASE WHEN rn = 1 THEN c_acctbal END) AS best_acctbal
             |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),

    // S4/K4/K6: JSON envelope assembly (collect → to_json) then scan
    // (from_json → explode) — a full sink/source round-trip whose
    // parsed output must equal the direct relational result.
    Q("q42_json_envelope",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val n = Tables(s, dir, "nation")
        val top = TopKPerGroup(
          c.join(broadcast(n), c("c_nationkey") === n("n_nationkey")),
          Seq(col("n_name")), Seq(col("c_acctbal").desc, col("c_custkey")), 3)
        val env = top.groupBy(col("n_name"))
          .agg(to_json(struct(
            col("n_name").as("nation"),
            sort_array(collect_list(struct(col("rnk"), col("c_name")))).as("members")))
            .as("js"))
        val schema = StructType(Seq(
          StructField("nation", StringType),
          StructField("members", ArrayType(StructType(Seq(
            StructField("rnk", IntegerType), StructField("c_name", StringType)))))))
        env.select(from_json(col("js"), schema).as("e"))
          .select(col("e.nation").as("n_name"),
            explode(col("e.members")).as("m"))
          .select(col("n_name"), col("m.rnk").as("rnk"), col("m.c_name").as("c_name"))
          .orderBy(col("n_name"), col("rnk"))
      },
      Some("""SELECT n_name, rnk, c_name FROM (
             |  SELECT n_name, c_name,
             |    ROW_NUMBER() OVER (PARTITION BY n_name
             |      ORDER BY c_acctbal DESC, c_custkey) AS rnk
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey) t
             |WHERE rnk <= 3 ORDER BY n_name, rnk""".stripMargin)),

    // J9: brand fuzzy lookup with the ported difflib ratio. difflib
    // isn't expressible in DuckDB SQL, so the oracle joins against a
    // fixture computed by CPython's real difflib
    // (scripts/make_fixtures.py → fixtures/q43_expected.parquet),
    // keyed by dirty_name (scale-factor independent).
    Q("q43_brand_fuzzy",
      (s, dir) => {
        import s.implicits._
        val whitelist = Seq("Brand#11", "Brand#22", "Brand#33", "Brand#44", "Brand#55")
        val parts = Tables(s, dir, "part").filter(col("p_partkey") <= 2000)
          .select(col("p_partkey"),
            translate(col("p_brand"), "#", "-").as("dirty_name"))
        val wl = whitelist.toDF("brand")
        val scored = parts.crossJoin(broadcast(wl))
          .withColumn("ratio", DifflibRatio(col("dirty_name"), col("brand")))
        val w = Window.partitionBy(col("p_partkey"))
          .orderBy(col("ratio").desc, col("brand"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("ratio") >= 0.85)
          .select(col("p_partkey"), col("dirty_name"), col("brand").as("matched_brand"),
            round(col("ratio"), 6).as("ratio"))
          .orderBy(col("p_partkey"))
      },
      Some(s"""SELECT p.p_partkey, p.dirty_name, f.matched_brand, f.ratio
             |FROM (SELECT p_partkey, replace(p_brand, '#', '-') AS dirty_name
             |      FROM part WHERE p_partkey <= 2000) p
             |JOIN '${graft.util.RepoRoot.fixture("q43_expected.parquet")}' f
             |  ON p.dirty_name = f.dirty_name
             |ORDER BY p.p_partkey""".stripMargin)),

    // BRAND_CONFIG service: per-client CSS custom-property generation
    // (reference: src/BRAND_CONFIG/service.py:17-92 — color/font/radius
    // settings rendered to CSS text), as pure string assembly.
    Q("q52_brand_css",
      (s, dir) => {
        val k = col("p_partkey")
        Tables(s, dir, "part").filter(k <= 500)
          .select(k.as("client_key"),
            lpad(hex((k * 99991L) % 16777216L), 6, "0").as("primary_hex"),
            (k % 24 + 1).cast("int").as("radius_px"))
          .withColumn("css", concat(
            lit(":root{--brand-primary:#"), lower(col("primary_hex")),
            lit(";--brand-radius:"), col("radius_px").cast("string"),
            lit("px;}")))
          .select(col("client_key"), col("css"))
          .orderBy(col("client_key"))
      },
      Some("""SELECT p_partkey AS client_key,
             |  ':root{--brand-primary:#' ||
             |  lower(lpad(to_hex((p_partkey * 99991) % 16777216), 6, '0')) ||
             |  ';--brand-radius:' || CAST(CAST(p_partkey % 24 + 1 AS INT) AS VARCHAR) ||
             |  'px;}' AS css
             |FROM part WHERE p_partkey <= 500 ORDER BY client_key""".stripMargin)),

    // F12: hex → RGB → luma → text-contrast decision
    // (BRAND_CONFIG/utils.py:1-24) over synthesized hex colors.
    Q("q44_contrast",
      (s, dir) => {
        val k = col("p_partkey")
        val hexCol = lpad(hex((k * 99991L) % 16777216L), 6, "0")
        def chan(pos: Int) = conv(substring(col("hex_color"), pos, 2), 16, 10)
          .cast(IntegerType)
        Tables(s, dir, "part").filter(k <= 2000)
          .withColumn("hex_color", hexCol)
          .withColumn("_luma_raw",
            chan(1) * 0.2126d + chan(3) * 0.7152d + chan(5) * 0.0722d)
          .select(col("p_partkey"), col("hex_color"),
            round(col("_luma_raw"), 6).as("luma"),
            when(col("_luma_raw") < 128, "#FFFFFF").otherwise("#000000")
              .as("text_on_primary"))
          .orderBy(col("p_partkey"))
      },
      Some("""WITH h AS (SELECT p_partkey,
             |    lpad(to_hex((p_partkey * 99991) % 16777216), 6, '0') AS hex_color
             |  FROM part WHERE p_partkey <= 2000),
             |rgb AS (SELECT p_partkey, hex_color,
             |    CAST(('0x' || substr(hex_color, 1, 2))::INT AS DOUBLE) AS r,
             |    CAST(('0x' || substr(hex_color, 3, 2))::INT AS DOUBLE) AS g,
             |    CAST(('0x' || substr(hex_color, 5, 2))::INT AS DOUBLE) AS b
             |  FROM h)
             |SELECT p_partkey, hex_color,
             |  round(r * 0.2126 + g * 0.7152 + b * 0.0722, 6) AS luma,
             |  CASE WHEN r * 0.2126 + g * 0.7152 + b * 0.0722 < 128
             |    THEN '#FFFFFF' ELSE '#000000' END AS text_on_primary
             |FROM rgb ORDER BY p_partkey""".stripMargin))
  )
}
