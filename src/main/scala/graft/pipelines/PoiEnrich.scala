package graft.pipelines

import graft.functions.{GeoFns, HashFns, TextFns}
import graft.operators.{ClusterUnify, GeoRadiusJoin}
import graft.plans.TopKPhysical
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The ETL_POIS pipeline (reference: process_pois.py + cl_test1.py +
  * properties_poi_matcher.py, SURVEY §3.2) as two Spark jobs:
  *
  *  prepare: classify (keyword/tag) → veto filter → quality score →
  *           spatial cluster-unify (20 m) → best-of-cluster → hash
  *  enrich:  properties ⋈ POIs radius join → brand-rank/distance/score
  *           top-k per (property, category) → walkability + premium
  *           aggregates → one poi_data JSON struct per property
  *
  * The reference runs enrichment as one SQL round-trip per (property,
  * category) — the N+1 pattern; here it is one distributed join + one
  * window for every property at once.
  */
object PoiEnrich {

  /** Classification: keyword regex on normalized text beats tag match,
    * exclusion veto drops blacklisted rows (classify_poi,
    * process_pois.py:271-342 — condensed category table). */
  def classify(pois: DataFrame, keywordToCat: Map[String, String],
               tagToCat: Map[String, String], vetoWords: Seq[String]): DataFrame = {
    val norm = TextFns.normalizeText(coalesce(col("name"), lit("")))
    val byKeyword = keywordToCat.foldLeft(lit(null).cast("string")) {
      case (acc, (kw, cat)) =>
        when(norm.rlike(s"\\b$kw\\b"), lit(cat)).otherwise(acc)
    }
    val byTag = tagToCat.foldLeft(lit(null).cast("string")) {
      case (acc, (tag, cat)) =>
        when(element_at(col("tags"), tag).isNotNull, lit(cat)).otherwise(acc)
    }
    val vetoed = vetoWords.map(w => norm.rlike(s"\\b$w\\b"))
      .foldLeft(lit(false))(_ || _)
    pois
      .withColumn("re_category", coalesce(byKeyword, byTag))
      .filter(!vetoed)
      .filter(col("re_category").isNotNull || coalesce(col("name"), lit("")) =!= "")
      .withColumn("re_category", coalesce(col("re_category"), lit("Other")))
  }

  /** A7 quality weights (process_pois.py:30-35,248-269). */
  def qualityScore(pois: DataFrame, idealBrands: Seq[String]): DataFrame = {
    val tags = col("tags")
    val hasRealName = coalesce(col("name"), lit("")) =!= ""
    val metaCount = size(map_filter(tags,
      (k, _) => k.isin("phone", "website", "opening_hours", "email")))
    pois.withColumn("quality_score", greatest(lit(0),
      when(element_at(tags, "amenity").isNotNull ||
        element_at(tags, "shop").isNotNull ||
        element_at(tags, "leisure").isNotNull, 10).otherwise(0) +
        when(hasRealName, 5).otherwise(-5) +
        when(col("brand").isin(idealBrands: _*), 15).otherwise(0) +
        metaCount * 3))
  }

  /** J2 + A5 + F6: 20 m transitive unification, longest-name winner
    * (ties → min osm_id), stable identity hash. */
  def unifyAndHash(pois: DataFrame, radiusKm: Double = 0.02): DataFrame = {
    val clustered = ClusterUnify(pois, "osm_id", "lat", "lon", radiusKm)
    val w = Window.partitionBy(col("re_category"), col("cluster_id"))
      .orderBy(length(coalesce(col("name"), lit(""))).desc, col("osm_id"))
    clustered.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "cluster_id")
      .withColumn("hash", HashFns.poiHash(col("re_category"), col("lat"), col("lon")))
  }

  /** §3.2 steps 6-7: one job for all properties. Brand rank 0/1/2 =
    * anchor/priority/other (cl_test1.py:90-98). */
  def enrich(properties: DataFrame, pois: DataFrame,
             radiusKm: Double, k: Int,
             anchorBrands: Seq[String], priorityBrands: Seq[String],
             walkKm: Double = 1.0): DataFrame = {
    val joined = GeoRadiusJoin(properties, pois,
      "prop_lat", "prop_lon", "lat", "lon", radiusKm)
    val ranked = joined.withColumn("brand_rank",
      when(col("brand").isin(anchorBrands: _*), 0)
        .when(col("brand").isin(priorityBrands: _*), 1)
        .otherwise(2))
    val topk = TopKPhysical.topK(ranked, Seq("property_id", "re_category"),
      Seq(("brand_rank", true), ("dist_km", true), ("quality_score", false), ("osm_id", true)),
      k)
    val walk = topk.groupBy(col("property_id"))
      .agg(
        sum(when(col("dist_km") <= walkKm, 1).otherwise(0)).as("n_walkable"),
        count(lit(1)).as("n_pois"))
      .withColumn("walk_score",
        least(lit(10L), floor(col("n_walkable") / lit(2.0)).cast("long")))
    val pkg = topk
      .groupBy(col("property_id"), col("re_category"))
      .agg(sort_array(collect_list(struct(
        col("rnk"), col("name"), col("brand"),
        round(col("dist_km"), 4).as("dist_km"),
        col("quality_score")))).as("pois"))
      .groupBy(col("property_id"))
      .agg(to_json(map_from_entries(sort_array(collect_list(
        struct(col("re_category"), col("pois")))))).as("poi_data"))
    pkg.join(walk, Seq("property_id"), "left")
  }
}
