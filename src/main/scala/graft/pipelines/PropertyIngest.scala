package graft.pipelines

import graft.functions.{CleanFns, HashFns}
import graft.operators.MergeUpsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ETL_PROPERTIES pipeline (reference: run_ingest.py →
  * providers/base_provider.py → loader_v2.py) as ONE lazy Spark plan:
  *
  *   envelope JSON → explode(properties) → status filter → clean
  *   price/area/beds/baths → content hash → hash-gated MERGE + soft
  *   delete
  *
  * The CDC delta that gates the per-record detail fetch is
  * [[graft.operators.CdcDelta]] (q199 calls it directly).
  *
  * The reference executes this row-at-a-time per site with staged
  * Postgres round-trips (stage insert → MERGE SQL → anti-join delete);
  * here stages 7-10 of SURVEY §3.1 are exchanges in a single job, and
  * the final table is written partitioned by client_id.
  */
object PropertyIngest {

  /** Canonical provider-envelope schema (FIXTURES.md §A1;
    * base_provider.py:42-78). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("metadata", StructType(Seq(
      StructField("site", StringType), StructField("client_id", StringType),
      StructField("total_count", LongType), StructField("timestamp", StringType)))),
    StructField("properties", ArrayType(StructType(Seq(
      StructField("external_id", StringType),
      StructField("title", StringType),
      StructField("price", StringType),
      StructField("currency", StringType),
      StructField("sqm", StringType),
      StructField("status", StringType),
      StructField("modified_gmt", StringType),
      StructField("location", StructType(Seq(
        StructField("lat", StringType), StructField("lng", StringType),
        StructField("address", StringType)))),
      StructField("features", MapType(StringType, StringType)),
      StructField("images", ArrayType(StringType))))))))

  /** S4: envelope JSON lines → one row per property with client_id. */
  def explodeEnvelopes(raw: DataFrame, jsonCol: String = "value"): DataFrame = {
    val parsed = raw.select(from_json(col(jsonCol), envelopeSchema).as("e"))
    parsed.select(col("e.metadata.client_id").as("client_id"),
        explode(col("e.properties")).as("p"))
      .select(col("client_id"), col("p.*"))
  }

  /** Steps 7 of §3.1: status filter + cleans + type classifier + hash.
    * "0" coordinate sentinel → NULL (wp_residence_provider.py:85-88). */
  def cleanAndHash(props: DataFrame): DataFrame = {
    val priced = CleanFns.cleanPrice(col("price"), col("currency"))
    props
      .filter(lower(coalesce(col("status"), lit(""))).isin("publish", "active", "published"))
      .withColumn("_priced", priced)
      .select(
        col("client_id"), col("external_id").as("external_prop_id"),
        CleanFns.truncTitle(col("title")).as("title"),
        col("_priced.price").as("price"),
        col("_priced.currency").as("currency_id"),
        CleanFns.cleanArea(col("sqm")).as("area_sqm"),
        CleanFns.cleanSmallint(element_at(col("features"), "bedrooms"), 100)
          .as("bedrooms"),
        CleanFns.cleanNumericSmall(element_at(col("features"), "bathrooms"), 99.9)
          .as("bathrooms"),
        nullif(col("location.lat"), lit("0")).cast(DoubleType).as("location_lat"),
        nullif(col("location.lng"), lit("0")).cast(DoubleType).as("location_lng"),
        CleanFns.titleTypeClassifier(col("title")).as("property_type_id"),
        to_timestamp(col("modified_gmt")).as("modified_gmt"),
        lit("active").as("status"),
        HashFns.contentHash(col("title"), col("price"), col("currency"),
          col("sqm"), col("location.lat"), col("location.lng"), col("features"))
          .as("content_hash"))
  }

  /** Steps 8-10: hash-gated merge of the FULL cleaned batch + soft
    * delete of rows absent from it (loader_v2.py:158-220). */
  def ingest(cleanBatch: DataFrame, target: DataFrame): DataFrame = {
    val stamped = cleanBatch.withColumn("updated_at", col("modified_gmt"))
      .drop("modified_gmt")
    MergeUpsert(target, stamped,
      Seq("client_id", "external_prop_id"), "content_hash", softDelete = true)
  }
}
