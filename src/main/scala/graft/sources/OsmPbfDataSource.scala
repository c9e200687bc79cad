package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 face of [[OsmPbf]]: `spark.read.format("osmpbf")
  * .load(path)` — block planning goes through the connector API (one
  * InputPartition per slice of the blob index, so Spark's scheduler
  * owns locality/retries and the scan composes with Catalyst like any
  * built-in source), while the wire decode is [[OsmPbf.decodeEntities]].
  * Registered under the `osmpbf` short name via META-INF/services. */
class OsmPbfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "osmpbf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OsmPbfTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new OsmPbfTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("osmpbf requires a path, e.g. .load(path)")))
}

object OsmPbfTable {
  val schema: StructType = StructType(Seq(
    StructField("layer", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("lat", DoubleType, nullable = true),
    StructField("lon", DoubleType, nullable = true),
    StructField("tags", MapType(StringType, StringType), nullable = false),
    StructField("refs", ArrayType(LongType), nullable = false),
    StructField("member_ids", ArrayType(LongType), nullable = false),
    StructField("member_types", ArrayType(StringType), nullable = false),
    StructField("member_roles", ArrayType(StringType), nullable = false)))
}

class OsmPbfTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"osmpbf:$path"
  override def schema(): StructType = OsmPbfTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder { override def build(): Scan = new OsmPbfScan(path) }
}

final case class OsmPbfInputPartition(refs: Seq[OsmPbf.BlockRef])
    extends InputPartition

class OsmPbfScan(path: String) extends Scan with Batch {
  override def readSchema(): StructType = OsmPbfTable.schema
  override def toBatch: Batch = this
  override def description(): String = s"OsmPbfScan($path)"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val blocks = OsmPbf.blockIndex(spark, path)
    val slices = math.min(math.max(1, blocks.size),
      spark.sparkContext.defaultParallelism)
    // round-robin so consecutive (often similar-sized) blocks spread
    blocks.zipWithIndex.groupBy(_._2 % slices).values
      .map(g => OsmPbfInputPartition(g.map(_._1)))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val confEntries = {
      import scala.jdk.CollectionConverters._
      SparkSession.active.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toArray
    }
    new OsmPbfReaderFactory(confEntries)
  }
}

class OsmPbfReaderFactory(confEntries: Array[(String, String)])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    val refs = partition.asInstanceOf[OsmPbfInputPartition].refs
    new PartitionReader[InternalRow] {
      private val it = refs.iterator.flatMap { ref =>
        OsmPbf.decodeEntities(conf, ref)
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = OsmPbfReaderFactory.toRow(it.next()); true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

object OsmPbfReaderFactory {
  private def utf8Array(xs: Seq[String]): ArrayData =
    new GenericArrayData(xs.map(s => UTF8String.fromString(s): Any).toArray)

  def toRow(e: OsmPbf.OsmEntity): InternalRow = {
    val tagKeys = e.tags.keys.toArray
    InternalRow(
      UTF8String.fromString(e.layer),
      e.id,
      e.lat.map(java.lang.Double.valueOf).orNull,
      e.lon.map(java.lang.Double.valueOf).orNull,
      new ArrayBasedMapData(
        utf8Array(tagKeys.toSeq),
        utf8Array(tagKeys.map(e.tags).toSeq)),
      new GenericArrayData(e.refs.map(l => l: Any).toArray),
      new GenericArrayData(e.member_ids.map(l => l: Any).toArray),
      utf8Array(e.member_types),
      utf8Array(e.member_roles))
  }
}
