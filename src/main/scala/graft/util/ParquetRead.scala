package graft.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.{NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet reads of explicit paths with the schema taken from one
  * footer on the driver. A parquet read given no schema infers one
  * with a Spark job (`ParquetUtils.inferSchema` →
  * `mergeSchemasInParallel`, a `parallelize(...).collect()` round)
  * even when it reads a single footer; here the same footer is read
  * in the driver and handed to the reader as its schema, so building
  * the DataFrame runs no job.
  *
  * The conversion is Spark's own: `readSchemaFromFooter` with a
  * converter built from the session conf, the call inference makes,
  * so Spark's row metadata and the session's timestamp-NTZ, nanos,
  * binary-as-string and int96 flags read as they do under inference.
  * Like inference without `mergeSchema`, every path is assumed to share
  * the first one's schema. Partition directories under a path are
  * still discovered by the reader, and a missing path fails here.
  *
  * Row counts come from footers too ([[rowCount]]): each row group
  * records its rows, so counting a table is a driver-side metadata
  * read, not a scan and an aggregate job. */
object ParquetRead {

  def read(spark: SparkSession, paths: String*): DataFrame = {
    require(paths.nonEmpty, "no parquet path to read")
    spark.read.schema(schema(spark, paths.head)).parquet(paths: _*)
  }

  /** The rows of every data file under `paths`: the sum of the row
    * counts of their footers' row groups, read on the driver. A
    * missing path throws `FileNotFoundException` naming it. */
  def rowCount(spark: SparkSession, paths: String*): Long = {
    val conf = spark.sessionState.newHadoopConf()
    paths.iterator.flatMap(dataFiles(conf, _)).map { f =>
      ParquetFileReader.readFooter(conf, f, NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  /** The Spark schema in the footer of `path`'s first data file. */
  private def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val file = dataFiles(conf, path).nextOption()
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val footer = ParquetFileReader.readFooter(conf, file, SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** `path` itself when it is a file; in a directory, its data files in
    * name order, depth first, skipping `_`- and `.`-prefixed names as
    * Spark's file index does (`_SUCCESS`, `.crc`, staging dirs). Lazy:
    * a directory is listed only when the walk reaches it. */
  private def dataFiles(conf: Configuration, path: String): Iterator[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    walk(fs, fs.getFileStatus(p))
  }

  private def walk(fs: FileSystem, st: FileStatus): Iterator[FileStatus] =
    if (!st.isDirectory) Iterator.single(st)
    else fs.listStatus(st.getPath)
      .filterNot { c => val n = c.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      .sortBy(_.getPath.getName)
      .iterator.flatMap(walk(fs, _))
}
