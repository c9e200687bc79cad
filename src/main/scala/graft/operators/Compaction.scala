package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction — the table-maintenance twin of the GC
  * reconcile (reference: disk/DB orphan sweep,
  * src/ETL_IMAGES/image_garbage_collector.py:46-122). Continuous
  * micro-batch ingest (foreachBatch sinks, per-batch MERGE output)
  * accretes thousands of KB-sized parquet files; at 100 TB the
  * resulting file-listing and task-scheduling overhead dominates scan
  * cost, so periodic bin-packing to a target file size is part of the
  * engine surface, not an ops afterthought.
  *
  * Rewrites `inDir` as ~ceil(totalBytes / targetBytes) files. With
  * `sortCol` the rewrite is range-clustered (repartitionByRange +
  * local sort), so parquet row-group min/max stats become selective
  * and later range predicates skip whole files; without it, a plain
  * round-robin repartition balances file sizes exactly.
  *
  * Partitioned layouts (key=value subdirs) are preserved: the
  * partition spec is recovered from the data-file paths and replayed
  * via partitionBy, and rows are co-shuffled on the partition columns
  * so each partition directory compacts to few files instead of
  * receiving a stripe from every write task. Partition-column VALUES
  * round-trip exactly; their parquet-discovery TYPES (e.g. "01" → int)
  * follow Spark's standard partition-inference rules, same as any
  * read of the layout.
  */
object Compaction {

  case class Result(inputFiles: Int, outputFiles: Int, totalBytes: Long,
                    partitionCols: Seq[String] = Nil)

  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long, sortCol: Option[String] = None): Result = {
    val conf = spark.sparkContext.hadoopConfiguration
    // fully qualify + normalize before the self-overwrite guard:
    // a raw Path compare misses relative-vs-absolute and dot-segment
    // aliases of the same directory (/a/b vs /a/./b)
    def canonical(dir: String): Path = {
      val p = new Path(dir)
      val q = p.getFileSystem(conf).makeQualified(p)
      new Path(q.toUri.normalize())
    }
    val qIn = canonical(inDir)
    require(qIn != canonical(outDir),
      s"compaction cannot overwrite its own input ($qIn)")
    val fs = qIn.getFileSystem(conf)
    // recursive: partitioned layouts keep their data files under
    // key=value subdirectories — a top-level listing would see only
    // directories, compute totalBytes = 0, and pack everything into
    // one file
    val it = fs.listFiles(qIn, true)
    val parts = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .toArray
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // recover the partition spec from the data-file key=value path
    // segments so the rewrite keeps the physical layout (and pruning).
    // EVERY file must agree: a stray .parquet at the root or a
    // mixed-depth layout would otherwise silently rewrite the whole
    // table flat (or mis-partitioned) on the strength of whichever
    // file the listing happened to return first
    val specs: Array[Seq[String]] = parts.map { st =>
      st.getPath.toUri.getPath
        .stripPrefix(qIn.toUri.getPath).split('/')
        .dropRight(1).filter(_.contains('=')).map(_.takeWhile(_ != '=')).toSeq
    }.distinct
    require(specs.length <= 1,
      s"inconsistent partition layouts under $qIn: " +
        specs.map(s => if (s.isEmpty) "<flat>" else s.mkString("/")).mkString(" vs "))
    val partCols: Seq[String] = specs.headOption.getOrElse(Nil)
    val df = graft.util.ParquetRead.read(spark, inDir)
    val keyCols = (partCols ++ sortCol).map(col)
    val packed: DataFrame =
      if (keyCols.nonEmpty)
        // partition cols lead the range key: rows of one partition
        // value land in few adjacent tasks, so each partition dir gets
        // ~its byte share of files, not nOut stripes; sortCol then
        // range-clusters within the partition for row-group skipping
        df.repartitionByRange(nOut, keyCols: _*).sortWithinPartitions(keyCols: _*)
      else df.repartition(nOut)
    val writer = packed.write.mode("overwrite")
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(outDir)
    // report the ACTUAL file population: with partitionBy, a range
    // task writes one file per partition value it holds, so the real
    // count can exceed the nOut plan
    val qOut = canonical(outDir)
    val outIt = qOut.getFileSystem(conf).listFiles(qOut, true)
    val written = Iterator.continually(outIt)
      .takeWhile(_.hasNext).map(_.next())
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    Result(parts.length, written, totalBytes, partCols)
  }
}
