package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native OSM PBF scan — no GDAL, no protobuf library: the format is
  * length-prefixed protobuf blobs with optional zlib bodies
  * (fileformat.proto / osmformat.proto, the published PBF spec), and
  * both layers decode with ~100 lines of varint reading on top of
  * `java.util.zip.Inflater`.
  *
  * Reference surface: the POI pipeline starts from GDAL layered reads
  * of a `.osm.pbf` (reference: src/ETL_POIS/process_pois.py:361-378,
  * layers `points`/`multipolygons`); this source lets a user start
  * from the raw file instead of a pre-converted parquet.
  *
  * Scale shape: the DRIVER does one sequential header walk reading
  * only the 4-byte length + BlobHeader of each block (seeking past
  * blob bodies — O(#blocks) I/O, ~60k blocks for a full planet file),
  * then every (offset, length) block range decodes in EXECUTOR tasks
  * through the Hadoop FileSystem API — so the scan distributes across
  * the cluster and works on any Hadoop-supported store, exactly the
  * file-split model a parquet scan uses (PBF blocks are independently
  * decodable by design — the format exists to make planet-scale
  * parallel decode possible).
  */
object OsmPbf {

  /** One OSM primitive, unified across layers: `layer` is
    * node/way/relation; lat/lon set for nodes; refs for ways; member_*
    * for relations; tags for all. */
  final case class OsmEntity(layer: String, id: Long,
                             lat: Option[Double], lon: Option[Double],
                             tags: Map[String, String],
                             refs: Seq[Long],
                             member_ids: Seq[Long], member_types: Seq[String],
                             member_roles: Seq[String])

  final case class BlockRef(path: String, offset: Long, length: Int)

  // ---- protobuf wire reading (varint-based, the only kinds PBF uses)

  private final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    def hasNext: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        val b = buf(pos); pos += 1
        v |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      v
    }
    def zigzag(): Long = { val n = varint(); (n >>> 1) ^ -(n & 1) }
    def lenDelimited(): Reader = {
      val len = varint().toInt
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }
    def bytesUtf8(): String = {
      val len = varint().toInt
      val s = new String(buf, pos, len, "UTF-8")
      pos += len
      s
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(); ()
      case 1 => pos += 8
      case 2 => pos += varint().toInt
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
    /** Iterate (fieldNumber, wireType); the callback must consume the
      * field's payload (or call skip). */
    def fields(f: (Int, Int, Reader) => Unit): Unit =
      while (hasNext) {
        val k = varint()
        f((k >>> 3).toInt, (k & 7).toInt, this)
      }
    def packedSVarints(): Array[Long] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (hasNext) out += zigzag()
      out.toArray
    }
    def packedVarints(): Array[Long] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (hasNext) out += varint()
      out.toArray
    }
  }

  private def undelta(a: Array[Long]): Array[Long] = {
    var acc = 0L
    a.map { d => acc += d; acc }
  }

  // ---- driver-side block index (header walk, bodies skipped)

  def blockIndex(spark: SparkSession, path: String): Seq[BlockRef] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val fileLen = fs.getFileStatus(p).getLen
    val blocks = scala.collection.mutable.ArrayBuffer.empty[BlockRef]
    try {
      var pos = 0L
      while (pos < fileLen) {
        in.seek(pos)
        val lenBytes = new Array[Byte](4)
        in.readFully(lenBytes)
        val headerLen = java.nio.ByteBuffer.wrap(lenBytes).getInt
        // fail loudly on corrupt/hostile headers instead of allocating
        // unbounded arrays: the spec caps BlobHeader at 64 KB
        require(headerLen > 0 && headerLen <= (64 << 10),
          s"$path@$pos: BlobHeader length $headerLen outside (0, 64 KiB]")
        val headerBytes = new Array[Byte](headerLen)
        in.readFully(headerBytes)
        var blobType = ""; var dataSize = 0
        new Reader(headerBytes).fields { (field, wire, r) =>
          field match {
            case 1 => blobType = r.bytesUtf8()
            case 3 => dataSize = r.varint().toInt
            case _ => r.skip(wire)
          }
        }
        val dataOff = pos + 4 + headerLen
        // spec caps blob bodies at 32 MiB (recommended 16); a corrupt
        // datasize would otherwise mis-seek every subsequent block
        require(dataSize > 0 && dataSize <= (32 << 20),
          s"$path@$pos: blob datasize $dataSize outside (0, 32 MiB]")
        if (blobType == "OSMData")
          blocks += BlockRef(path, dataOff, dataSize)
        pos = dataOff + dataSize
      }
    } finally in.close()
    blocks.toSeq
  }

  // ---- executor-side blob → entities

  private def readRange(conf: org.apache.hadoop.conf.Configuration,
                        ref: BlockRef): Array[Byte] = {
    val p = new Path(ref.path)
    val in = p.getFileSystem(conf).open(p)
    try {
      in.seek(ref.offset)
      val buf = new Array[Byte](ref.length)
      in.readFully(buf)
      buf
    } finally in.close()
  }

  /** Blob envelope: raw (field 1) or zlib (field 3, with raw_size 2).
    * `context` names the source file+offset in failure messages. */
  private def decompressBlob(blob: Array[Byte],
                             context: String = "blob"): Array[Byte] = {
    var raw: Array[Byte] = null
    var zlibData: Array[Byte] = null
    var rawSize = -1
    new Reader(blob).fields { (field, wire, r) =>
      field match {
        case 1 => val rr = r.lenDelimited(); raw = java.util.Arrays.copyOfRange(blob, rr.pos, rr.end)
        case 2 => rawSize = r.varint().toInt
        case 3 => val rr = r.lenDelimited(); zlibData = java.util.Arrays.copyOfRange(blob, rr.pos, rr.end)
        case _ => r.skip(wire)
      }
    }
    if (raw != null) raw
    else {
      require(zlibData != null, s"$context: blob carries neither raw nor zlib_data")
      // a zlib blob with no/negative raw_size would otherwise surface
      // as a bare NegativeArraySizeException with no file context
      require(rawSize >= 0 && rawSize <= (64 << 20),
        s"$context: zlib blob raw_size $rawSize outside [0, 64 MiB]")
      val inflater = new java.util.zip.Inflater()
      inflater.setInput(zlibData)
      val out = new Array[Byte](rawSize)
      var off = 0
      while (off < rawSize) {
        val n = inflater.inflate(out, off, rawSize - off)
        // 0 with the input fully consumed = truncated/corrupt blob —
        // fail instead of spinning
        require(n > 0, s"$context: corrupt zlib blob: inflated $off of $rawSize bytes")
        off += n
      }
      inflater.end()
      out
    }
  }

  private val MemberTypes = Array("node", "way", "relation")

  /** Fetch + decompress + decode one block — the per-task unit of the
    * `osmpbf` DataSource V2 reader. */
  def decodeEntities(conf: org.apache.hadoop.conf.Configuration,
                     ref: BlockRef): Iterator[OsmEntity] =
    decodePrimitiveBlock(decompressBlob(readRange(conf, ref),
      s"${ref.path}@${ref.offset}"))

  def decodePrimitiveBlock(block: Array[Byte]): Iterator[OsmEntity] = {
    var strings: Vector[String] = Vector.empty
    val groups = scala.collection.mutable.ArrayBuffer.empty[Reader]
    var granularity = 100L
    var latOffset = 0L
    var lonOffset = 0L
    new Reader(block).fields { (field, wire, r) =>
      field match {
        case 1 =>
          val st = r.lenDelimited()
          val b = Vector.newBuilder[String]
          st.fields { (f2, w2, r2) =>
            if (f2 == 1) b += r2.bytesUtf8() else r2.skip(w2)
          }
          strings = b.result()
        case 2  => groups += r.lenDelimited()
        case 17 => granularity = r.varint()
        case 19 => latOffset = r.varint()
        case 20 => lonOffset = r.varint()
        case _  => r.skip(wire)
      }
    }
    def coord(offset: Long, v: Long): Double = 1e-9 * (offset + granularity * v)
    def tagsOf(keys: Array[Long], vals: Array[Long]): Map[String, String] =
      keys.zip(vals).map { case (k, v) => strings(k.toInt) -> strings(v.toInt) }.toMap

    groups.iterator.flatMap { g =>
      val out = scala.collection.mutable.ArrayBuffer.empty[OsmEntity]
      g.fields { (field, wire, r) =>
        field match {
          case 1 => // plain Node
            val nr = r.lenDelimited()
            var id = 0L; var lat = 0L; var lon = 0L
            var keys = Array.empty[Long]; var vals = Array.empty[Long]
            nr.fields { (f2, w2, r2) =>
              f2 match {
                case 1 => id = r2.zigzag() // sint64 per osmformat.proto
                case 2 => keys = r2.lenDelimited().packedVarints()
                case 3 => vals = r2.lenDelimited().packedVarints()
                case 8 => lat = r2.zigzag()
                case 9 => lon = r2.zigzag()
                case _ => r2.skip(w2)
              }
            }
            out += OsmEntity("node", id, Some(coord(latOffset, lat)),
              Some(coord(lonOffset, lon)), tagsOf(keys, vals),
              Nil, Nil, Nil, Nil)
          case 2 => // DenseNodes
            val dr = r.lenDelimited()
            var ids = Array.empty[Long]; var lats = Array.empty[Long]
            var lons = Array.empty[Long]; var keysVals = Array.empty[Long]
            dr.fields { (f2, w2, r2) =>
              f2 match {
                case 1  => ids = undelta(r2.lenDelimited().packedSVarints())
                case 8  => lats = undelta(r2.lenDelimited().packedSVarints())
                case 9  => lons = undelta(r2.lenDelimited().packedSVarints())
                case 10 => keysVals = r2.lenDelimited().packedVarints()
                case _  => r2.skip(w2)
              }
            }
            var kv = 0
            ids.indices.foreach { i =>
              var tags = Map.empty[String, String]
              if (keysVals.nonEmpty) {
                while (kv < keysVals.length && keysVals(kv) != 0L) {
                  tags += strings(keysVals(kv).toInt) -> strings(keysVals(kv + 1).toInt)
                  kv += 2
                }
                kv += 1 // consume the 0 delimiter
              }
              out += OsmEntity("node", ids(i), Some(coord(latOffset, lats(i))),
                Some(coord(lonOffset, lons(i))), tags, Nil, Nil, Nil, Nil)
            }
          case 3 => // Way
            val wr = r.lenDelimited()
            var id = 0L; var keys = Array.empty[Long]; var vals = Array.empty[Long]
            var refs = Array.empty[Long]
            wr.fields { (f2, w2, r2) =>
              f2 match {
                case 1 => id = r2.varint()
                case 2 => keys = r2.lenDelimited().packedVarints()
                case 3 => vals = r2.lenDelimited().packedVarints()
                case 8 => refs = undelta(r2.lenDelimited().packedSVarints())
                case _ => r2.skip(w2)
              }
            }
            out += OsmEntity("way", id, None, None, tagsOf(keys, vals),
              refs.toSeq, Nil, Nil, Nil)
          case 4 => // Relation
            val rr = r.lenDelimited()
            var id = 0L; var keys = Array.empty[Long]; var vals = Array.empty[Long]
            var roles = Array.empty[Long]; var memids = Array.empty[Long]
            var types = Array.empty[Long]
            rr.fields { (f2, w2, r2) =>
              f2 match {
                case 1  => id = r2.varint()
                case 2  => keys = r2.lenDelimited().packedVarints()
                case 3  => vals = r2.lenDelimited().packedVarints()
                case 8  => roles = r2.lenDelimited().packedVarints()
                case 9  => memids = undelta(r2.lenDelimited().packedSVarints())
                case 10 => types = r2.lenDelimited().packedVarints()
                case _  => r2.skip(w2)
              }
            }
            out += OsmEntity("relation", id, None, None, tagsOf(keys, vals),
              Nil, memids.toSeq, types.map(t => MemberTypes(t.toInt)).toSeq,
              roles.map(s => strings(s.toInt)).toSeq)
          case _ => r.skip(wire)
        }
      }
      out.iterator
    }
  }

  /** The reference's two GDAL layers from the raw entity scan:
    * `points` = tagged nodes, `multipolygons` = relations tagged
    * type=multipolygon — unioned with a `layer` tag column (S1/U1,
    * process_pois.py:361-378). Centroid normalization happens
    * downstream exactly as the reference does it. */
  def layeredScan(spark: SparkSession, path: String): DataFrame = {
    val all = spark.read.format("osmpbf").load(path)
    val points = all.filter(col("layer") === "node" && size(col("tags")) > 0)
      .select(lit("points").as("layer"), col("id"), col("lat"), col("lon"),
        col("tags"))
    val multipolygons = all.filter(col("layer") === "relation" &&
        col("tags").getItem("type") === "multipolygon")
      .select(lit("multipolygons").as("layer"), col("id"), col("lat"),
        col("lon"), col("tags"))
    points.unionByName(multipolygons)
  }
}
