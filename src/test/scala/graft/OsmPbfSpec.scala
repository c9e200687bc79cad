package graft

import graft.sources.{OsmPbf, OsmPbfInputPartition, OsmPbfScan}
import org.apache.spark.sql.functions._

/** Decodes fixtures/tiny.osm.pbf — hand-encoded at the protobuf wire
  * level by scripts/make_pbf_fixture.py (an INDEPENDENT encoder of the
  * published PBF spec), exercising zlib + raw blobs, dense + plain
  * nodes, delta coding with negative deltas, interleaved keys_vals,
  * non-default granularity and lat/lon offsets, ways and relations,
  * a NEGATIVE node id (sint64 zigzag), and a way id > 2^33 (Way and
  * Relation ids are plain int64 varints — zigzagging them is the
  * classic decoder bug this fixture pins).
  */
class OsmPbfSpec extends SparkSpec {

  private val fixture = graft.util.RepoRoot.fixture("tiny.osm.pbf")
  private val BigWay = (1L << 33) + 7 // int64 varint, 5 encoded bytes

  /** The typed entity scan through the `osmpbf` DataSource V2 format. */
  private def entities = {
    import spark.implicits._
    spark.read.format("osmpbf").load(fixture).as[OsmPbf.OsmEntity]
  }

  test("block index sees exactly the OSMData blobs") {
    val idx = OsmPbf.blockIndex(spark, fixture)
    assert(idx.size == 3) // header blob excluded
    assert(idx.forall(_.length > 0))
  }

  test("dense nodes decode ids, coords, and interleaved tags exactly") {
    val ds = entities
    val nodes = ds.filter(_.layer == "node").collect().sortBy(_.id)
    assert(nodes.map(_.id).toSeq ==
      Seq(-5L, 10L, 11L, 12L, 77L, 500L, 600L, 601L))

    val byId = nodes.map(n => n.id -> n).toMap
    // default granularity 100, zero offsets: 1e-9 * 100 * stored
    assert(math.abs(byId(10L).lat.get - 41.4) < 1e-7)
    assert(math.abs(byId(10L).lon.get - 2.1) < 1e-7)
    assert(math.abs(byId(11L).lat.get - -33.45) < 1e-7) // negative delta path
    assert(math.abs(byId(11L).lon.get - -70.66) < 1e-7)
    assert(math.abs(byId(500L).lat.get - 2.5) < 1e-7)
    // interleaved keys_vals: n10 two tags, n12/n500 none, n11 one
    assert(byId(10L).tags == Map("amenity" -> "cafe", "name" -> "Bar Uno"))
    assert(byId(12L).tags.isEmpty && byId(500L).tags.isEmpty)
    assert(byId(11L).tags == Map("amenity" -> "restaurant"))
    // plain node in the raw blob: granularity 1000 + nonzero offsets
    assert(math.abs(byId(77L).lat.get - 10.0) < 1e-7)
    assert(math.abs(byId(77L).lon.get - 20.0) < 1e-7)
    assert(byId(77L).tags == Map("building" -> "yes"))
    // second dense batch: negative id via zigzag'd negative start delta
    assert(math.abs(byId(-5L).lat.get - 48.85) < 1e-7)
    assert(byId(-5L).tags == Map("natural" -> "tree"))
    assert(byId(600L).tags == Map("shop" -> "bakery"))
    assert(math.abs(byId(601L).lon.get - -122.41) < 1e-7)
    assert(byId(601L).tags.isEmpty)
  }

  test("ways and relations decode refs, members, and roles") {
    val ds = entities
    val ways = ds.filter(_.layer == "way").collect().sortBy(_.id)
    assert(ways.map(_.id).toSeq == Seq(2001L, BigWay))
    assert(ways.head.refs == Seq(10L, 12L, 500L)) // delta-decoded
    assert(ways.head.tags == Map("highway" -> "residential"))
    // id > 2^33 decodes as plain int64 (NOT zigzag — Node ids only)
    assert(ways(1).refs == Seq(-5L, 600L, 601L))
    assert(ways(1).tags == Map("waterway" -> "river"))

    val rels = ds.filter(_.layer == "relation").collect().sortBy(_.id)
    assert(rels.map(_.id).toSeq == Seq(3001L, 4001L, 4002L))
    val rel = rels.head
    assert(rel.tags == Map("type" -> "multipolygon"))
    assert(rel.member_ids == Seq(2001L, 2001L)) // delta: 2001, +0
    assert(rel.member_types == Seq("way", "way"))
    assert(rel.member_roles == Seq("outer", "inner"))
    assert(rels(1).member_ids == Seq(BigWay))
    assert(rels(2).tags == Map("type" -> "route", "route" -> "hiking"))
  }

  test("DataSource V2 'osmpbf' format carries the entity schema") {
    val v2 = spark.read.format("osmpbf").load(fixture)
    assert(v2.schema == graft.sources.OsmPbfTable.schema)
    // the connector plans real input partitions (scheduler-owned split)
    assert(v2.rdd.getNumPartitions >= 1)
  }

  test("scan plans one input partition per blob; per-blob decode unions to the whole") {
    // the scale claim: blocks decode INDEPENDENTLY and the planner
    // hands each to its own task (local[32] parallelism >= 3 blobs)
    val parts = new OsmPbfScan(fixture).planInputPartitions()
    assert(parts.length == 3)
    assert(parts.forall(_.asInstanceOf[OsmPbfInputPartition].refs.size == 1))

    val conf = spark.sparkContext.hadoopConfiguration
    val perBlob = OsmPbf.blockIndex(spark, fixture)
      .flatMap(ref => OsmPbf.decodeEntities(conf, ref))
    val whole = entities.collect()
    assert(perBlob.map(e => (e.layer, e.id)).sorted.toSeq ==
      whole.map(e => (e.layer, e.id)).sorted.toSeq)
    assert(perBlob.size == 13)
  }

  test("layered scan reproduces the reference's points/multipolygons union") {
    val layered = OsmPbf.layeredScan(spark, fixture)
    val counts = layered.groupBy("layer").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // points = TAGGED nodes only (5 of 8 nodes carry tags);
    // multipolygons = type=multipolygon only (the route rel is excluded)
    assert(counts == Map("points" -> 5L, "multipolygons" -> 2L))
    // the layer column + tags survive for downstream classification
    val cafe = layered.filter(col("tags").getItem("amenity") === "cafe")
    assert(cafe.count() == 1)
  }

  test("corrupt headers fail loudly with the file offset named") {
    import java.nio.file.{Files, Paths}
    val bytes = Files.readAllBytes(Paths.get(fixture))
    // oversize the 4-byte BlobHeader length of the first block
    val bad = bytes.clone(); bad(0) = 0x7F.toByte
    val tmp = Files.createTempFile("bad", ".osm.pbf")
    Files.write(tmp, bad)
    val ex = intercept[IllegalArgumentException] {
      OsmPbf.blockIndex(spark, tmp.toString)
    }
    assert(ex.getMessage.contains("@0"))
    assert(ex.getMessage.toLowerCase.contains("blobheader"))
    Files.delete(tmp)
  }
}
