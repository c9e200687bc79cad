package graft

import graft.operators.TxnLog
import graft.util.{ParquetRead, Probe, RepoRoot, Tables}

import java.nio.file.{Files, Paths}

/** [[ParquetRead]] takes a parquet schema from one footer on the driver
  * instead of Spark's inference job, and row counts from the footers'
  * row groups instead of a count job: the schema must equal the one
  * inference gives, a footer count must equal the snapshot's `count()`,
  * building a TxnLog snapshot or counting it must start no job, and a
  * missing live file must fail where the read is built. */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private val NtzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"

  private def assertParity(paths: String*): Unit =
    assert(ParquetRead.read(spark, paths: _*).schema === spark.read.parquet(paths: _*).schema,
      paths.mkString(", "))

  private def deleteTree(dir: String): Unit =
    Files.walk(Paths.get(dir)).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  test("schema parity with inference: the ten tables, timestamp NTZ on and off") {
    val prior = spark.conf.getOption(NtzKey)
    val byFlag = try Seq("true", "false").map { flag =>
      spark.conf.set(NtzKey, flag)
      Tables.names.map { t =>
        assertParity(s"$sf001/$t.parquet")
        ParquetRead.read(spark, s"$sf001/$t.parquet").schema
      }
    } finally prior.fold(spark.conf.unset(NtzKey))(spark.conf.set(NtzKey, _))
    // the naive `ts`/date carriers read as TimestampNTZ only under
    // "true", so both halves compare a different schema
    assert(byFlag(0) != byFlag(1), "the NTZ flag no longer changes any table's schema")
  }

  test("schema parity: a Spark-written multi-file TxnLog table with _SUCCESS markers") {
    val root = Files.createTempDirectory("graft_pqread").toString
    def rows(from: Int, to: Int) = (from until to).map { i =>
      (i.toLong, s"s$i", new java.sql.Timestamp(1700000000000L + i * 1000L),
        BigDecimal(i) / 4, Seq(i, i + 1), Map(s"k$i" -> i.toDouble), Array[Byte](i.toByte))
    }.toDF("k", "s", "ts", "dec", "arr", "m", "bin")
    rows(0, 40).repartition(4).write.parquet(s"$root/d0")
    rows(40, 50).repartition(2).write.parquet(s"$root/d1")
    val d0 = new java.io.File(s"$root/d0").list().toSeq
    assert(d0.contains("_SUCCESS") && d0.count(_.startsWith("part-")) >= 2,
      s"fixture must hold a marker and several part files: $d0")
    TxnLog.commit(root, 0, adds = Seq("d0", "d1"))
    val (_, files) = TxnLog.liveFiles(root)
    assertParity(files: _*)
    val snap = TxnLog.snapshot(spark, root)
    assert(snap.schema === spark.read.parquet(files: _*).schema)
    assert(snap.select("k").as[Long].collect().sorted.toSeq === (0L until 50L))
  }

  test("schema parity: the image and BPE fixtures") {
    assertParity(RepoRoot.fixture("image_assets.parquet"))
    assertParity(RepoRoot.fixture("bpe_merges.parquet"))
  }

  test("a snapshot whose first live file is missing fails at construction") {
    val root = Files.createTempDirectory("graft_pqread").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$root/f0")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$root/f1")
    Seq((3L, "c")).toDF("k", "v").write.parquet(s"$root/f2")
    TxnLog.commit(root, 0, adds = Seq("f0", "f1", "f2"))
    deleteTree(s"$root/f0")
    val missing = intercept[java.io.FileNotFoundException](TxnLog.snapshot(spark, root))
    assert(missing.getMessage.contains(s"$root/f0"), missing.getMessage)
    // a first live directory left with only its marker has no footer
    TxnLog.commit(root, 1, adds = Nil, removes = Seq("f0"))
    Files.list(Paths.get(root, "f1")).forEach { p =>
      if (!p.getFileName.toString.startsWith("_")) Files.delete(p)
    }
    val empty = intercept[IllegalArgumentException](TxnLog.snapshot(spark, root))
    assert(empty.getMessage.contains("no parquet data file"), empty.getMessage)
  }

  test("footer row counts equal snapshot count() at every version, with no job") {
    val root = Files.createTempDirectory("graft_pqcount").toString
    val rows = (0 until 60).map(i => (i.toLong, s"s$i"))
    rows.take(40).toDF("k", "v").repartition(4).write.parquet(s"$root/d0")
    rows.slice(40, 50).toDF("k", "v").repartition(2).write.parquet(s"$root/d1")
    rows.take(0).toDF("k", "v").write.parquet(s"$root/e0")
    rows.slice(50, 60).toDF("k", "v").repartition(3).write.parquet(s"$root/d2")
    def names(d: String) = new java.io.File(s"$root/$d").list().toSeq
    assert(names("d0").contains("_SUCCESS") && names("d0").exists(_.endsWith(".crc")) &&
      names("d0").count(_.startsWith("part-")) >= 2,
      s"fixture must hold a marker, checksums and several part files: ${names("d0")}")
    val e0Parts = names("e0").filter(_.startsWith("part-"))
    assert(e0Parts.nonEmpty, s"fixture must hold a zero-row part file: ${names("e0")}")
    assert(ParquetRead.rowCount(spark, s"$root/e0/${e0Parts.head}") === 0L)
    TxnLog.commit(root, 0, adds = Seq("d0"))
    TxnLog.commit(root, 1, adds = Seq("d1", "e0"))
    TxnLog.commit(root, 2, adds = Seq("d2"), removes = Seq("d0"))
    TxnLog.commit(root, 3, adds = Nil, removes = Seq("e0"))
    val versions = 0L to 3L
    val scanned = versions.map(v => TxnLog.snapshot(spark, root, Some(v)).count())
    assert(scanned === Seq(40L, 50L, 20L, 20L))
    val (fromFooters, jobs) = withJobs(versions.map(v => TxnLog.rowCount(spark, root, Some(v))))
    assert(fromFooters === scanned)
    assert(jobs === 0, s"footer counts started $jobs job(s)")
    assert(TxnLog.rowCount(spark, root) === 20L)
    assert(ParquetRead.rowCount(spark, s"$root/d0", s"$root/d1") === 50L)
  }

  test("a footer count of a missing live file fails naming the path") {
    val root = Files.createTempDirectory("graft_pqcount").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$root/f0")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$root/f1")
    TxnLog.commit(root, 0, adds = Seq("f0", "f1"))
    deleteTree(s"$root/f1")
    val missing = intercept[java.io.FileNotFoundException](TxnLog.rowCount(spark, root))
    assert(missing.getMessage.contains(s"$root/f1"), missing.getMessage)
  }

  test("building q174, q177, q178 and q179 on a warm session starts no Spark job") {
    val probe = new Probe(spark)
    try Seq("q174_time_travel", "q177_streaming_txn_ingest", "q178_optimize_vacuum",
      "q179_txn_merge").foreach { q =>
      // warm: the txn layouts, q177's ingest, q178's OPTIMIZE and
      // q179's MERGE commits
      probe.measure(sf001, q)
      val r = probe.measure(sf001, q)
      assert(r.error.isEmpty, s"$q failed: ${r.error}")
      assert(r.buildJobs === 0, s"$q started ${r.buildJobs} job(s) while its DataFrame was built")
    } finally probe.close()
  }
}
