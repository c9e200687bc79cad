package graft

import graft.queries.EventQueries
import graft.streaming.{EventStreams, LocalCheckpointFileManager}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** `LocalCheckpointFileManager` keeps the contract and the on-disk
  * layout of Spark's default checkpoint manager, and a checkpoint
  * written by either one resumes under the other. */
class CheckpointIoSpec extends SparkSpec {
  private val conf = new Configuration()
  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString
  private def local(dir: String) = new LocalCheckpointFileManager(new Path(dir), conf)
  private def publish(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  /** Every file and directory under `root` (dot files included), by relative path, with its mode. */
  private def tree(root: String): Map[String, String] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
  }

  test("no-overwrite publish of an existing file fails; overwrite replaces it") {
    val dir = tmp("graft_ckpt_io")
    val fm = local(dir)
    val p = new Path(dir, "0")
    publish(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](publish(fm, p, "second", overwrite = false))
    assert(read(fm, p) === "first")
    publish(fm, p, "third", overwrite = true)
    // open() verifies the .crc sidecar, so a stale checksum fails here
    assert(read(fm, p) === "third")
    // the refused publish leaves its dot-named temp file, as Spark's own managers do
    assert(fm.list(new Path(dir)).map(_.getPath.getName).filterNot(_.startsWith(".")).toSeq === Seq("0"))
  }

  test("cancel() leaves no file behind") {
    val dir = tmp("graft_ckpt_cancel")
    val fm = local(dir)
    val out = fm.createAtomic(new Path(dir, "1"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(new Path(dir, "1")))
    assert(tree(dir).isEmpty, tree(dir))
  }

  test("permission bits and .crc sidecars equal Spark's default manager's") {
    def calls(fm: CheckpointFileManager, root: String): Map[String, String] = {
      fm.createCheckpointDirectory()
      fm.mkdirs(new Path(root, "offsets"))
      fm.mkdirs(new Path(root, "state/0/1"))
      publish(fm, new Path(root, "offsets/0"), "v1", overwrite = false)
      publish(fm, new Path(root, "state/0/1/1.delta"), "d", overwrite = true)
      publish(fm, new Path(root, "state/0/1/1.delta"), "d2", overwrite = true)
      publish(fm, new Path(root, "metadata"), "{}", overwrite = false)
      tree(root)
    }
    val (a, b) = (tmp("graft_ckpt_spark") + "/ckpt", tmp("graft_ckpt_graft") + "/ckpt")
    val default = CheckpointFileManager.create(new Path(a), conf)
    assert(default.isInstanceOf[FileContextBasedCheckpointFileManager])
    val viaSpark = calls(default, a)
    val viaGraft = calls(local(b), b)
    assert(viaGraft === viaSpark)
    assert(viaGraft.keySet.count(_.endsWith(".crc")) === 3, viaGraft)
    assert(viaGraft("offsets/0") === "rw-r--r--" && viaGraft("offsets") === "rwxr-xr-x", viaGraft)
  }

  test("a non-file: path gets Spark's default manager") {
    assert(local(tmp("graft_ckpt_scheme")).underlying.getClass.getSimpleName === "OnLocalFs")
    val other = new Configuration(conf)
    other.set("fs.graftcheck.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    val fm = new LocalCheckpointFileManager(new Path("graftcheck:///ckpt"), other)
    val default = CheckpointFileManager.create(new Path("graftcheck:///ckpt"), other)
    // no FileContext binding for the scheme: Spark falls back to its FileSystem manager
    assert(default.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(fm.underlying.getClass === default.getClass)
  }

  test("a drain checkpointed under either manager resumes under the other") {
    val events = EventQueries.events(spark, sf001).cache()
    val parts = tmp("graft_ckpt_parts")
    events.repartition(4).write.mode("overwrite").parquet(parts)
    val files = new java.io.File(parts).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(files.length === 4)
    val expected = EventStreams.hourlyByType(events)
      .orderBy("hour_start", "event_type").collect().toSeq
    val managers = Seq(None, Some(classOf[LocalCheckpointFileManager].getName))

    for ((first, second) <- Seq(managers, managers.reverse).map(m => (m(0), m(1)))) {
      val src = tmp("graft_ckpt_src")
      val ckpt = tmp("graft_ckpt_resume")
      def stage(fs: Seq[java.io.File]): Unit =
        fs.foreach(f => Files.copy(f.toPath, Paths.get(src, f.getName)))
      /** The drain's output and the ids of its batches that read data. */
      def drain(manager: Option[String], name: String): (Seq[org.apache.spark.sql.Row], Seq[Long]) = {
        manager match {
          case Some(m) => spark.conf.set(LocalCheckpointFileManager.ClassKey, m)
          case None => spark.conf.unset(LocalCheckpointFileManager.ClassKey)
        }
        try {
          val q = EventStreams.hourlyByType(spark.readStream.schema(EventStreams.eventSchema)
              .option("maxFilesPerTrigger", "1").parquet(src))
            .writeStream.format("memory").queryName(name).outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (spark.table(name).orderBy("hour_start", "event_type").collect().toSeq,
            q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq)
        } finally spark.conf.unset(LocalCheckpointFileManager.ClassKey)
      }
      // batches 0 and 1 under one manager, then batches 2 and 3 on the same checkpoint
      stage(files.take(2))
      val tag = first.fold("spark")(_ => "graft")
      assert(drain(first, s"ckpt_resume_${tag}_a")._2 === Seq(0L, 1L))
      stage(files.drop(2))
      val (rows, batches) = drain(second, s"ckpt_resume_${tag}_b")
      assert(batches.size === 2 && batches.min >= 2, s"not resumed: batches $batches")
      assert(rows === expected, s"$first then $second")
    }
    events.unpersist()
  }
}
