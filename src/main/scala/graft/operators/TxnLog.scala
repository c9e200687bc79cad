package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal transaction-log table format: the ACID read path of a
  * 100-TB lakehouse (Delta/Iceberg-shaped, implemented from the
  * published protocol idea — an ordered log of add/remove file
  * actions whose replay defines each snapshot).
  *
  * Layout under `root`:
  * {{{
  *   _log/00000000.json      one commit per version, one action per
  *   _log/00000001.json      line: {"op":"add"|"remove","file":"<rel>"}
  *   <data dirs/files>       parquet written by any engine
  * }}}
  *
  * Why this scales: the LOG is the only thing replayed — O(commits)
  * driver-side work (the documented bounded-artifact convention; real
  * systems checkpoint the log, same contract) — while the DATA is
  * never listed by directory walk: the manifest comes from the log
  * and the schema from one parquet footer. Snapshot isolation and time
  * travel both fall out of replaying a version prefix: readers pin a
  * version and are immune to concurrent appends; `VERSION AS OF n` is
  * the same replay stopped early. A remove is metadata-only — deletes
  * and compactions publish rewritten files and retract the old ones
  * without touching readers of earlier versions.
  *
  * Commit publication is atomic-rename of a staged file (the same
  * object-store discipline as the q170 exactly-once sink): a log
  * version is either fully visible or absent, never partial.
  *
  * reference: the reference refreshes whole tables in place
  * (src/ETL_OSM/loader.py full-reload transaction); this is that
  * operation's lake-scale form — publish a new snapshot, never
  * rewrite in place.
  */
object TxnLog {

  private def logDir(root: String): Path = Paths.get(root, "_log")

  private def versionFile(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%08d.json")

  /** A published data file plus optional per-column [min,max] stats —
    * the zone-map metadata that lets a snapshot read PRUNE files by
    * predicate without opening them (the published data-skipping
    * design: stats ride in the log, so skipping costs zero data I/O). */
  final case class AddFile(file: String,
                           stats: Map[String, (Long, Long)] = Map.empty)

  /** Atomically publish commit `version`: stage the action file, then
    * rename into the log. Fails loudly if the version already exists
    * (optimistic concurrency — the loser of a commit race must
    * re-replay and retry, not overwrite). */
  def commit(root: String, version: Long,
             adds: Seq[String], removes: Seq[String] = Nil): Unit =
    commitFiles(root, version, adds.map(AddFile(_)), removes)

  /** Has `version` been published? The idempotence gate for writers
    * that may be re-driven (a redelivered micro-batch, a re-run
    * maintenance job): published = done, skip. */
  def committed(root: String, version: Long): Boolean =
    Files.exists(versionFile(root, version))

  private def checkpointFile(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%08d.ckpt")

  /** Publish a checkpoint of the live set as of `version`: the
    * replayed state materialized so later readers replay only the
    * commits AFTER it — O(tail), not O(all commits), on a
    * million-commit table. Idempotent (a checkpoint is derived data:
    * any two writers produce the same content) and additive (the
    * per-version files are retained, so time travel below the
    * checkpoint is untouched). */
  def checkpoint(root: String, version: Long): Unit = {
    val target = checkpointFile(root, version)
    if (Files.exists(target)) return
    val (_, adds) = liveAdds(root, Some(version))
    val body = adds.map(addLine).mkString("", "\n", "\n")
    val stage = logDir(root).resolve(
      f".ckstage_$version%08d_${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(stage, body.getBytes(StandardCharsets.UTF_8))
    try Files.createLink(target, stage)
    catch { // a racer published the identical derived state — fine
      case _: java.nio.file.FileAlreadyExistsException => ()
    }
    Files.deleteIfExists(stage)
  }

  private def latestCheckpointAtOrBelow(root: String,
                                        v: Long): Option[Long] = {
    val s = Files.list(logDir(root))
    try {
      val vs = scala.collection.mutable.ArrayBuffer.empty[Long]
      s.forEach { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".ckpt")) {
          val cv = n.stripSuffix(".ckpt").toLong
          if (cv <= v) vs += cv
        }
      }
      vs.maxOption
    } finally s.close()
  }

  private def checkpointAdds(root: String, v: Long): Seq[AddFile] =
    lines(checkpointFile(root, v)).map { line =>
      action(line) match {
        case Some(("add", a)) => a
        case _ => sys.error(s"unparseable checkpoint line at version $v: $line")
      }
    }

  // The log is engine-authored with the fixed shapes `addLine` and
  // `removeLine` write; it is parsed positionally, and anything else
  // fails loudly.
  private val ActionLine =
    """\{"op":"(add|remove)","file":"([^"]+)"(?:,"stats":\{([^}]*)\})?\}""".r
  private val StatEntry = """"([^"]+)":\[(-?\d+),(-?\d+)\]""".r

  private def addLine(a: AddFile): String = {
    val stats =
      if (a.stats.isEmpty) ""
      else a.stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s""""$c":[$lo,$hi]"""
      }.mkString(""","stats":{""", ",", "}")
    s"""{"op":"add","file":"${a.file}"$stats}"""
  }

  private def removeLine(file: String): String = s"""{"op":"remove","file":"$file"}"""

  /** (op, file with its logged stats) of one log line, None when the
    * line has no action shape. */
  private def action(line: String): Option[(String, AddFile)] = line match {
    case ActionLine(op, f, st) =>
      val stats = Option(st).fold(Map.empty[String, (Long, Long)]) { body =>
        StatEntry.findAllMatchIn(body).map { g =>
          g.group(1) -> (g.group(2).toLong, g.group(3).toLong)
        }.toMap
      }
      Some(op -> AddFile(f, stats))
    case _ => None
  }

  /** The non-empty lines of a log or checkpoint file. */
  private def lines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)

  /** `commit` with per-file column stats carried in the add actions. */
  def commitFiles(root: String, version: Long,
                  adds: Seq[AddFile], removes: Seq[String] = Nil): Unit = {
    Files.createDirectories(logDir(root))
    val target = versionFile(root, version)
    require(!Files.exists(target),
      s"txn log version $version already committed at $target")
    val body = (removes.map(removeLine) ++ adds.map(addLine)).mkString("", "\n", "\n")
    // unique stage name per attempt: two racers must not share a stage
    val stage = logDir(root).resolve(
      f".stage_$version%08d_${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(stage, body.getBytes(StandardCharsets.UTF_8))
    // Atomic O_EXCL publish: link() fails with EEXIST if the version
    // exists, so of N concurrent committers EXACTLY ONE wins and every
    // loser throws — a plain rename would silently REPLACE the
    // winner's commit (POSIX rename semantics), making the exists
    // check above a TOCTOU race. Readers only ever observe complete
    // files: the link appears atomically with its content final.
    try Files.createLink(target, stage)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(stage)
        throw new IllegalArgumentException(
          s"txn log version $version lost the commit race at $target — " +
            "re-replay and retry")
    }
    Files.deleteIfExists(stage)
  }

  /** Replay the log up to and including `asOf` (or the latest version
    * when None): returns (version read, live file set in first-added
    * order). Contiguity and referential integrity are REQUIREd — a
    * gap or a remove of an untracked file means a corrupted log, and
    * that must fail, not silently skip. */
  def liveFiles(root: String, asOf: Option[Long] = None): (Long, Seq[String]) = {
    val (v, adds) = liveAdds(root, asOf)
    (v, adds.map(a => Paths.get(root, a.file).toString))
  }

  /** `liveFiles` keeping each live file's logged column stats. */
  def liveAdds(root: String, asOf: Option[Long] = None): (Long, Seq[AddFile]) = {
    val dir = logDir(root)
    require(Files.isDirectory(dir), s"no transaction log under $root")
    val committed: Seq[Long] = {
      val s = Files.list(dir)
      try {
        val names = scala.collection.mutable.ArrayBuffer.empty[Long]
        s.forEach { p =>
          val n = p.getFileName.toString
          if (n.endsWith(".json")) names += n.stripSuffix(".json").toLong
        }
        names.toSeq.sorted
      } finally s.close()
    }
    require(committed.nonEmpty, s"empty transaction log under $root")
    require(committed.zipWithIndex.forall { case (v, i) => v == i },
      s"non-contiguous txn log versions $committed under $root")
    val readTo = asOf.getOrElse(committed.last)
    require(committed.contains(readTo),
      s"version $readTo not in txn log (have 0..${committed.last})")
    // first-added order kept stable so snapshot row order is
    // reproducible run to run (LinkedHashMap)
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    // start from the newest checkpoint at or below the read version:
    // the replay then costs O(tail commits), not O(all commits) — the
    // published checkpointing design that keeps a million-commit
    // table's metadata readable. Versions BELOW the checkpoint stay
    // replayable from the retained per-version files (time travel is
    // untouched; checkpoints add a shortcut, never drop history).
    val ckptFrom = latestCheckpointAtOrBelow(root, readTo) match {
      case Some(cv) =>
        checkpointAdds(root, cv).foreach(a => live.put(a.file, a))
        cv + 1
      case None => 0L
    }
    (ckptFrom to readTo).foreach { v =>
      lines(versionFile(root, v)).foreach { line =>
        action(line) match {
          case Some(("add", a)) =>
            require(live.put(a.file, a).isEmpty, s"double add of ${a.file} at version $v")
          case Some((_, a)) =>
            require(live.remove(a.file).nonEmpty, s"remove of untracked ${a.file} at version $v")
          case None =>
            sys.error(s"unparseable txn log line at version $v: $line")
        }
      }
    }
    (readTo, live.values.toSeq)
  }

  /** Snapshot read: replay to `asOf` (latest when None), scan exactly
    * the live files. The file manifest comes from the log, never from
    * a directory walk of the data tree, and the schema from one footer
    * of the first live file ([[graft.util.ParquetRead]]), so building
    * the snapshot runs no Spark job. A missing live file fails here. */
  def snapshot(spark: SparkSession, root: String,
               asOf: Option[Long] = None): DataFrame = {
    val (_, files) = liveFiles(root, asOf)
    require(files.nonEmpty, s"snapshot of $root has no live files")
    graft.util.ParquetRead.read(spark, files: _*)
  }

  /** The rows of the snapshot at `asOf` (latest when None), summed
    * from the parquet footers of its live files on the driver
    * ([[graft.util.ParquetRead.rowCount]]): the same files a snapshot
    * scans, counted without a Spark job. A missing live file throws
    * `FileNotFoundException`, as the snapshot read does. */
  def rowCount(spark: SparkSession, root: String, asOf: Option[Long] = None): Long =
    graft.util.ParquetRead.rowCount(spark, liveFiles(root, asOf)._2: _*)

  /** Stats-pruned snapshot read for a `col BETWEEN lo AND hi`
    * predicate: files whose logged [min,max] cannot intersect the
    * range are skipped WITHOUT any data I/O — the log-carried
    * zone-map that makes a selective query on a million-file table
    * touch only its keyed slice. Returns (df over surviving files,
    * files read, files total). Files with no logged stats for `col`
    * are conservatively read (skipping must never drop a match). */
  def prunedSnapshot(spark: SparkSession, root: String, colName: String,
                     lo: Long, hi: Long,
                     asOf: Option[Long] = None): (DataFrame, Long, Long) = {
    val (_, adds) = liveAdds(root, asOf)
    require(adds.nonEmpty, s"snapshot of $root has no live files")
    val kept = adds.filter(a => a.stats.get(colName) match {
      case Some((mn, mx)) => mx >= lo && mn <= hi
      case None => true
    })
    require(kept.nonEmpty, s"predicate [$lo,$hi] on $colName prunes every file")
    val df = graft.util.ParquetRead.read(spark,
      kept.map(a => Paths.get(root, a.file).toString): _*)
    (df, kept.size.toLong, adds.size.toLong)
  }

  /** Version-range change feed (CDC): the FILE-level diff between two
    * snapshots, computed purely from log replay — (files contributing
    * inserts, files contributing deletes). Work is bounded by CHURN
    * (only files that entered or left the live set between the
    * versions are returned for reading), never by table size; a file
    * added and retracted inside the range cancels out. Row-level net
    * changes are then an exceptAll between the two bounded sides —
    * a copy-on-write rewrite's carried-over rows cancel there. */
  def changes(root: String, fromV: Long,
              toV: Long): (Seq[String], Seq[String]) = {
    require(fromV <= toV, s"changes($fromV -> $toV) runs backwards")
    val before = liveFiles(root, Some(fromV))._2.toSet
    val after = liveFiles(root, Some(toV))._2.toSet
    ((after -- before).toSeq.sorted, (before -- after).toSeq.sorted)
  }

  /** Files retracted on or before `retainVersion` and not live in ANY
    * version > `retainVersion`'s replay — physically deletable once
    * no reader can pin a version that needs them. Replay-only
    * metadata work, O(commits). */
  def vacuumable(root: String, retainVersion: Long): Seq[String] = {
    val (latest, _) = liveAdds(root, None)
    // a file is needed iff it is live at some version >= retainVersion
    val needed = (retainVersion to latest)
      .flatMap(v => liveFiles(root, Some(v))._2).toSet
    val everAdded = (0L to latest).flatMap { v =>
      lines(versionFile(root, v)).flatMap(action).collect { case ("add", a) => a.file }
    }.toSet
    (everAdded.map(f => Paths.get(root, f).toString) -- needed)
      .toSeq.sorted
  }
}
