package graft.util

import graft.queries.Registry
import org.apache.spark.graftprobe.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions.{col, count}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-query profile of graft's registry on [[graft.Bench]]'s protocol:
  * Bench's table warm, a snapshot of the kept RDDs, one warm sweep,
  * then two timed sweeps (each query keeps its faster run), with
  * `release()` after every query, outside the timer. Each run is split
  * around the public entry points: `Registry.byName(q).run` (build),
  * the force's `executedPlan` (plan) and its `collect` (exec).
  *
  * `runMain graft.util.Probe <sfDir> <outDir> [q…]` (no names = the
  * whole registry) writes one JSON object per query to
  * `<outDir>/profile.jsonl` and the final adaptive plan, which also
  * carries the initial one, to `<outDir>/plans/<q>.txt`. Confs come
  * from `SPARK_GRAFT_SETCONF` ([[SetConf]]). */
final class Probe(spark: SparkSession) extends AutoCloseable {
  import Probe._
  private val sc = spark.sparkContext
  /** The RDDs outside any query's scratch: the session table cache. */
  val keep: Set[Int] = sc.getPersistentRDDs.keySet.toSet
  private val seen = new Seen
  sc.addSparkListener(seen)
  spark.streams.addListener(seen.streams)

  private def release(): Unit = sc.getPersistentRDDs.foreach { case (id, rdd) =>
    if (!keep(id)) rdd.unpersist(blocking = false)
  }

  /** One run of `q` over `dir`; counters are read after the bus drained. */
  def measure(dir: String, q: String): Record = {
    Bus.drain(sc)
    seen.reset()
    val gc0 = gcMs
    val cg0 = codegen
    var forced: DataFrame = null
    var (value, error) = (-1L, Option.empty[String])
    val a = System.nanoTime()
    var (b, p) = (-1L, -1L)
    try {
      sc.setLocalProperty(PhaseKey, "build")
      val df = try Registry.byName(q).run(spark, dir) finally sc.setLocalProperty(PhaseKey, null)
      b = System.nanoTime()
      forced = force(df)
      forced.queryExecution.executedPlan
      p = System.nanoTime()
      value = forced.collect()(0).getLong(0)
    } catch { case NonFatal(e) => error = Some(String.valueOf(e.getMessage)) }
    val e = System.nanoTime()
    if (b < 0) b = e
    if (p < 0) p = e
    release()
    Bus.drain(sc)
    val cg1 = codegen
    val plan = if (error.isEmpty) forced.queryExecution.executedPlan.toString else ""
    seen.synchronized(Record(q, value, error, (b - a) / 1e9, (p - b) / 1e9, (e - p) / 1e9,
      (e - a) / 1e9, seen.buildJobs, seen.jobs, seen.stages, seen.tasks, seen.shuffleRead,
      seen.shuffleWrite, seen.spill, gcMs - gc0, cg1._1 - cg0._1,
      for (ms0 <- cg0._2; ms1 <- cg1._2) yield ms1 - ms0, seen.batches.toSeq, plan))
  }

  /** One warm sweep, then two timed sweeps, as Bench. */
  def sweep(dir: String, names: Seq[String]): Seq[Record] = {
    names.foreach(measure(dir, _))
    val (s1, s2) = (names.map(measure(dir, _)), names.map(measure(dir, _)))
    s1.zip(s2).map { case (x, y) => faster(x, y) }
  }

  def close(): Unit = {
    sc.removeSparkListener(seen)
    spark.streams.removeListener(seen.streams)
  }
}

object Probe {
  private val PhaseKey = "graft.probe.phase"

  final case class Batch(id: Long, inputRows: Long, durationMs: Map[String, Long],
                         stateRows: Long, stateCommitMs: Long)

  final case class Record(query: String, value: Long, error: Option[String],
                          buildS: Double, planS: Double, execS: Double, totalS: Double,
                          buildJobs: Int, jobs: Int, stages: Int, tasks: Long,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long,
                          gcMs: Long, compiles: Long, compileMs: Option[Long],
                          batches: Seq[Batch], plan: String) {
    def json: String = obj("query" -> str(query), "ok" -> error.isEmpty,
      "error" -> error.map(str).getOrElse("null"), "value" -> value, "build_s" -> buildS,
      "plan_s" -> planS, "exec_s" -> execS, "total_s" -> totalS, "build_jobs" -> buildJobs,
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill, "gc_ms" -> gcMs,
      "compiles" -> compiles, "compile_ms" -> compileMs.getOrElse("null"),
      "batches" -> batches.map(m => obj("batch" -> m.id, "input_rows" -> m.inputRows,
        "duration_ms" -> obj(m.durationMs.toSeq.sorted: _*), "state_rows" -> m.stateRows,
        "state_commit_ms" -> m.stateCommitMs)).mkString("[", ",", "]"))
  }

  /** The run a sweep keeps: the faster one, or a failed one so that
    * the failure shows. */
  def faster(x: Record, y: Record): Record =
    if (x.error.nonEmpty || (y.error.isEmpty && x.totalS <= y.totalS)) x else y

  /** Bench's force: every output column is evaluated. */
  def force(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => count(col(c))).reduce(_ + _))

  /** [[main]]'s protocol over each of `dirs`: the session cache on and
    * every dir's tables warmed before the probe snapshots the kept
    * RDDs, then per dir one [[Probe.sweep]]. One record list per dir. */
  def profile(spark: SparkSession, dirs: Seq[String], names: Seq[String]): Seq[Seq[Record]] = {
    Tables.enableSessionCache()
    dirs.foreach(warmTables(spark, _))
    val probe = new Probe(spark)
    try dirs.map(probe.sweep(_, names)) finally probe.close()
  }

  /** Bench's table warm, so that [[Probe.keep]] holds the session cache. */
  def warmTables(spark: SparkSession, dir: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def warm(df: => DataFrame): Unit = try df.count() catch { case NonFatal(_) => }
    Tables.names.foreach(t => warm(Tables(spark, dir, t)))
    Seq("events", "documents", "orders", "embeddings")
      .foreach(t => warm(Tables.wide(spark, dir, t)))
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Whole-stage-codegen compiles so far in this JVM and their summed
    * ms. The ms come from the compile-time histogram's reservoir, which
    * holds every sample only up to 1028; past that Dropwizard samples,
    * the sum is no total, and it reads None. */
  private def codegen: (Long, Option[Long]) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    (h.getCount, Option.when(s.size == h.getCount)(s.getValues.sum))
  }

  /** Scheduler and micro-batch counters of the run in flight. */
  private final class Seen extends SparkListener {
    var buildJobs, jobs, stages = 0
    var tasks, shuffleRead, shuffleWrite, spill = 0L
    val batches = ArrayBuffer.empty[Batch]
    def reset(): Unit = synchronized {
      buildJobs = 0; jobs = 0; stages = 0; tasks = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0
      batches.clear()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      if (Option(e.properties).exists(_.getProperty(PhaseKey) == "build")) buildJobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
      }
    }
    val streams: StreamingQueryListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        Seen.this.synchronized(batches += Batch(p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.commitTimeMs).sum))
      }
    }
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case c @ ('"' | '\\') => "\\" + c
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case d: Double => "%.6f".formatLocal(java.util.Locale.ROOT, d)
      case other => other.toString
    })
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <sfDir> <outDir> [q…]")
    val Array(dir, out) = args.take(2)
    val names = if (args.length > 2) args.drop(2).toSeq else Registry.all.map(_.name).sorted
    val unknown = names.filterNot(Registry.byName.contains)
    require(unknown.isEmpty, s"unknown query(s): ${unknown.mkString(",")}")
    val spark = Tables.session("probe")
    spark.sparkContext.setLogLevel("ERROR")
    SetConf(spark).foreach { case (k, v) => System.err.println(s"[conf] $k=$v") }
    val Seq(recs) = profile(spark, Seq(dir), names)
    def write(path: String, s: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)
    new java.io.File(s"$out/plans").mkdirs()
    write(s"$out/profile.jsonl", recs.map(_.json + "\n").mkString)
    recs.filter(_.error.isEmpty).foreach(r => write(s"$out/plans/${r.query}.txt", r.plan))
    recs.foreach(r => println(f"${r.query}%-34s${r.buildS}%8.3f${r.planS}%8.3f${r.execS}%8.3f" +
      f"${r.totalS}%8.3f ${r.jobs}%4d ${r.stages}%4d ${r.tasks}%6d ${r.compiles}%4d ${r.error.getOrElse("")}"))
    spark.stop()
  }
}
