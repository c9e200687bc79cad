package layerbench

import graft.queries.Registry
import graft.util.Tables
import org.apache.spark.layerbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, count}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: session, table load into graft's
  * session cache, a warm pass that also writes every output for the
  * oracle check, then `passes` timed passes in a closed loop (one
  * client, one operation in flight). Every layer is timed from outside,
  * around its public entry point:
  *   - `Tables(...)` / `Tables.wide` (load),
  *   - `Registry.byName(q).run` (construction),
  *   - `executedPlan` of Bench's every-column count (planning),
  *   - the count's `collect` (execution).
  * Listener-bus drain and scratch release after each operation, and
  * `System.gc()` before each pass, run outside every timer. Raw records
  * go to `<out>/result.json`; `run.py` turns them into metrics.
  *
  * Arguments are `key=value`: out, data, tables and ops (comma lists),
  * passes, seed, trace (0|1), cpus, local. `mode=oracles` only writes
  * the ops' DuckDB oracle SQL to `<out>/oracle.json`.
  */
object Harness {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  private def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  /** Bench's force: every output column is evaluated. */
  def force(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => count(col(c))).reduce(_ + _))

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): (Long, Long) =
      (collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size.toLong,
        collectWithSubqueries(p) { case r: ReusedExchangeExec => r }.size.toLong)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  /** Bytes written as Hadoop counts them, both tables: `FileSystem`
    * (sinks, parquet) and `FileContext` (streaming checkpoints). */
  private def fsWritten: Long =
    (org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala ++
      org.apache.hadoop.fs.FileContext.getAllStatistics.asScala.values)
      .map(_.getBytesWritten).sum
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileMsSum: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum

  def main(args: Array[String]): Unit = {
    val c = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val out = c("out")
    val ops = c("ops").split(",").toSeq
    val passes = c("passes").toInt
    val seed = c("seed").toLong
    val traced = c("trace") == "1"
    val cpus = c("cpus")
    val unknown = ops.filterNot(Registry.byName.contains)
    require(unknown.isEmpty, s"unknown operation(s): ${unknown.mkString(",")}")
    new File(out).mkdirs()
    val oracles = ops.flatMap(n => Registry.byName(n).oracle.map(n -> _))
    val pw0 = new PrintWriter(s"$out/oracle.json")
    try pw0.print(Json.obj(oracles.map { case (n, s) => n -> Json.str(s) }))
    finally pw0.close()
    if (c.get("mode").contains("oracles")) return

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("layerbench")
      // Bench's static confs
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c("local"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionUs = nowUs
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.streams.addListener(t.streams) }
    val spans = ArrayBuffer.empty[String]
    def span(kind: String, name: String, a: Long, b: Long, op: Int = -1,
             phase: String = "none"): Unit =
      if (traced) spans += Tracer.span(kind, name, a, b, op, phase, -1)

    val dir = c("data")
    val present = c("tables").split(",").toSeq

    Tables.enableSessionCache()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val loadA = nowUs
    def timed(name: String)(f: => Unit): (String, Any) = {
      val a = nowUs
      f
      name -> (nowUs - a)
    }
    val loadParts =
      present.map(t => timed(t)(Tables(spark, dir, t).count())) ++
        Seq("events", "documents", "orders", "embeddings").filter(present.contains)
          .map(t => timed(s"$t#wide")(Tables.wide(spark, dir, t).count()))
    val loadB = nowUs
    span("load", "tables", loadA, loadB)
    val keep = sc.getPersistentRDDs.keySet.toSet
    val cached = sc.getRDDStorageInfo.filter(r => keep(r.id))
    val cacheBytes = cached.map(r => r.memSize + r.diskSize).sum
    val cachePartitions = cached.map(_.numPartitions.toLong).sum
    val storagePool = sc.getExecutorMemoryStatus.values.map(_._1).sum

    var released = 0L
    var releaseUs = 0L
    def release(op: Int): Unit = {
      val a = nowUs
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) { rdd.unpersist(blocking = true); released += 1 }
      }
      val b = nowUs
      releaseUs += b - a
      span("release", "release", a, b, op)
    }

    // warm pass: each output written once for the oracle check
    val warmA = nowUs
    val cg0 = (compiles, compileMsSum)
    val warmErrors = ArrayBuffer.empty[String]
    new scala.util.Random(seed).shuffle(ops).foreach { name =>
      try Registry.byName(name).run(spark, dir).coalesce(1).write
        .mode("overwrite").parquet(s"$out/verify/$name")
      catch { case e: Throwable =>
        warmErrors += Json.obj(Seq("op" -> Json.str(name),
          "error" -> Json.str(String.valueOf(e.getMessage).take(500))))
      }
      release(-1)
    }
    val cg1 = (compiles, compileMsSum)
    val warmB = nowUs
    releaseUs = 0L
    released = 0L
    tracer.foreach(_ => Bus.drain(sc))
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

    val execs = ArrayBuffer.empty[String]
    val passSpans = ArrayBuffer.empty[(Long, Long)]
    var seq = 0
    var firstOpUs = -1L
    def runOp(name: String, pass: Int): Unit = {
      seq += 1
      val id = seq
      sc.setLocalProperty(Tracer.OpKey, id.toString)
      def phase(p: String): Unit = sc.setLocalProperty(Tracer.PhaseKey, p)
      val gc0 = gcMs
      val fs0 = fsWritten
      val cc0 = compiles
      var forced: DataFrame = null
      var value = -1L
      var err = ""
      val a = nowUs
      if (firstOpUs < 0) firstOpUs = a
      var b, p = -1L
      phase("build")
      try {
        val df = Registry.byName(name).run(spark, dir)
        b = nowUs
        phase("plan")
        forced = force(df)
        forced.queryExecution.executedPlan
        p = nowUs
        phase("exec")
        value = forced.collect()(0).getLong(0)
      } catch { case e: Throwable => err = String.valueOf(e.getMessage).take(500) }
      val e = nowUs
      if (b < 0) b = e
      if (p < 0) p = e
      phase(null)
      sc.setLocalProperty(Tracer.OpKey, null)
      // outside the timer from here on. Drain the listener bus, so that
      // no event handling of this operation lands in the next one's timer
      Bus.drain(sc)
      val fs1 = fsWritten
      val rec = ArrayBuffer[(String, Any)](
        "op" -> Json.str(name), "seq" -> id, "pass" -> pass,
        "start_us" -> a, "build_us" -> b, "plan_us" -> p, "end_us" -> e,
        "ok" -> err.isEmpty, "value" -> value, "error" -> Json.str(err))
      tracer.foreach { t =>
        val (ex, reused) =
          if (forced != null && err.isEmpty) PlanWalk.exchanges(forced.queryExecution.executedPlan)
          else (0L, 0L)
        rec ++= Seq("exchanges" -> ex, "reused_exchanges" -> reused,
          "compiles" -> (compiles - cc0), "gc_ms" -> (gcMs - gc0),
          "fs_write_bytes" -> (fs1 - fs0),
          "jobs" -> t.jobsByPhase(id), "tasks" -> t.phaseJson(id))
        span("op", name, a, e, id)
        span("phase", "build", a, b, id, "build")
        span("phase", "plan", b, p, id, "plan")
        span("phase", "exec", p, e, id, "exec")
      }
      execs += Json.obj(rec.toSeq)
      release(id)
    }

    for (pass <- 1 to passes) {
      System.gc()
      val a = nowUs
      new scala.util.Random(seed * 1000 + pass).shuffle(ops).foreach(runOp(_, pass))
      val b = nowUs
      passSpans += ((a, b))
      span("pass", s"pass$pass", a, b)
    }
    val runEnd = nowUs
    tracer.foreach(_ => Bus.drain(sc))
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum

    val traceFields: Seq[(String, Any)] = tracer.map { t =>
      span("run", "run", firstOpUs, runEnd)
      Seq("spans" -> Json.arr(spans ++ t.synchronized(t.spans.toSeq)),
        "batches" -> Json.arr(t.synchronized(t.batches.toSeq)))
    }.getOrElse(Nil)
    val result = Json.obj(Seq[(String, Any)](
      "spark" -> Json.str(spark.version),
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "session_us" -> sessionUs,
      "load_us" -> (loadB - loadA), "load_parts_us" -> Json.obj(loadParts),
      "warm_us" -> (warmB - warmA), "first_op_us" -> firstOpUs,
      "cache_bytes" -> cacheBytes, "cache_partitions" -> cachePartitions,
      "storage_pool_bytes" -> storagePool,
      "warm_compiles" -> (cg1._1 - cg0._1), "warm_compile_ms" -> (cg1._2 - cg0._2),
      "released_rdds" -> released, "release_us" -> releaseUs,
      "heap_peak_bytes" -> heapPeak,
      "passes" -> Json.arr(passSpans.map { case (a, b) => s"[$a,$b]" }),
      "warm_errors" -> Json.arr(warmErrors),
      "execs" -> Json.arr(execs)) ++ traceFields)
    val pw = new PrintWriter(s"$out/result.json")
    try pw.print(result) finally pw.close()
    spark.stop()
    sys.exit(0)
  }
}
