package layerbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.collection.mutable

/** Traced runs only: a `SparkListener` plus a `StreamingQueryListener`
  * that keep, in memory, every job, stage and micro-batch with the
  * operation and phase it ran under, and the task metrics summed per
  * (operation, phase). The harness tags each phase through the local
  * properties below; jobs inherit them, streaming threads included. */
class Tracer extends SparkListener {
  import Tracer._

  final class Agg {
    var tasks, runMs, cpuNs, schedMs, gcMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill, peakMem = 0L
    def json: String = Json.obj(Seq(
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
      "sched_ms" -> schedMs, "gc_ms" -> gcMs,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "fetch_wait_ms" -> fetchWaitMs, "spill" -> spill, "peak_mem" -> peakMem))
  }

  private case class Owner(op: Int, phase: String, job: Int)
  private val stageOwner = mutable.Map.empty[Int, Owner]
  private val jobOwner = mutable.Map.empty[Int, (Int, String)]
  private val jobStart = mutable.Map.empty[Int, Long]
  val aggs = mutable.Map.empty[(Int, String), Agg]
  val spans = mutable.ArrayBuffer.empty[String]
  val batches = mutable.ArrayBuffer.empty[String]

  private def owner(p: java.util.Properties): (Int, String) =
    if (p == null) (-1, "none")
    else (Option(p.getProperty(OpKey)).map(_.toInt).getOrElse(-1),
      Option(p.getProperty(PhaseKey)).getOrElse("none"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (op, phase) = owner(e.properties)
    jobOwner(e.jobId) = (op, phase)
    jobStart(e.jobId) = e.time
    e.stageInfos.foreach(s => stageOwner(s.stageId) = Owner(op, phase, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (op, phase) = jobOwner.getOrElse(e.jobId, (-1, "none"))
    spans += span("job", s"job${e.jobId}", jobStart.getOrElse(e.jobId, e.time) * 1000,
      e.time * 1000, op, phase, e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val o = stageOwner.getOrElse(i.stageId, Owner(-1, "none", -1))
    for (s <- i.submissionTime; c <- i.completionTime)
      spans += span("stage", s"stage${i.stageId}.${i.attemptNumber()}", s * 1000,
        c * 1000, o.op, o.phase, o.job)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val o = stageOwner.getOrElse(e.stageId, Owner(-1, "none", -1))
    val a = aggs.getOrElseUpdate((o.op, o.phase), new Agg)
    val info = e.taskInfo
    a.tasks += 1
    a.runMs += m.executorRunTime
    a.cpuNs += m.executorCpuTime
    a.gcMs += m.jvmGCTime
    val gettingResult =
      if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
    a.schedMs += math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
    a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    a.spill += m.diskBytesSpilled
    a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
  }

  /** Micro-batch progress, attributed to an operation by time. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(record(e.progress))
  }

  private def record(p: StreamingQueryProgress): Unit = {
    val d = p.durationMs
    def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val ops = p.stateOperators
    batches += Json.obj(Seq(
      "query" -> Json.str(String.valueOf(p.id)), "batch" -> p.batchId,
      "start_us" -> startMs * 1000, "input_rows" -> p.numInputRows,
      "trigger_ms" -> dur("triggerExecution"), "plan_ms" -> dur("queryPlanning"),
      "add_batch_ms" -> dur("addBatch"), "wal_ms" -> dur("walCommit"),
      "commit_ms" -> dur("commitOffsets"),
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum))
    spans += span("batch", s"batch${p.batchId}", startMs * 1000,
      (startMs + dur("triggerExecution")) * 1000, -1, "none", -1)
  }

  def phaseJson(op: Int): String = synchronized {
    Json.obj(aggs.collect { case ((`op`, ph), a) => ph -> a.json }.toSeq)
  }
  def jobsByPhase(op: Int): String = synchronized {
    Json.obj(jobOwner.values.filter(_._1 == op).groupBy(_._2)
      .map { case (ph, js) => ph -> js.size.toLong }.toSeq)
  }
}

object Tracer {
  val OpKey = "layerbench.op"
  val PhaseKey = "layerbench.phase"

  def span(kind: String, name: String, startUs: Long, endUs: Long,
           op: Int, phase: String, parent: Long): String =
    Json.obj(Seq("kind" -> Json.str(kind), "name" -> Json.str(name),
      "start_us" -> startUs, "end_us" -> endUs, "op" -> op.toLong,
      "phase" -> Json.str(phase), "ref" -> parent))
}

/** Just enough JSON for the harness's result file. Values are already
  * rendered unless they are numbers. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case d: Double => num(d)
      case l: Long => l.toString
      case i: Int => i.toString
      case b: Boolean => b.toString
      case s: String => s
      case other => str(String.valueOf(other))
    })
  }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
