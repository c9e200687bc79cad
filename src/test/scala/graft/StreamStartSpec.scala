package graft

import graft.queries.Registry
import graft.streaming.LocalCheckpointFileManager
import graft.util.Probe
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.metrics.source.CodegenMetrics

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** A repeated stream start pays no fixed per-start cost: its checkpoint
  * I/O forks no process, and its cloned session reuses the codegen
  * classes the first run compiled. Both settings that buy this are
  * scoped to the drain and put back afterwards. */
class StreamStartSpec extends SparkSpec {
  test("q92's second drain forks no process and recompiles at most 2 classes") {
    val q92 = Registry.byName("q92_streaming_drain")
    def run(): Long = Probe.force(q92.run(spark, sf001)).collect()(0).getLong(0)
    val keys = Seq("spark.sql.artifact.isolation.enabled", LocalCheckpointFileManager.ClassKey)
    val prior = keys.map(spark.conf.getOption)
    val first = run()

    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    recording.start()
    val second = try run() finally recording.stop()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val dump = Files.createTempFile("graft_q92", ".jfr")
    // A `Cleaner-N` thread runs `rm -rf` on a cloned session's artifact
    // directory when the GC collects that session: an earlier stream's
    // deferred cleanup, not a cost of this start, and timed by the GC.
    val forks = try {
      recording.dump(dump)
      RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(_.getThread("eventThread").getJavaName.startsWith("Cleaner-"))
        .map(_.getString("command")).toSeq
    } finally { recording.close(); Files.deleteIfExists(dump) }

    info(s"${forks.size} process starts, $compiles codegen compiles")
    assert(second === first)
    assert(forks.isEmpty, s"${forks.size} process starts: ${forks.distinct.take(5).mkString("; ")}")
    assert(compiles <= 2, s"$compiles codegen compiles in the second run")
    assert(keys.map(spark.conf.getOption) === prior)
  }
}
