package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.9): the reference's
  * poll-until-empty loops / RQ queues (properties_poi_matcher.py:156-163,
  * docs.py:26-113) become declarative streams; its 60 s clock-skew
  * tolerance (base_provider.py:146-149) becomes a watermark.
  *
  * Batch/stream parity: these transforms take a DataFrame (batch or
  * streaming) and compose identically — `readStream` + Trigger
  * .AvailableNow for incremental catch-up runs, `read` for backfills.
  * State stores keep the windowed aggregations bounded at 100 TB/day
  * ingest; the watermark bounds state size.
  */
object EventStreams {

  /** Per-key bounded top-k buffer carried across micro-batches by
    * [[streamingTopK]]: `version` increments per emission so the
    * final snapshot is selectable from an update-mode sink. */
  final case class TopKBuf(version: Long, items: Seq[(Long, Long)])

  /** Streaming per-user top-k by value — the bounded-buffer custom
    * state shape (next to StatusMachine's transition state and the
    * built-in dedupe/join state): `mapGroupsWithState` holds AT MOST
    * k (v_us, event_id) pairs per user no matter how many events the
    * drain replays — O(users·k) state, the streaming twin of the
    * TopKPhysical partial pass. Each emission carries a per-key
    * version; the final snapshot is the max-version row per user
    * (update-mode sinks append every batch's emission). Deterministic
    * under any batch split: the buffer merge re-sorts by
    * (v_us desc, event_id) — pinned by the batch-twin oracle. */
  def streamingTopK(events: DataFrame, k: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast(LongType), col("event_id").cast(LongType),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v_us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[TopKBuf, (Long, Long, Seq[(Long, Long)])](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (user, rows, state) =>
          val prev = state.getOption.getOrElse(TopKBuf(0L, Nil))
          val merged = (prev.items ++ rows.map(r => (r._3, r._2)))
            .sortBy { case (v, id) => (-v, id) }.take(k)
          val next = TopKBuf(prev.version + 1, merged)
          state.update(next)
          (user, next.version, merged)
      }
      .toDF("user_id", "ver", "items")
  }

  /** Schema of the events stream (ts pre-converted to µs). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Tumbling event-time window aggregation with late-data tolerance.
    * Works on batch and streaming inputs alike. */
  def hourlyByType(events: DataFrame, watermark: String = "60 seconds"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Sliding event-time windows (streaming twin of q82: 1 h window,
    * 30 min slide — each event lands in window/slide overlapping
    * windows; the watermark bounds how many open windows the state
    * store holds). */
  def slidingByType(events: DataFrame, watermark: String = "60 seconds"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Event-time session windows (gap-close semantics — streaming twin
    * of operators.Sessionize). */
  def sessionized(events: DataFrame, gap: String = "30 minutes",
                  watermark: String = "60 seconds"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
  }

  /** Stateful dedup on a content hash within the watermark horizon —
    * the streaming form of the loader's hash-gated skip (ST3,
    * loader_v2.py:204). */
  def dedupByHash(events: DataFrame, hashCol: String,
                  watermark: String = "1 hour"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm.dropDuplicates(hashCol, "ts")
  }

  /** Stream-stream interval join: each left event pairs with right
    * events for the same user within [0, horizon] AFTER it (e.g. view →
    * purchase attribution). Both sides carry watermarks so the state
    * store can evict rows once the interval can no longer match —
    * the bounded-state formulation Structured Streaming requires for
    * stream-stream joins, and exactly how an attribution join stays
    * finite on an unbounded feed. Works on batch inputs too (the
    * interval condition is the same expression). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   horizon: String = "30 minutes",
                   watermark: String = "60 seconds",
                   joinType: String = "inner"): DataFrame = {
    val l0 = left.select(col("user_id"), col("event_id").as("l_id"),
      col("ts").as("l_ts"))
    val r0 = right.select(col("user_id").as("r_user"),
      col("event_id").as("r_id"), col("ts").as("r_ts"))
    val (l, r) =
      if (left.isStreaming) (l0.withWatermark("l_ts", watermark),
        r0.withWatermark("r_ts", watermark))
      else (l0, r0)
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizon"),
      joinType)
      .select(col("user_id"), col("l_id"), col("r_id"),
        col("l_ts"), col("r_ts"))
  }

  /** State-store backend toggle for graft streaming queries: set
    * `spark.graft.stateStore=rocksdb` on the session to run stateful
    * operators against Spark's disk-backed RocksDBStateStoreProvider —
    * the 100-TB posture, where dedupe/join key state can exceed
    * executor heap and the default HDFS-backed in-memory store would
    * OOM. `hdfs` (or unset) keeps the default. Results are identical
    * either way (StreamingSpec pins q93's cross-batch dedupe under
    * both providers); only state residency changes. */
  private def applyStateStoreChoice(spark: SparkSession): Unit =
    spark.conf.getOption("spark.graft.stateStore").foreach {
      case "rocksdb" =>
        spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // Changelog checkpointing: commit uploads the per-batch delta
        // instead of a full SST snapshot — the 10× pair read q117
        // 5.6→3.5 s (parity with the in-memory store) and q168
        // 16.2→10.1 s with it on. Honor an explicit user setting.
        val clKey =
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        if (spark.conf.getOption(clKey).isEmpty)
          spark.conf.set(clKey, "true")
      case "hdfs" => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      case other => throw new IllegalArgumentException(
        s"spark.graft.stateStore must be rocksdb|hdfs, got '$other'")
    }

  /** Run a streaming DataFrame to completion against a memory sink and
    * return the materialized result (AvailableNow = process whatever
    * is in the source, then stop — the reference's drain-the-queue
    * batch loop ST1).
    *
    * `noDataFlush` controls `noDataMicroBatches.enabled` for this run:
    * the extra empty batch exists to EMIT state evicted by a watermark
    * advance — required when eviction itself produces output (q168's
    * outer-join null rows), pure per-batch overhead for aggregations/
    * dedup/update sinks whose output is complete at the last data
    * batch (one plan+commit round saved per drain).
    *
    * The default (false) flips Spark's own default
    * (noDataMicroBatches.enabled=true) off, which is output-safe for
    * every current caller (complete/update aggregations, dedupe,
    * inner joins) but would silently drop the final watermark-flushed
    * rows of an APPEND-mode windowed aggregation or outer join. The
    * guard below makes that misuse a loud error instead of missing
    * rows: plans whose output is produced BY watermark eviction must
    * pass noDataFlush=true. */
  def runAvailableNow(spark: SparkSession, streamed: DataFrame,
                      queryName: String, outputMode: String = "complete",
                      noDataFlush: Boolean = false): DataFrame = {
    if (!noDataFlush && outputMode == "append") {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, EventTimeWatermark, Join}
      import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftOuter, RightOuter}
      val plan = streamed.queryExecution.analyzed
      val watermarked = plan.exists(_.isInstanceOf[EventTimeWatermark])
      // Only STREAMING aggregates/outer joins emit on watermark
      // eviction; a batch-side aggregate joined into the stream (its
      // subtree has isStreaming=false) produces output eagerly and
      // must not trip the guard.
      val evictionEmits = watermarked && plan.exists {
        case a: Aggregate => a.isStreaming // emits windows on watermark close
        case j: Join if j.isStreaming =>
          j.joinType match { // outer null rows emit on eviction
            case LeftOuter | RightOuter | FullOuter => true
            case _ => false
          }
        case _ => false
      }
      require(!evictionEmits,
        s"runAvailableNow($queryName): append-mode plan contains a " +
          "watermarked aggregation or outer join — its final rows are " +
          "emitted by the watermark-advance flush batch. Pass " +
          "noDataFlush=true (Spark's noDataMicroBatches default) or the " +
          "last windows/null rows are silently dropped.")
    }
    applyStateStoreChoice(spark)
    withConfs(spark, Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> noDataFlush.toString)) {
      drain(spark, streamed.writeStream
        .format("memory").queryName(queryName).outputMode(outputMode), s"ckpt_$queryName")
      memorySinkResult(spark, queryName)
    }
  }

  /** The rows of the finished memory-sink query `queryName`. The sink
    * registers them as a temp view; the DataFrame is resolved before
    * the view is dropped, so it keeps the rows and the session catalog
    * does not keep one view (and its rows) per drain. */
  private[graft] def memorySinkResult(spark: SparkSession, queryName: String): DataFrame = {
    val rows = spark.table(queryName)
    spark.catalog.dropTempView(queryName)
    rows
  }

  /** What every graft stream starts under, for its cloned session:
    *  - artifact isolation off, so the clone runs on the shared
    *    executor class loader. `CodeGenerator`'s cache is keyed by
    *    (class loader, code); an isolated clone gets a fresh
    *    `ExecutorClassLoader` and recompiles every whole-stage-codegen
    *    class the session has already compiled (14 per q92 run at
    *    sf0.1). graft adds no session artifacts.
    *  - [[LocalCheckpointFileManager]], which writes `file:` checkpoints
    *    without forking `chmod`/`readlink` (over 100 per q92 drain). */
  private val StartConfs = Seq(
    "spark.sql.artifact.isolation.enabled" -> "false",
    LocalCheckpointFileManager.ClassKey -> classOf[LocalCheckpointFileManager].getName)

  /** Run `writer` to completion under Trigger.AvailableNow with a fresh
    * scratch checkpoint (`graft.util.Scratch`, RAM-backed: offset log and
    * state commits are per-invocation transient here; a durable URI takes
    * this slot on a real deployment). [[StartConfs]] are set for the
    * drain and restored after it. Every graft stream starts here. */
  def drain(spark: SparkSession, writer: DataStreamWriter[_], checkpoint: String): StreamingQuery =
    withConfs(spark, StartConfs) {
      val q = writer
        .option("checkpointLocation", graft.util.Scratch.tempDir(checkpoint))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }

  /** `body` with `confs` set on `spark`; each prior value is put back
    * (or the key unset) afterwards, also when `body` throws. */
  private[graft] def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
