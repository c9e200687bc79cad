package graft.queries

import graft.streaming.EventStreams
import graft.util.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-verifiable Structured Streaming surface (ST1–ST4).
  *
  * Each query here runs a REAL streaming pipeline to completion inside
  * the query function — a file source split into several micro-batches
  * (the reference's poll-until-empty drain loop,
  * properties_poi_matcher.py:156-163, becomes Trigger.AvailableNow) —
  * and returns the materialized result, so the DuckDB oracle checks
  * streaming semantics, not just the batch twins.
  *
  * Memory sinks are the harness endpoint only (bounded: windowed-agg
  * snapshots or slim key projections); the production sink path is
  * foreachBatch → parquet, which q94 exercises end-to-end with exact
  * decimal partials so the per-batch/final-combine split cannot change
  * the emitted doubles.
  */
object StreamQueries {

  // one staging of the µs-converted events per (JVM, sf dir, source
  // state): the file streaming source needs a directory of several
  // files to form a real multi-batch drain, and re-staging per query
  // would triple the I/O. The cache key embeds a fingerprint of the
  // source's file set, so an events table that CHANGES under the same
  // path re-stages instead of silently serving stale staging; staged
  // temp dirs are removed by a JVM shutdown hook, so repeated sessions
  // don't leak /tmp directories.
  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sourceFingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$dir/events.parquet")).sortBy(_.getPath)
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString("|").hashCode.toHexString
  }
  /** The staging dir of `tag` for `dir`'s events, filled by `write`
    * on first use (RAM-backed + deleted at JVM exit, graft.util.Scratch). */
  private def stage(s: SparkSession, dir: String, tag: String)(write: String => Unit): String =
    stagedDirs.computeIfAbsent(s"$tag:$dir@${sourceFingerprint(dir)}", { _ =>
      val out = graft.util.Scratch.tempDir(s"graft_stream_$tag")
      write(out)
      out
    })

  /** A file stream of events over staged dir `d`, `n` files per trigger. */
  private def fileStream(s: SparkSession, d: String, n: Int): DataFrame =
    s.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", n.toString).parquet(d)

  private def staged(s: SparkSession, dir: String): String =
    stage(s, dir, "src") { out =>
      EventQueries.events(s, dir).repartition(8)
        .write.mode("overwrite").parquet(out)
    }

  // 8 files → ONE admission poll: the bench-path drain pays a single
  // plan + state-commit round (plus the final no-data round where a
  // query opts in). Cross-batch state semantics are NOT exercised here
  // by design — StreamingSpec pins them with 1-file triggers, and the
  // 10× ScaleTrial streaming probe runs the multi-batch catch-up shape.
  private def source(s: SparkSession, dir: String): DataFrame =
    fileStream(s, staged(s, dir), 8)

  // q93's source: the events staged TWICE (append of a second full
  // copy), so every row has a cross-micro-batch duplicate and the
  // dedup state genuinely halves the stream — a single-copy source
  // would make dropDuplicates vacuously equal to the input.
  // 16 files → 2 polls: q93 IS the cross-micro-batch dedupe demo
  // (ST3) — its duplicates must arrive in a LATER batch than the
  // originals, so this source keeps a genuine 2-batch drain
  private def dupSource(s: SparkSession, dir: String): DataFrame =
    fileStream(s, stage(s, dir, "dup") { out =>
      val ev = EventQueries.events(s, dir).repartition(8)
      ev.write.mode("overwrite").parquet(out)
      ev.write.mode("append").parquet(out)
    }, 8)

  private def uniq(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")

  /** Run `body` with a scoped shuffle-partition override sized to the
    * SOURCE, not the session: a streaming query fixes its STATE
    * partition count from the session conf at first start, and a
    * too-high count makes per-batch store commits dominate when the
    * state is only thousands of slim rows (32 stores × commit files ×
    * batches for kilobytes of state). Partitions = staged bytes /
    * 2 MiB, clamped to [4, session setting] — small drains get cheap
    * commits (the floor engages only under 8 MiB staged, where state
    * is KBs and per-partition commit cost dominates), and a
    * corpus-scale stream ramps back to the session's full
    * parallelism (a 50× dedup drain with ~5M keys already lands near
    * the cap under this divisor).
    * Identical results either way (fresh
    * checkpoint per run, so the lifetime property can't leak); the
    * previous value is always restored.
    *
    * NOT reentrant: this mutates the session-global conf and the
    * registry mains (Bench/Verify) run queries strictly sequentially —
    * driving two registry queries concurrently on one session would
    * race the override. If that ever becomes a need, scope the conf
    * via `spark.newSession()` per query instead.
    *
    * Multi-source queries (q95) pass EVERY dir they actually stream so
    * the count is sized from the real input, not a superset. */
  private def withStatePartitions[T](s: SparkSession, dirs: Seq[String])(body: => T): T = {
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()
    val sessionN = s.conf.get("spark.sql.shuffle.partitions").toInt
    val staged = dirs.map(d => du(new java.io.File(d))).sum
    // Divisor: 2 MiB of staged parquet per state partition — stateful
    // ops are compute-dense per compressed byte (the 10× A/B read
    // 9.6 s → 3.7 s on q117 going 3 → 8 partitions), while each extra
    // partition costs a fixed per-batch commit (~50 ms), which is why
    // 32 partitions LOSES on multi-batch drains (q168 3 batches:
    // 4.6 s @ 8 vs 11.8 s @ 32).
    // Floor 4 (r14 optimization round): the r13 floor-1 A/B showed
    // floor 2 vs 1 is noise, but a same-window A/B at sf0.1 (quiet,
    // min-of-2) read n=4 faster than the n=2 floor on every
    // compute-dense drain — q93 1.64→1.37, q117 1.78→1.60, q92
    // 1.14→1.09, q162 1.10→1.02 — and neutral on the interval joins
    // (q95 ±0, q168 +0.07, inside noise); n=8 LOST family-wide (q168
    // 2.9→4.3: per-partition/per-batch commit ~50 ms dominates on
    // multi-batch drains). The 2 MiB divisor itself is pinned by the
    // 10× A/B (n≈10 best; 32 loses), so only the small-drain floor
    // moves.
    // The ~50 ms per-partition commit above was measured while each
    // state file still forked 5 shell commands (`chmod`, `readlink`)
    // through Spark's FileContext checkpoint manager. Streams now
    // write through LocalCheckpointFileManager, which forks none; the
    // floor and divisor have not been re-tuned since.
    val n = math.min(math.max(4L, staged / (2L << 20)), sessionN.toLong).toInt
    EventStreams.withConfs(s, Seq("spark.sql.shuffle.partitions" -> n.toString))(body)
  }

  import EventQueries.hourlySql

  /** One micro-batch's partial of the hourly aggregate (q94/q170's
    * sink rows): counts and exact DECIMAL(18,2) sums per hour and type. */
  private def hourlyPartial(batch: DataFrame): DataFrame =
    batch.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sum_dec"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_dec"))

  /** The read-back combine of [[hourlyPartial]] rows: counts add, the
    * decimal sums cast to double only once, here. */
  private def hourlyCombine(partials: DataFrame): DataFrame =
    partials.groupBy(col("hour_start"), col("event_type"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_dec")).cast(DoubleType).as("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))

  val all: Seq[Q] = Seq(

    // ST1 + ST4: the drain loop itself — file source consumed in
    // micro-batches under a 60 s watermark until empty, windowed state
    // in the state store, final snapshot returned. Complete mode keeps
    // every window in the emitted table (the finite-drain analog of
    // the reference's full-table refresh); the watermark's append-mode
    // drop semantics are pinned by StreamingSpec.
    Q("q92_streaming_drain",
      (s, dir) => withStatePartitions(s, Seq(staged(s, dir))) {
        val agg = EventStreams.hourlyByType(source(s, dir))
        EventStreams.runAvailableNow(s, agg, uniq("q92"))
          .orderBy(col("hour_start"), col("event_type"))
      },
      Some(hourlySql),
      streaming = true),

    // ST3: stateful content-hash dedupe inside the stream (the
    // loader's hash-gated skip, loader_v2.py:204) — dropDuplicates
    // over (content-hash, ts) in append mode, so each first-seen hash
    // passes exactly once across micro-batches. Projects just the key
    // pair: the surviving payload row per hash is order-dependent in
    // any engine, the key set is not.
    Q("q93_streaming_dedupe",
      (s, dir) => withStatePartitions(s, Seq(staged(s, dir))) {
        val hashed = dupSource(s, dir)
          .withColumn("h", md5(concat(col("event_type"), col("props"))))
        // horizon = the whole drain span: a catch-up drain replays
        // files in arbitrary order, so a short watermark would drop
        // genuinely-old rows as "late". The dedup key embeds ts, so
        // duplicates are always co-timed and ANY horizon ≥ the input
        // disorder gives batch-DISTINCT semantics; continuous ingest
        // with roughly time-ordered arrival runs the 1 h default, and
        // StreamingSpec pins the late-drop behavior that implies.
        val deduped = EventStreams.dedupByHash(hashed, "h", watermark = "3650 days")
          .select(col("h"), col("ts"))
        EventStreams.runAvailableNow(s, deduped, uniq("q93"), outputMode = "append")
          .orderBy(col("h"), col("ts"))
      },
      Some("""SELECT DISTINCT md5(event_type || props) AS h, CAST(ts AS TIMESTAMP) AS ts
             |FROM events ORDER BY h, ts""".stripMargin),
      streaming = true),

    // ST2: the async queue/worker sink — each micro-batch drain writes
    // a PARTIAL hourly aggregate to the parquet sink (append), and the
    // read-back combines partials. Counts add; sums accumulate as
    // DECIMAL(18,2) end-to-end and cast to double only once at the
    // final combine, so batch boundaries can't perturb the result.
    Q("q94_streaming_sink",
      (s, dir) => withStatePartitions(s, Seq(staged(s, dir))) {
        val sink = graft.util.Scratch.tempDir("graft_q94_sink")
        EventStreams.drain(s, source(s, dir).writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            hourlyPartial(batch).write.mode("append").parquet(sink)
            ()
          }, "graft_q94_ckpt")
        hourlyCombine(graft.util.ParquetRead.read(s, sink))
      },
      Some(hourlySql),
      streaming = true),

    // EXACTLY-ONCE foreachBatch sink via batch-id atomic publish — the
    // replay-safety half of ST2 that q94's append sink doesn't prove.
    // foreachBatch is AT-LEAST-ONCE: after a crash between the sink
    // write and the checkpoint commit, the restarted drain REDELIVERS
    // the same (batchId, data) — an append sink double-counts. The
    // standard discipline (Spark's own foreachBatch docs point here):
    // make the write idempotent on batchId. Each batch's partial
    // aggregate lands in a staging dir and is PUBLISHED by an atomic
    // rename to `b=<batchId>`; a redelivered batch sees the published
    // dir and no-ops. The query PROVES the property by calling the
    // writer twice for every batch (a forced redelivery, the failure
    // injection a crash would produce) — the read-back combine still
    // equals the batch-twin oracle, byte-identical partials included.
    // At scale this is the same pattern against an object store with
    // atomic rename/conditional put; the txn marker is the batch dir
    // itself, so no external log is needed.
    Q("q170_idempotent_sink",
      (s, dir) => withStatePartitions(s, Seq(staged(s, dir))) {
        val sink = graft.util.Scratch.tempDir("graft_q170_sink")
        def writeBatch(batch: DataFrame, bid: Long): Unit = {
          val target = new java.io.File(sink, s"b=$bid")
          if (!target.exists()) { // idempotence gate: published = done
            val tmp = new java.io.File(sink, s".stage_b$bid")
            hourlyPartial(batch).write.mode("overwrite").parquet(tmp.toString)
            // atomic publish: rename IS the transaction commit
            require(tmp.renameTo(target), s"publish failed for batch $bid")
          }
        }
        EventStreams.drain(s, source(s, dir).writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            writeBatch(batch, bid)
            writeBatch(batch, bid) // forced redelivery — must no-op
            ()
          }, "graft_q170_ckpt")
        // read the sink root: `b=<batchId>` dirs ARE a partition
        // column, so discovery lists exactly the published batches
        // (in-flight `.stage_*` dirs are dot-hidden from listings) —
        // and a glob here would trip FileStreamSink.hasMetadata's
        // literal getFileStatus on the un-expanded pattern
        hourlyCombine(s.read.parquet(sink))
      },
      Some(hourlySql),
      streaming = true),

    // Stream-stream interval join under the drain (view → purchase
    // attribution within 6 h for the same user): both sides are REAL
    // file streams consumed in micro-batches, joined with the
    // time-range condition that lets the state store evict rows once
    // their interval can no longer match — the bounded-state
    // formulation stream-stream joins require, in append mode (the
    // only mode they support). Watermark horizon spans the whole drain
    // for the same reason as q93: a catch-up drain replays files in
    // arbitrary order, and the INTERVAL condition alone bounds
    // production state; StreamingSpec pins batch-twin equality and
    // the late-drop semantics of a short horizon.
    Q("q95_streaming_join",
      (s, dir) => {
        // Each side streams a pre-staged SUBSET dir in ONE admission
        // poll (the round-12 bench-drain convention — see source()):
        // cross-micro-batch stream-stream join state is demonstrated
        // by q168's 2-batch + watermark-flush drain and pinned by
        // StreamingSpec's 1-file triggers. Staging the type subsets
        // once per JVM beats filtering the full event stream inside
        // every micro-batch of every bench sweep.
        def sideDir(tpe: String): String = stage(s, dir, tpe) { out =>
          EventQueries.events(s, dir)
            .filter(col("event_type") === tpe).repartition(4)
            .write.mode("overwrite").parquet(out)
        }
        val (viewDir, purchaseDir) = (sideDir("view"), sideDir("purchase"))
        val joined = EventStreams.intervalJoin(
          fileStream(s, viewDir, 4), fileStream(s, purchaseDir, 4),
          horizon = "6 hours", watermark = "3650 days")
        // sized from the two subset dirs actually streamed, not the
        // full-events staging superset
        withStatePartitions(s, Seq(viewDir, purchaseDir)) {
          EventStreams.runAvailableNow(s, joined, uniq("q95"), outputMode = "append")
            .orderBy(col("l_id"), col("r_id"))
        }
      },
      Some("""WITH l AS (SELECT user_id, event_id AS l_id, CAST(ts AS TIMESTAMP) AS l_ts
             |    FROM events WHERE event_type = 'view'),
             |r AS (SELECT user_id AS r_user, event_id AS r_id, CAST(ts AS TIMESTAMP) AS r_ts
             |    FROM events WHERE event_type = 'purchase')
             |SELECT user_id, l_id, r_id, l_ts, r_ts
             |FROM l JOIN r ON user_id = r_user
             |  AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 6 HOUR
             |ORDER BY l_id, r_id""".stripMargin),
      streaming = true),

    // Stream-stream LEFT OUTER interval join — the attribution shape
    // q95's inner join can't express: every view emits, and views with
    // NO purchase in their 6 h window surface with null right columns
    // once the watermark passes the end of their interval (the only
    // moment a streaming engine can PROVE no match is coming). Two
    // production patterns make this exact under a REAL 60 s watermark
    // (q95 needs the full-span horizon because its staging replays in
    // arbitrary order):
    //   1. TIME-ORDERED catch-up staging — each side is
    //      repartitionByRange'd on ts into files replayed oldest-first
    //      (ascending modTimes), so the watermark advances
    //      monotonically and never drops a row as late — the
    //      date-partitioned backlog replay every production catch-up
    //      run does;
    //   2. a HEARTBEAT row (far-future event time, sentinel user −1,
    //      in a final file on BOTH sides) advances the watermark past
    //      every open interval at end-of-drain, so the tail's
    //      unmatched views flush — the source-heartbeat idiom for
    //      event-time-complete drains. AvailableNow then runs the
    //      no-data flush batch that emits the evicted state.
    // Outer rows emit PROGRESSIVELY across the drain (mid-drain
    // watermarks already expire early intervals), so the batch split
    // genuinely exercises cross-batch outer-state eviction; the final
    // set is split-invariant and equals the batch LEFT JOIN oracle.
    Q("q168_stream_outer_join",
      (s, dir) => {
        def orderedDir(tpe: String): String = stage(s, dir, s"ord_$tpe") { out =>
          EventQueries.events(s, dir)
            .filter(col("event_type") === tpe)
            .repartitionByRange(4, col("ts"))
            .write.mode("overwrite").parquet(out)
          val f0 = new java.io.File(out).listFiles()
            .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
          // heartbeat: one far-future sentinel row in its own file
          import s.implicits._
          Seq((-1L, java.sql.Timestamp.valueOf("2035-01-01 00:00:00"),
              -1L, tpe, 0.0d, ""))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
            .coalesce(1).write.mode("append").parquet(out)
          // pin replay order: the file source processes oldest
          // modTime first — range files ascending (part index =
          // range order), heartbeat strictly last
          val all = new java.io.File(out).listFiles()
            .filter(_.getName.endsWith(".parquet"))
          val base = System.currentTimeMillis() - 3600000L
          all.filter(f => f0(f.getName)).sortBy(_.getName).zipWithIndex
            .foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
          all.filterNot(f => f0(f.getName))
            .foreach(_.setLastModified(base + 600000L))
        }
        // 4 range files + heartbeat → ONE data batch + the
        // watermark-flush batch (r15; was 2 data batches + flush): the
        // heartbeat's watermark takes effect only in the NEXT batch, so
        // the flush batch still evicts outer-join state COMMITTED BY AN
        // EARLIER BATCH and emits the unmatched views — the cross-batch
        // eviction demonstration — while the drain sheds one full
        // plan+addBatch+state-commit round (~0.9 s: the state commit
        // floor is ~0.7 s/batch regardless of rows, streamprofile r15).
        // The long 1-file-per-trigger drain with PROGRESSIVE mid-drain
        // eviction stays pinned by StreamingSpec.
        val (viewDir, purchaseDir) = (orderedDir("view"), orderedDir("purchase"))
        val joined = EventStreams.intervalJoin(
          fileStream(s, viewDir, 5), fileStream(s, purchaseDir, 5),
          horizon = "6 hours", watermark = "60 seconds", joinType = "left_outer")
        withStatePartitions(s, Seq(viewDir, purchaseDir)) {
          EventStreams.runAvailableNow(s, joined, uniq("q168"),
            outputMode = "append", noDataFlush = true)
            .filter(col("user_id") =!= -1L) // drop the heartbeat sentinel
            .orderBy(col("l_id"), col("r_id"))
        }
      },
      Some("""WITH l AS (SELECT user_id, event_id AS l_id, CAST(ts AS TIMESTAMP) AS l_ts
             |    FROM events WHERE event_type = 'view'),
             |r AS (SELECT user_id AS r_user, event_id AS r_id, CAST(ts AS TIMESTAMP) AS r_ts
             |    FROM events WHERE event_type = 'purchase')
             |SELECT user_id, l_id, r_id, l_ts, r_ts
             |FROM l LEFT JOIN r ON user_id = r_user
             |  AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 6 HOUR
             |ORDER BY l_id, r_id""".stripMargin),
      streaming = true),

    // ST4/ST5 companion: EVENT-TIME SESSION WINDOWS under the drain —
    // native session_window state (merging sessions as micro-batches
    // arrive out of order) with a complete-mode snapshot, the
    // streaming twin of q16's batch gap sessionization. Semantics
    // differ from q16 at the exact boundary BY DESIGN: session_window
    // ends are exclusive (an event at prev + gap starts a NEW
    // session; q16's `> gap` keeps it), and session_end = last event
    // + gap rather than last event — the oracle replays exactly the
    // session_window definition so the boundary case is verified, not
    // papered over. State scales as one (user, open-session) row —
    // bytes per key, shuffle-on-user — the bounded-state shape
    // documented for q93.
    Q("q117_streaming_sessions",
      (s, dir) => withStatePartitions(s, Seq(staged(s, dir))) {
        val sessions = EventStreams.sessionized(source(s, dir))
        EventStreams.runAvailableNow(s, sessions, uniq("q117"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t
             |  FROM events),
             |lagd AS (SELECT *, lag(t) OVER (PARTITION BY user_id
             |    ORDER BY t, event_id) AS pt FROM e),
             |flag AS (SELECT *, CASE WHEN pt IS NULL
             |    OR t >= pt + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS nf
             |  FROM lagd),
             |sess AS (SELECT *, SUM(nf) OVER (PARTITION BY user_id
             |    ORDER BY t, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sseq
             |  FROM flag)
             |SELECT user_id, MIN(t) AS session_start,
             |  MAX(t) + INTERVAL 30 MINUTE AS session_end,
             |  COUNT(*) AS n_events
             |FROM sess GROUP BY user_id, sseq
             |ORDER BY user_id, session_start""".stripMargin),
      streaming = true),

    // Stream-static enrichment join — the production shape the family
    // still lacked: a micro-batch event stream BROADCAST-joined to a
    // slowly-changing dimension (customer → nation) inside the
    // stream, then aggregated across batches in complete mode. The
    // static side is planned per micro-batch (Spark re-resolves the
    // batch relation each trigger — the semantics that let a dim
    // table refresh mid-stream), and because it is dim-sized it rides
    // the broadcast: the stream never shuffles for the join, state is
    // only the ≤ |nations|×|types| running aggregate. Batch-twin
    // oracle: the identical join+rollup over the full table. Money
    // accumulates as exact micro-units (decimal sum) so micro-batch
    // boundaries can't perturb the result.
    Q("q159_streaming_enrich",
      (s, dir) => withStatePartitions(s, Seq(staged(s, dir))) {
        val dims = Tables(s, dir, "customer")
          .join(Tables(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey").as("user_id"), col("n_name").as("nation"))
        val enriched = source(s, dir)
          .join(broadcast(dims), Seq("user_id"))
          .groupBy(col("nation"), col("event_type"))
          .agg(count(lit(1)).cast(LongType).as("n"),
            sum(expr("CAST(round(value * 1000000) AS BIGINT)")
              .cast(DecimalType(38, 0))).as("dec_sum"))
          .select(col("nation"), col("event_type"), col("n"),
            col("dec_sum").cast(LongType).as("sum_value_us"))
        EventStreams.runAvailableNow(s, enriched, uniq("q159"))
          .orderBy(col("nation"), col("event_type"))
      },
      Some("""SELECT n_name AS nation, event_type,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             |    AS sum_value_us
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n_nationkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      streaming = true),

    // Streaming per-user top-3 by value — custom BOUNDED-BUFFER state
    // (EventStreams.streamingTopK): mapGroupsWithState holds at most
    // k pairs per user across the whole drain, the streaming twin of
    // the TopKPhysical partial pass and the third custom-state shape
    // next to q65's transition machine and q93's dedupe keys. The
    // update-mode memory sink appends one emission per (user, batch);
    // the final snapshot is the max-version row per user, exploded to
    // (user, rank, event) rows. The batch-twin oracle is the plain
    // window top-k — the drain's batch split can't perturb it because
    // the buffer merge re-sorts on (v_us desc, event_id).
    Q("q162_streaming_topk",
      (s, dir) => withStatePartitions(s, Seq(staged(s, dir))) {
        val stepped = EventStreams.streamingTopK(source(s, dir), k = 3)
        val snap = EventStreams.runAvailableNow(s, stepped, uniq("q162"),
          outputMode = "update")
        snap.withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id")).orderBy(col("ver").desc)))
          .filter(col("rn") === 1)
          .select(col("user_id"), posexplode(col("items")).as(Seq("pos", "it")))
          .select(col("user_id"), (col("pos") + 1).cast(LongType).as("rnk"),
            col("it._2").as("event_id"), col("it._1").as("v_us"))
          .orderBy(col("user_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT user_id, event_id,
             |    CAST(round(value * 1000000) AS BIGINT) AS v_us FROM events),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |    ORDER BY v_us DESC, event_id) AS rnk FROM v)
             |SELECT user_id, CAST(rnk AS BIGINT) AS rnk, event_id, v_us
             |FROM r WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin),
      streaming = true),

    // Streaming ingest INTO the transaction log — the lakehouse
    // streaming-sink contract that composes q170's exactly-once
    // discipline with q174's versioned table: every micro-batch
    // publishes its rows as a data file and commits it as log version
    // = batchId, so (1) replay safety comes from the log's write-once
    // gate (the forced double delivery below must no-op — a
    // redelivered batch finds its version committed), (2) concurrent
    // readers get snapshot isolation DURING ingest (any version prefix
    // is a consistent table), and (3) the stream's whole history is
    // time-travelable afterwards — REQUIREd here by replaying every
    // version and checking strictly monotone growth of its row count.
    // Each count sums the row-group counts in the parquet footers of
    // that version's live files, read on the driver (TxnLog.rowCount):
    // the written files' own metadata, so the check starts no job. The
    // oracle is the batch-twin hourly aggregate over the final
    // snapshot: streaming ACID ingest must reproduce the batch result
    // exactly.
    Q("q177_streaming_txn_ingest",
      (s, dir) => withStatePartitions(s, Seq(staged(s, dir))) {
        import graft.operators.TxnLog
        val (root, last) = txnIngested(s, dir)
        require(last >= 1, s"expected a multi-batch ingest, got ${last + 1} versions")
        val counts = (0L to last).map(v => TxnLog.rowCount(s, root, Some(v)))
        require(counts.zip(counts.tail).forall { case (a, b) => a < b },
          s"snapshot growth not monotone across versions: $counts")
        EventStreams.hourlyByType(TxnLog.snapshot(s, root, None))
          .orderBy(col("hour_start"), col("event_type"))
      },
      Some(hourlySql),
      streaming = true),

    // OPTIMIZE + VACUUM through the same log — the maintenance loop
    // streaming ingest makes necessary (one small file per micro-batch
    // is the classic small-file problem; q84 plans the bin-packing,
    // this COMMITS it): read the latest snapshot, rewrite it compacted,
    // publish one commit that adds the compacted file and retracts
    // every small one. The job is IDEMPOTENT via the committed-version
    // gate (a re-run sees the optimize version published and no-ops —
    // the same discipline as a redelivered batch). REQUIREd: the live
    // file count collapses to 1; the PRE-optimize version still holds
    // the optimized version's row count, both summed from their live
    // files' footers as in q177 (time travel across OPTIMIZE —
    // compaction must never rewrite history); and
    // vacuumable() names exactly the retracted small files once
    // retention passes the optimize commit. The oracle is the same
    // batch-twin hourly aggregate: OPTIMIZE must not change a single
    // value. At 100 TB the coalesce(1) here is q84's size-targeted
    // bin-packing per partition; the commit protocol is identical.
    Q("q178_optimize_vacuum",
      (s, dir) => withStatePartitions(s, Seq(staged(s, dir))) {
        import graft.operators.TxnLog
        val (root, ingestLast) = txnIngested(s, dir)
        val optV = ingestLast + 1
        if (!TxnLog.committed(root, optV)) {
          val (_, smalls) = TxnLog.liveAdds(root, Some(ingestLast))
          TxnLog.snapshot(s, root, Some(ingestLast)).coalesce(1)
            .write.mode("overwrite").parquet(s"$root/opt0")
          TxnLog.commitFiles(root, optV,
            adds = Seq(TxnLog.AddFile("opt0")),
            removes = smalls.map(_.file))
        }
        val (_, liveNow) = TxnLog.liveAdds(root, Some(optV))
        require(liveNow.map(_.file) == Seq("opt0"),
          s"optimize must leave one live file, got $liveNow")
        val preN = TxnLog.rowCount(s, root, Some(ingestLast))
        val postN = TxnLog.rowCount(s, root, Some(optV))
        require(preN == postN,
          s"optimize changed cardinality: $preN -> $postN")
        val vac = TxnLog.vacuumable(root, optV).map(_.split('/').last).toSet
        require(vac == (0L to ingestLast).map(v => s"b$v").toSet,
          s"vacuum list wrong: $vac")
        EventStreams.hourlyByType(TxnLog.snapshot(s, root, Some(optV)))
          .orderBy(col("hour_start"), col("event_type"))
      },
      Some(hourlySql),
      streaming = true),

    // STREAMING read from the native WARC source — crawl containers
    // keep landing in a directory and the engine ingests them as
    // micro-batches from the SAME wire-level decoder the batch scan
    // uses (sources/WarcMicroBatchStream: the offset is the NAME of
    // the last processed file, each batch admitting strictly-greater
    // names — the file-source exactly-once contract rebuilt on a
    // custom DataSource V2 source, with
    // maxFilesPerTrigger admission control and an AvailableNow
    // listing snapshot so the drain terminates under live arrivals).
    // The REQUIRE pins that the drain really ran file-granularity
    // micro-batches (≥ 2 batches for the 2-file corpus); the oracle
    // is the fixture generator's independent expected-rows parquet —
    // streaming ingest must reproduce the batch read exactly.
    Q("q185_warc_stream",
      (s, _) => {
        val src = graft.util.RepoRoot.fixture("tiny_warc")
        val name = uniq("q185")
        val stream = s.readStream.format("warc")
          .option("maxFilesPerTrigger", "1")
          .load(src)
          .select(col("src_file"), col("record_index"), col("warc_type"),
            col("content_length"), md5(col("payload")).as("payload_md5"))
        val q = EventStreams.drain(s, stream.writeStream
          .format("memory").queryName(name).outputMode("append"), "q185_ckpt")
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        require(dataBatches >= 2,
          s"expected file-granularity micro-batches (>= 2), got $dataBatches")
        EventStreams.memorySinkResult(s, name)
          .orderBy(col("src_file"), col("record_index"))
      },
      Some(s"SELECT src_file, record_index, warc_type, content_length, payload_md5 FROM '${graft.util.RepoRoot.fixture("tiny_warc_expected.parquet")}' ORDER BY src_file, record_index"),
      streaming = true))

  // One streaming txn-log ingest per (JVM, source): drains the staged
  // events through foreachBatch, each micro-batch committing its rows
  // as log version = batchId with a FORCED double delivery (the
  // crash-redelivery injection) that the committed-version gate must
  // absorb. Returns (table root, last ingest version). Later versions
  // may be appended by q178's OPTIMIZE — immutable history makes that
  // safe for every reader of versions ≤ last.
  private val txnIngestRoots =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  private def txnIngested(s: SparkSession, dir: String): (String, Long) =
    txnIngestRoots.computeIfAbsent(
      s"${System.identityHashCode(s)}@$dir@${sourceFingerprint(dir)}", { _ =>
        import graft.operators.TxnLog
        val root = graft.util.Scratch.tempDir("graft_q177_txn")
        def publish(batch: DataFrame, bid: Long): Unit =
          if (!TxnLog.committed(root, bid)) {
            val rel = s"b$bid"
            batch.select(col("ts"), col("event_type"), col("value"))
              .write.mode("overwrite").parquet(s"$root/$rel")
            TxnLog.commit(root, bid, adds = Seq(rel))
          }
        // q177's WHOLE POINT is one log version per micro-batch with
        // monotone snapshot growth — it keeps a genuine multi-batch
        // drain (4 files/poll) regardless of the bench-path source()
        EventStreams.drain(s, fileStream(s, staged(s, dir), 4)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            publish(batch, bid)
            publish(batch, bid) // forced redelivery — must no-op
            ()
          }, "graft_q177_ckpt")
        val (last, _) = TxnLog.liveFiles(root, None)
        (root, last)
      })
}
