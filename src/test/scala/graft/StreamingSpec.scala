package graft

import graft.queries.EventQueries
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Batch/stream parity: the streaming windowed aggregation over the
  * events table (fed through a real streaming source with watermark +
  * AvailableNow trigger) must equal the batch window aggregation. */
class StreamingSpec extends SparkSpec {

  test("streaming hourly agg equals batch hourly agg") {
    // Stage the (ns→µs converted) events as a parquet dir the stream reads.
    val batchDf = EventQueries.events(spark, sf001).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    batchDf.write.mode("overwrite").parquet(dir)

    val streamed = spark.readStream
      .schema(EventStreams.eventSchema)
      .parquet(dir)
    val agg = EventStreams.hourlyByType(streamed)
    val result = EventStreams.runAvailableNow(spark, agg, "hourly_test")
      .orderBy("hour_start", "event_type")

    val expected = EventStreams.hourlyByType(batchDf)
      .orderBy("hour_start", "event_type")
    assert(result.collect().toSeq == expected.collect().toSeq)
    assert(result.count() > 0)
  }

  test("streaming sliding windows equal the batch sliding agg (q82 twin)") {
    val batchDf = EventQueries.events(spark, sf001).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft_slide").toString
    batchDf.write.mode("overwrite").parquet(dir)

    val streamed = spark.readStream
      .schema(EventStreams.eventSchema)
      .parquet(dir)
    val result = EventStreams.runAvailableNow(spark,
      EventStreams.slidingByType(streamed), "sliding_test")
      .orderBy("win_start", "event_type")
    val expected = EventStreams.slidingByType(batchDf)
      .orderBy("win_start", "event_type")
    assert(result.count() > 0)
    assert(result.collect().toSeq == expected.collect().toSeq)
  }

  test("stream-stream interval join equals its batch twin") {
    val batchDf = EventQueries.events(spark, sf001).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    batchDf.write.mode("overwrite").parquet(dir)

    def src() = spark.readStream.schema(EventStreams.eventSchema).parquet(dir)
    val views = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("event_type") === "view")
    val buys = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("event_type") === "purchase")

    val streamed = EventStreams.intervalJoin(views(src()), buys(src()))
    val result = EventStreams.runAvailableNow(spark, streamed,
      "ssj_test", outputMode = "append")
      .orderBy("user_id", "l_id", "r_id")
    val expected = EventStreams.intervalJoin(views(batchDf), buys(batchDf))
      .orderBy("user_id", "l_id", "r_id")
    assert(result.count() > 0)
    assert(result.collect().toSeq == expected.collect().toSeq)
  }

  test("status machine runs as a real stream with state across batches") {
    import graft.streaming.StatusMachine
    import graft.streaming.StatusMachine._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sm").toString
    // two files → two micro-batches; state must carry d1's PROCESSING
    // from batch 1 into batch 2's ok transition
    Seq(StatusEvent("d1", "start", 1L), StatusEvent("d2", "start", 1L))
      .toDS().write.parquet(s"$dir/b1")
    Seq(StatusEvent("d1", "ok", 2L), StatusEvent("d2", "fail", 2L))
      .toDS().write.parquet(s"$dir/b2")
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StatusEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .as[StatusEvent]
    val q = StatusMachine.run(stream).writeStream
      .format("memory").queryName("sm_test").outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val last = spark.table("sm_test")
      .groupBy("content_id").agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct($"updated_at", $"status")).as("m"))
      .select($"content_id", $"m.status").as[(String, String)].collect().toMap
    assert(last("d1") == "SYNCED" && last("d2") == "FAILED")
  }

  test("watermark drops events later than the tolerance (ST4 semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_wm").toString
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // batch 1 advances event time to 10:00; batch 2 carries an event at
    // 05:00 — far older than the 1h watermark → must be dropped from
    // the append-mode windowed aggregate
    Seq((1L, t(9, 10), 1L, "a", 1.0, "{}"), (2L, t(10, 0), 1L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/b1")
    Seq((3L, t(5, 0), 1L, "a", 1.0, "{}"), (4L, t(12, 0), 1L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/b2")
    val stream = spark.readStream
      .schema(graft.streaming.EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream
      .format("memory").queryName("wm_test").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the 05:00 event must not appear in any emitted window
    val emitted = spark.table("wm_test")
      .select(col("window.start").cast("string")).as[String].collect().toSet
    assert(!emitted.exists(_.contains("05:00")),
      s"late event leaked into emitted windows: $emitted")
  }

  test("streaming session windows produce bounded sessions") {
    val batchDf = EventQueries.events(spark, sf001)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream2").toString
    batchDf.write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream
      .schema(EventStreams.eventSchema).parquet(dir)
    val sessions = EventStreams.runAvailableNow(
      spark, EventStreams.sessionized(streamed), "sessions_test")
    assert(sessions.count() > 0)
    assert(sessions.filter(col("session_end") < col("session_start")).count() == 0)
  }

  test("q93 cross-batch dedupe is identical under RocksDB and HDFS state stores") {
    // the disk-backed store is the 100-TB posture (key state larger
    // than executor heap); semantics must not depend on the backend
    val q93 = graft.queries.Registry.byName("q93_streaming_dedupe")
    def canon(): Seq[String] =
      q93.run(spark, sf001).collect().map(_.toString).toSeq
    def under(provider: String): Seq[String] = {
      spark.conf.set("spark.graft.stateStore", provider)
      try canon()
      finally {
        spark.conf.unset("spark.graft.stateStore")
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val viaRocks = under("rocksdb")
    val viaHdfs = under("hdfs")
    assert(viaRocks.nonEmpty)
    assert(viaRocks == viaHdfs)
  }

  test("q92 drains leave no memory-sink view behind and equal the batch twin") {
    val q92 = graft.queries.Registry.byName("q92_streaming_drain")
    val batch = graft.queries.Registry.byName("q15_hourly_windows")
      .run(spark, sf001).collect().toSeq
    val first = q92.run(spark, sf001).collect().toSeq
    val second = q92.run(spark, sf001).collect().toSeq
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("q92_"))
    assert(views.isEmpty, s"memory-sink views left: ${views.mkString(", ")}")
    assert(batch.nonEmpty)
    assert(first == batch)
    assert(second == batch)
  }

  test("streaming top-k state survives a forced many-batch drain (q162 twin)") {
    // q162's registry drain replays a handful of micro-batches; force
    // a one-file-per-trigger drain (8 files → 8 batches) so the
    // bounded buffer provably merges across MANY state commits, and
    // demand the final snapshot still equals the batch window top-k.
    val batchDf = EventQueries.events(spark, sf001).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft_topk").toString
    batchDf.repartition(8).write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val snap = EventStreams.runAvailableNow(spark,
      EventStreams.streamingTopK(streamed, k = 3), "topk_test",
      outputMode = "update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ver").desc)
    val result = snap.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), posexplode(col("items")).as(Seq("pos", "it")))
      .select(col("user_id"), col("pos"), col("it._2").as("event_id"))
      .orderBy(col("user_id"), col("pos"))
    // at least one user saw 8 separate emissions (true cross-batch state)
    assert(snap.groupBy(col("user_id")).count().agg(max("count"))
      .head().getLong(0) >= 8)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(expr("CAST(round(value * 1000000) AS BIGINT)").desc,
        col("event_id"))
    val expected = batchDf
      .withColumn("rn", row_number().over(wb)).filter(col("rn") <= 3)
      .select(col("user_id"), (col("rn") - 1).as("pos"), col("event_id"))
      .orderBy(col("user_id"), col("pos"))
    assert(result.collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      == expected.collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))))
  }

  test("LEFT OUTER interval join flushes unmatched rows under a 1-file drain (q168 twin)") {
    // q168's two preconditions, forced to their hardest setting: a
    // one-file-per-trigger drain (5 files/side → 5 batches/side) over
    // time-ordered staging with a far-future heartbeat on BOTH sides.
    // The watermark must advance monotonically (no late drops), evict
    // expired left state progressively, and the heartbeat's no-data
    // flush batch must emit the tail's unmatched views — final set ==
    // the batch LEFT JOIN, nulls included.
    import spark.implicits._
    val ev = EventQueries.events(spark, sf001).cache()
    def stage(tpe: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_ssoj_$tpe").toString
      ev.filter(col("event_type") === tpe).repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(dir)
      val f0 = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      Seq((-1L, java.sql.Timestamp.valueOf("2035-01-01 00:00:00"), -1L, tpe, 0.0d, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      val all = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      val base = System.currentTimeMillis() - 3600000L
      all.filter(f => f0(f.getName)).sortBy(_.getName).zipWithIndex
        .foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
      all.filterNot(f => f0(f.getName)).foreach(_.setLastModified(base + 600000L))
      dir
    }
    def src(d: String) = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(d)
    val joined = EventStreams.intervalJoin(src(stage("view")), src(stage("purchase")),
      horizon = "6 hours", watermark = "60 seconds", joinType = "left_outer")
    val result = EventStreams.runAvailableNow(spark, joined, "ssoj_test",
        outputMode = "append", noDataFlush = true)
      .filter(col("user_id") =!= -1L)
      .orderBy("l_id", "r_id")
    val expected = EventStreams.intervalJoin(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"),
      horizon = "6 hours", joinType = "left_outer")
      .orderBy("l_id", "r_id")
    val rs = result.collect().toSeq
    assert(rs.exists(_.isNullAt(2)),
      "watermark-flushed unmatched views must surface with null r_id")
    assert(rs == expected.collect().toSeq)
  }
}
