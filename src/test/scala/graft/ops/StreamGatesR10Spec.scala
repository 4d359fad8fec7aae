package graft.ops

import graft.SparkSpec
import graft.streaming.{SessEvent, SessionTimeoutProcessor}
import org.apache.spark.sql.functions._

/** Round-10 streaming-gate property specs: the q89 timer semantics the
  * oracle hash can't isolate — stale timers are no-ops, sessions emit
  * exactly once, and state (with its re-registered timer) survives the
  * micro-batch boundary. */
class StreamGatesR10Spec extends SparkSpec {

  /** All spec times sit on a 2020 base: an event at literal epoch 0 would
    * be dropped as LATE against the stream's initial watermark (0 ms) —
    * a spec artifact the real gate (2024 fixture timestamps) never sees. */
  private val B = 1600000000000L

  /** Replays `batches` (each a list of (user_id, event_ms)) through the
    * q89 processor one micro-batch per file, with a final watermark
    * sentinel (user -1) two hours past everything, and returns the
    * emitted (user_id, start_ms, end_ms, n) rows. */
  private def runTimerStream(batches: Seq[Seq[(Long, Long)]],
                             gapMs: Long): Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    ExportOps.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
    ExportOps.withScratch("graft_timer_spec", "spec") { out =>
      new java.io.File(out, "in").mkdirs()
      val maxMs = batches.flatten.map(_._2).max
      val all = batches :+ Seq((-1L, maxMs + 7200000L)) // sentinel batch
      val now = System.currentTimeMillis()
      all.zipWithIndex.foreach { case (batch, i) =>
        batch.toDF("user_id", "ms")
          .select(col("user_id"), timestamp_millis(col("ms") + B).as("tsm"))
          .coalesce(1).write.parquet(s"$out/stage_$i")
        val part = new java.io.File(out, s"stage_$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(out, s"in/f$i.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(now - (all.length + 1 - i) * 60000L)
      }
      val stream = spark.readStream
        .schema("user_id LONG, tsm TIMESTAMP")
        .option("maxFilesPerTrigger", "1").parquet(s"$out/in")
        .withWatermark("tsm", "0 seconds")
        .as[SessEvent]
      val sessions = stream.groupByKey(_.user_id)
        .transformWithState(new SessionTimeoutProcessor(gapMs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
      val q = sessions.toDF().writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      val rows = spark.read.parquet(s"$out/data")
        .filter(col("user_id") >= 0)
        .as[(Long, Long, Long, Long)].collect().toSeq
        .map { case (u, st, en, n) => (u, st - B, en - B, n) }
      rows
    }
    }
  }

  test("q89: stale timers are no-ops, sessions fire exactly once, state crosses batches") {
    val gap = 30000L // 30 s for spec readability
    val got = runTimerStream(Seq(
      // u1: session opens in batch 1, EXTENDS in batch 2 (the batch-1
      // timer at 10s+gap goes stale), then a gap parks it; a second
      // session opens
      Seq((1L, 0L), (1L, 10000L), (2L, 0L), (2L, 35000L),
        (3L, 0L), (3L, 60000L), (3L, 120000L)),
      Seq((1L, 20000L), (1L, 120000L), (2L, 200000L))),
      gap).groupBy(_._1)
    // u1: the stale 40s timer must NOT close the extended session early —
    // exactly two sessions, the first ending at 20s+gap (not 10s+gap)
    assert(got(1L).toSet === Set(
      (1L, 0L, 50000L, 3L), (1L, 120000L, 150000L, 1L)),
      s"u1 sessions wrong: ${got(1L)}")
    // u2: two stale timers (65s from batch 1, 230s from batch 2) fire in
    // different batches over a SHARED pending list — each parked session
    // must emit exactly once
    assert(got(2L).toSet === Set(
      (2L, 0L, 30000L, 1L), (2L, 35000L, 65000L, 1L),
      (2L, 200000L, 230000L, 1L)),
      s"u2 sessions wrong: ${got(2L)}")
    assert(got(2L).size === 3, s"u2 double-emitted: ${got(2L)}")
    // u3: two parked sessions + the open one, all closed by ONE timer
    // (only the final 150s registration exists for the key)
    assert(got(3L).toSet === Set(
      (3L, 0L, 30000L, 1L), (3L, 60000L, 90000L, 1L),
      (3L, 120000L, 150000L, 1L)),
      s"u3 sessions wrong: ${got(3L)}")
    assert(got(3L).size === 3, s"u3 double-emitted: ${got(3L)}")
    // and nothing else emitted (the sentinel user is filtered, no partial
    // or input-driven rows exist)
    assert(got.keySet === Set(1L, 2L, 3L))
  }

  test("q89: without the sentinel, sessions past the final watermark stay unemitted") {
    // the negative control that proves emission is TIMER-driven: the final
    // watermark (max event 200s) passes u2's 65s timer but not its 230s
    // one — handleInputRows never emits, so that session must be absent
    val gap = 30000L
    import spark.implicits._
    ExportOps.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
    ExportOps.withScratch("graft_timer_nosent", "spec") { out =>
      new java.io.File(out, "in").mkdirs()
      Seq((2L, 0L), (2L, 35000L), (2L, 200000L)).toDF("user_id", "ms")
        .select(col("user_id"), timestamp_millis(col("ms") + B).as("tsm"))
        .coalesce(1).write.parquet(s"$out/stage")
      val part = new java.io.File(out, "stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(out, "in/f0.parquet").toPath)
      val stream = spark.readStream
        .schema("user_id LONG, tsm TIMESTAMP")
        .parquet(s"$out/in")
        .withWatermark("tsm", "0 seconds")
        .as[SessEvent]
      val sessions = stream.groupByKey(_.user_id)
        .transformWithState(new SessionTimeoutProcessor(gap),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
      val q = sessions.toDF().writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.read.parquet(s"$out/data")
        .as[(Long, Long, Long, Long)].collect().toSet
        .map { t: (Long, Long, Long, Long) => (t._1, t._2 - B, t._3 - B, t._4) }
      assert(got === Set((2L, 0L, 30000L, 1L), (2L, 35000L, 65000L, 1L)),
        s"only sessions whose timers the final watermark passed may emit: $got")
    }
    }
  }
}
