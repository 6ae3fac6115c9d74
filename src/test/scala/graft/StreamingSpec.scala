package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §5.2.5 — streaming path produces the same final state as the
  * batch path (README.md:74-76 event-driven upsert ≡ batch upsert). */
class StreamingSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  test("file-source streaming upsert == batch upsert") {
    val streamed = graft.streaming.StreamOps.streamFileSourceUpsert(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val orders = graft.tables.Tables(spark, sfDir, "orders")
    val expected = orders.select(col("o_orderkey"),
      when(col("o_orderdate") >= lit("2001-01-01"), col("o_totalprice") * 2)
        .otherwise(col("o_totalprice")).as("p"),
      col("o_orderstatus"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(streamed == expected)
  }

  test("streaming hourly window == batch date_trunc aggregation") {
    val streamed = graft.streaming.StreamOps.streamHourlyWindow(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.tables.Tables(spark, sfDir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"))
      .count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState sessionizer == batch sessionize minus sessions alive at the watermark") {
    val streamed = graft.streaming.StreamOps.streamSessionState(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    // batch ground truth, recomputed independently of the oracle SQL:
    // full sessionization, keep sessions closed by a follow-up event OR
    // flushed by the EventTimeTimeout (watermark = max event ms − 1h delay
    // strictly passed session_end + 30 min gap; ms floor and strict <
    // mirror the state store's timeout clock)
    val wmMs = graft.tables.Tables(spark, sfDir, "events")
      .agg((max(unix_micros(col("ts"))) / 1000).cast("long") - 3600000L)
      .head.getLong(0)
    val sess = graft.analytics.Temporal.windowSessionize(spark, sfDir)
    val lastIdx = sess.groupBy("user_id")
      .agg(max(col("session_idx")).as("last_idx"))
    val expected = sess.join(lastIdx, "user_id")
      .filter(col("session_idx") < col("last_idx")
        || ((unix_micros(col("session_end")) + 30L * 60 * 1000000) / 1000)
             .cast("long") < wmMs)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(streamed.nonEmpty && streamed == expected)
  }

  test("native session_window merges sessions ACROSS the micro-batch boundary") {
    // plant a session whose events split across the two drops inside one
    // gap: the engine must MERGE the open window from batch 1 with batch
    // 2's continuation into a single emitted session. A user whose drops
    // never straddle closes normally; a far-future lone event drives the
    // final watermark past both sessions so they emit.
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val drop1 = Seq(
      (1L, ts("2024-01-15 23:40:00"), 1.0), // session A, part 1
      (1L, ts("2024-01-15 23:55:00"), 2.0),
      (2L, ts("2024-01-15 10:00:00"), 5.0)) // unrelated, closes in drop 1
    val drop2 = Seq(
      (1L, ts("2024-01-16 00:10:00"), 3.0), // session A, part 2 (15 min gap)
      (9L, ts("2024-01-20 00:00:00"), 0.0)) // watermark driver
    val base = graft.util.Scratch.dir("spec_session_window_merge")
    val out = graft.streaming.StreamOps.runSessionWindow(spark,
      Seq(drop1.toDF("user_id", "ts", "value"), drop2.toDF("user_id", "ts", "value")),
      base).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4)))
    // user 1's straddling events MUST surface as ONE 3-event session
    // spanning the boundary — two sessions (one per batch) means the
    // merge never happened
    val u1 = out.filter(_._1 == 1L)
    assert(u1.length == 1, s"expected one merged session for user 1, got $u1")
    assert(u1.head._2 == ts("2024-01-15 23:40:00") &&
      u1.head._3 == ts("2024-01-16 00:40:00") && // last event + 30 min gap
      u1.head._4 == 3L && u1.head._5 == 6.0, s"merged session wrong: ${u1.head}")
    // user 2's session closed within batch 1 and emits unmerged
    assert(out.count(_._1 == 2L) == 1)
  }

  test("idle user's state flushes on EventTimeTimeout; a later event opens a fresh session") {
    import spark.implicits._
    def ev(uid: Long, hhmm: String, id: Long): (Long, java.sql.Timestamp, Long, Long, Double) = {
      val ts = java.sql.Timestamp.valueOf(s"2024-03-01 $hhmm:00")
      (uid, ts, ts.getTime * 1000, id, 1.0)
    }
    val cols = Seq("user_id", "ts", "ts_us", "event_id", "value")
    // drop 1: user 1's session (10:00–10:10) + a clock event at 12:00 that
    // pushes the watermark to 11:00 — past user 1's 10:40 timeout horizon
    val d1 = Seq(ev(1, "10:00", 1), ev(1, "10:10", 2), ev(2, "12:00", 3)).toDF(cols: _*)
    // drop 2 has NO user-1 data → in this batch user 1's group times out
    // (10:40 < 11:00): its open session must be EMITTED and the slot freed
    val d2 = Seq(ev(2, "12:30", 4)).toDF(cols: _*)
    // drop 3: user 1 returns at 13:00 — a fresh session on evicted state
    val d3 = Seq(ev(1, "13:00", 5)).toDF(cols: _*)
    // drop 4: clock to 15:00 → final watermark 14:00 flushes user 1's
    // second session (timeout 13:30) and gap-closes user 2's first; the
    // 15:00 session itself stays open (timeout 15:30 > 14:00), unemitted
    val d4 = Seq(ev(2, "15:00", 6)).toDF(cols: _*)
    val got = graft.streaming.StreamOps.runSessionState(spark, Seq(d1, d2, d3, d4),
        graft.util.Scratch.dir("stream_session_timeout_case"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
        r.getLong(3))).toSet
    val expected = Set(
      (1L, "2024-03-01 10:00:00.0", "2024-03-01 10:10:00.0", 2L), // timeout flush
      (1L, "2024-03-01 13:00:00.0", "2024-03-01 13:00:00.0", 1L), // fresh session after eviction
      (2L, "2024-03-01 12:00:00.0", "2024-03-01 12:30:00.0", 2L)) // gap-closed
    assert(got == expected, s"got $got")
  }

  test("RocksDB and HDFS state store providers produce identical sessionizer results") {
    // VERDICT r7 task 4: production posture is RocksDB (bounded executor
    // memory at 100 TB state); the HDFS-backed in-memory provider stays as
    // a verification twin. Run the registered sessionizer under both and
    // compare the full result set — state semantics (timeout clock,
    // eviction, carry-over across micro-batches) must not depend on the
    // store implementation.
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val rocks = rows(graft.streaming.StreamOps.streamSessionState(spark, sfDir))
    val hdfs = rows(graft.streaming.StreamOps.sessionState(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")(spark, sfDir))
    assert(rocks.nonEmpty && rocks == hdfs,
      s"providers disagree: rocks-only=${(rocks -- hdfs).take(3)} hdfs-only=${(hdfs -- rocks).take(3)}")
  }

  test("restart from checkpoint is exactly-once: the resumed query reads only the new drop") {
    // the durability story every production stream rests on: a NEW query
    // object started on the SAME checkpoint must resume from committed
    // offsets — no reprocessing of drop 1, no loss of drop 2 — and the
    // transactional file sink must land every event exactly once
    import org.apache.spark.sql.streaming.Trigger
    val base = graft.util.Scratch.dir("stream_restart_ckpt")
    val incoming = s"$base/incoming"
    val out = s"$base/out"
    val ev = graft.tables.Tables(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"))
    val drop1 = ev.filter(col("event_id") % 2 === 0)
    val drop2 = ev.filter(col("event_id") % 2 =!= 0)
    def run(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(incoming)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drop1.write.mode("append").parquet(incoming)
    run()
    assert(spark.read.parquet(out).count() == drop1.count())
    drop2.write.mode("append").parquet(incoming)
    run() // fresh query, same checkpoint
    val result = spark.read.parquet(out)
    assert(result.count() == ev.count(),
      "restart must neither lose nor duplicate events")
    assert(result.select("event_id").distinct().count() == ev.count(),
      "every event id lands exactly once across the restart")
  }

  test("manifest-guarded append sink stays exactly-once through the poisoned replay") {
    // streamExactlyOnceSink replays batch 0 in-line after the stream
    // drains (the restart re-delivery of a committed epoch) with its
    // prices NEGATED — re-delivered batches are recomputed and may
    // differ; the committed epoch must win. Count + per-key uniqueness
    // catch duplication; the value-sum equality catches the poison (the
    // per-epoch overwrite makes an UNpoisoned replay idempotent whether
    // or not the guard works, so only a value-visible replay can prove
    // the marker is load-bearing — review r10).
    import org.apache.spark.sql.functions._
    val res = graft.streaming.StreamOps.streamExactlyOnceSink(spark, sfDir)
      .cache()
    val feed = graft.tables.Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01"))
    try {
      assert(res.count() == feed.count(), "sink row count != feed row count")
      val dup = res.groupBy("o_orderkey").count().filter(col("count") > 1).count()
      assert(dup == 0, s"$dup keys written more than once")
      def priceSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
        df.agg(sum(col("o_totalprice").cast("decimal(28,4)"))).head.getDecimal(0)
      assert(priceSum(res) == priceSum(feed),
        "committed epoch was overwritten by the poisoned replay")
    } finally res.unpersist()
  }

  test("manifest commit survives a crash BETWEEN data write and marker") {
    // VERDICT r10 #8: the poisoned-replay test proves committed-epoch
    // replay; this one exercises the OTHER half of the protocol — the
    // writer dying after the data write but before the marker. The
    // injected throw models the crash; the restart re-delivers the epoch
    // RECOMPUTED (different values — upstream transforms need not be
    // deterministic), and exactly-once means the replayed epoch's output
    // wins outright: no duplicates, no trace of the orphaned first
    // attempt, marker present only after the successful pass.
    import org.apache.spark.sql.functions._
    val base = graft.util.Scratch.dir("spec_eo_crash")
    val outDir = s"$base/out"
    val manifest = java.nio.file.Paths.get(s"$base/manifest")
    java.nio.file.Files.createDirectories(manifest)
    val feed = graft.tables.Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice").limit(100).cache()
    try {
      // attempt 1: data lands, then the process "dies" before the marker
      val firstAttempt = feed.withColumn("o_totalprice", -col("o_totalprice"))
      val boom = intercept[RuntimeException] {
        graft.streaming.StreamOps.commitEpoch(firstAttempt, 7L, outDir,
          manifest, afterWrite = _ => throw new RuntimeException("injected crash"))
      }
      assert(boom.getMessage == "injected crash")
      // crash state: orphaned data on disk, NO commit record — the marker
      // must not exist, otherwise the restart would skip the re-run and
      // serve partial/poisoned output as committed
      assert(spark.read.parquet(s"$outDir/batch_id=7").count() == 100,
        "crashed attempt should have left its (uncommitted) data")
      assert(!java.nio.file.Files.exists(manifest.resolve("batch-7")),
        "marker must not exist when the writer died before creating it")
      // restart: the epoch is re-delivered recomputed (true values now);
      // the overwrite replaces the orphan and the marker lands
      graft.streaming.StreamOps.commitEpoch(feed, 7L, outDir, manifest)
      assert(java.nio.file.Files.exists(manifest.resolve("batch-7")))
      val res = spark.read.parquet(s"$outDir/batch_id=7").cache()
      try {
        assert(res.count() == 100, "replay must not duplicate rows")
        assert(res.filter(col("o_totalprice") < 0).count() == 0,
          "no trace of the crashed attempt may survive the replay")
        // and a THIRD delivery (committed replay) no-ops: poisoned again,
        // but the marker wins
        graft.streaming.StreamOps.commitEpoch(
          feed.withColumn("o_totalprice", -col("o_totalprice")),
          7L, outDir, manifest)
        assert(spark.read.parquet(s"$outDir/batch_id=7")
          .filter(col("o_totalprice") < 0).count() == 0,
          "committed epoch must ignore re-delivery")
      } finally res.unpersist()
    } finally feed.unpersist()
  }

  test("every stream op keeps its micro-batch structure") {
    // the oracle sees only the final state: stream_dedup_incremental run as
    // one batch instead of two keeps the same keeper set. Pin the number of
    // micro-batches each registered stream op reports to StreamMetrics.
    val expected = Map(
      "stream_dedup_incremental" -> 2,
      "stream_enrich_dim" -> 1,
      "stream_exactly_once_sink" -> 2,
      "stream_file_source_upsert" -> 1,
      "stream_hourly_window" -> 1,
      "stream_session_state" -> 3,
      "stream_session_window" -> 3,
      "stream_sliding_window" -> 1,
      "stream_stream_join" -> 2,
      "stream_topk_windowed" -> 1,
      "stream_watermark_late" -> 2)
    assert(graft.streaming.StreamOps.queries.keySet == expected.keySet)
    def batches(op: String): Int =
      graft.streaming.StreamMetrics.snapshot.get(op).map(_.batches).getOrElse(0)
    val got = expected.keys.toSeq.sorted.map { op =>
      val before = batches(op)
      graft.streaming.StreamOps.queries(op)(spark, sfDir)
      // progress events reach the listener asynchronously: wait for the
      // expected count, then give a late extra event time to land
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (batches(op) - before < expected(op) && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
      op -> (batches(op) - before)
    }.toMap
    assert(got == expected, s"micro-batches per op: ${got.toSeq.sorted.mkString(", ")}")
  }

  test("watermark dedup restores exactly-once counts after duplicate drop") {
    val res = graft.streaming.StreamOps.streamWatermarkLate(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = graft.tables.Tables(spark, sfDir, "events")
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res == expected)
  }
}
