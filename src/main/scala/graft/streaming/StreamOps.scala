package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import graft.QFn
import graft.etl.Upsert
import graft.tables.Tables
import graft.util.Scratch

/** SURVEY.md §2.9 — the reference's "streaming" is event-driven micro-batch
  * orchestration: an hourly Data Pipeline run (README.md:58-60) and an
  * S3-ObjectCreated→Lambda→Glue trigger (README.md:74-76,128,156-158).
  * Structured Streaming's file source + Trigger.AvailableNow reproduces
  * both with zero extra processes: new files are discovered, each batch is
  * upserted via foreachBatch, and watermark+dropDuplicates covers the
  * "sync issue" late/duplicate drops (README.md:123).
  *
  * Every stream — the registered ops and tools/StreamRecover's crash and
  * resume runs — reads through [[fileStream]] and runs through [[drain]];
  * the stateful plans are built once each ([[sessionStatePlan]],
  * [[sessionWindowPlan]], [[intervalJoinPlan]]).
  *
  * The DuckDB oracle can't run streams, so each query returns the final
  * materialized state and the oracle is the batch-equivalent SQL
  * (SURVEY.md §2.9 note). Batch-vs-stream equivalence is additionally
  * asserted in StreamingSpec.
  */
object StreamOps {

  // Double-underscore separator (ADVICE r10): op keys are single-
  // underscore words, so "__" can only be the uniq suffix boundary —
  // with a single "_" an op whose final word is all-hex (stream_x_feed,
  // _dead, _cafe…) would be silently merged into a truncated metrics key
  // by StreamMetrics' suffix-strip.
  private def uniq(prefix: String): String =
    prefix + "__" + java.lang.Long.toHexString(System.nanoTime())

  // -------------------------------------------------------------------------
  // Staged stream fixtures (round 21, guide §1 — measure the computation):
  // every stream op's SOURCE files (the simulated S3 drops) are pure,
  // deterministic functions of the corpus, yet each timed bench row was
  // re-deriving and re-writing them inside its own wall-clock — the clean
  // round-21 capture put fixture staging at ~12 s of the 28 s streaming
  // block (wall − trigger per op), none of it stream computation. Staging
  // is memoized per (session, sfDir) — the same build-once category as the
  // llm index warmup (round 6) and the star stats (round 7): inputs are
  // prepared untimed, the STREAM (source listing, micro-batches, state
  // commits, sink) still runs fully inside the timed row, from files, on
  // every invocation. Checkpoints, state dirs, manifests and sinks remain
  // per-run fresh (Scratch.dir in each op), so spike re-runs stay
  // independent and nothing result-shaped is ever reused. Bench pre-stages
  // via [[stageFixtures]] in warmup; Verify and the specs stage lazily on
  // first use (they are untimed).
  // -------------------------------------------------------------------------
  private val fixtures = new graft.util.SessionMemo

  /** Memoized fixture dir: `stage` runs once per (session, sfDir, name)
    * into a fresh dir; later calls return the staged path. The staged dir
    * is RE-VALIDATED on every hit, under the key's lock (ADVICE r21):
    * other tools issue mid-session scratch wipes (ScaleCheck's sink loop
    * wipes everything except spark_local/derby/corpus), and a stale entry
    * pointing at a deleted dir would make later stream ops read empty
    * input — so a wiped fixture is restaged, and no second stager of the
    * same fixture can delete a restage still in flight. */
  private def stagedFixture(spark: SparkSession, sfDir: String, name: String)(
      stage: String => Unit): String = {
    // recursive: fileUpsertFix stages into SUBDIRS (hist/, incoming/), so a
    // top-level dataFiles() probe would read a healthy fixture as wiped
    def hasDataFile(f: java.io.File): Boolean =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).exists(hasDataFile)
      else f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
    fixtures.validated(spark, sfDir, name)((dir: String) => hasDataFile(new java.io.File(dir))) {
      val dir = Scratch.dir(s"stream_fix_${name}_${Scratch.pathTag(sfDir)}")
      stage(dir)
      dir
    }
  }

  /** The shared 4-file event source read by the tumbling/topk/sliding/
    * enrich/stream-join ops — identical content, staged once. 4 source
    * files for the 4 stream partitions. */
  private def eventSrc4(spark: SparkSession, sfDir: String): String =
    stagedFixture(spark, sfDir, "events4") { d =>
      Tables(spark, sfDir, "events").repartition(4)
        .write.mode("overwrite").parquet(d)
    }

  /** Pre-stage every bench-visible stream fixture (Bench's untimed
    * warmup step `streamFixtures`, which times it; idempotent).
    *
    * Round 22 (VERDICT r21 #5, guide §2.6 — overlap independent jobs):
    * the seven stagings are independent tiny write jobs, several of them
    * repartition(1) funnels whose single write task leaves 31 cores idle —
    * run sequentially they summed to ~4-6 s of warmup. A small driver
    * thread pool overlaps them so the funnels back-fill each other
    * (job descriptions are thread-local; FIFO scheduling gives exactly the
    * back-fill behaviour the guide describes). Safe because each staging
    * writes its own fixture dir, the memoization keys are distinct, and
    * the shared table loads are resolved BEFORE the pool below — so no
    * staging thread races the events conf-dance inside Tables.load. */
  def stageFixtures(spark: SparkSession, sfDir: String): Unit = {
    // resolve shared inputs once, single-threaded: every staging thread
    // then hits the Tables memo instead of racing schema resolution
    Seq("events", "orders", "documents").foreach(Tables(spark, sfDir, _))
    runStagings(spark, Seq(
      "events4" -> (() => eventSrc4(spark, sfDir)),
      "wm_late" -> (() => watermarkLateSrc(spark, sfDir)),
      "file_upsert" -> (() => fileUpsertFix(spark, sfDir)),
      "dedup_inc" -> (() => dedupIncrementalFix(spark, sfDir)),
      "exactly_once" -> (() => exactlyOnceFix(spark, sfDir)),
      "sess_state" -> (() => sessionStateFix(spark, sfDir)),
      "sess_window" -> (() => sessionWindowFix(spark, sfDir))))
  }

  /** Run `stagings` on a 4-thread pool. `invokeAll` returns only after
    * every staging has finished, so when this returns or throws no staging
    * is still writing or holding its fixture key's lock (timed rows that
    * follow a failed warmup would block on it); then the first failure, in
    * list order, is rethrown by name. */
  private[graft] def runStagings(spark: SparkSession,
      stagings: Seq[(String, () => String)]): Unit = {
    import scala.jdk.CollectionConverters._
    val tasks = stagings.map { case (name, f) =>
      new java.util.concurrent.Callable[String] {
        override def call(): String = {
          spark.sparkContext.setJobDescription(s"stageFixture:$name")
          try f() finally spark.sparkContext.setJobDescription(null)
        }
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val done = try pool.invokeAll(tasks.asJava).asScala finally pool.shutdown()
    stagings.zip(done).foreach { case ((name, _), fut) =>
      try fut.get()
      catch { case e: java.util.concurrent.ExecutionException =>
        throw new RuntimeException(s"stream fixture '$name' failed", e.getCause)
      }
    }
  }

  /** State-store provider for every stateful stream: RocksDB (bundled
    * rocksdbjni), not the default HDFS-backed in-memory provider. The
    * in-memory provider holds every key of every state-store version in
    * executor heap — fine at sf0.1, an OOM at 100 TB state (stream-stream
    * join state, million-user session maps). RocksDB spills to local SSD,
    * keeps a bounded block cache, and checkpoint-uploads SST files
    * incrementally, and it won the provider A/Bs (BASELINE.md rounds 9
    * and 17). StreamingSpec runs the sessionizer under BOTH providers and
    * asserts identical results, so the twin stays honest. */
  private[graft] val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Dedicated child session for a stateful stream, with a shuffle-partition
    * count sized to the stream. The partition count of a stateful query is a
    * real deployment decision made once per checkpoint (it is baked into
    * the state store layout and cannot change afterwards): size it to
    * volume/keyspace — 4 for the ~10k-row test streams here, executor
    * count × cores for a production stream. 32 state-store instances per
    * stateful operator on a 10k-row stream is pure commit overhead.
    * A child session has its OWN SQLConf over the shared SparkContext, so
    * the shared session's conf is never mutated — a toggle-and-restore on
    * the shared conf could leak 4 partitions into any query planned
    * concurrently (e.g. parallel test suites). `provider` is the
    * state-store provider class. */
  private[graft] def streamSession(spark: SparkSession,
      provider: String = RocksProvider): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    // Checkpoint retention, maintenance cadence and the snapshot threshold
    // stay at Spark's defaults: their A/Bs (BASELINE rounds 18 and 19)
    // moved nothing measurable.
    if (provider == RocksProvider) {
      // changelog checkpointing: upload per-batch CHANGELOGS instead of
      // SST snapshots — attacks exactly the per-batch commit floor the
      // round-9 A/B priced at ~1.3× vs HDFS (snapshots still happen, in
      // the background every N batches; BASELINE.md round 9).
      ss.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // Store unification for stream-stream joins (VERDICT r10 #7): the
      // classic symmetric hash join keeps FOUR stores per partition
      // (keyToNumValues + keyWithIndexToValue per side), so every
      // micro-batch pays 4 × partitions RocksDB commits — the measured
      // 61% commit share of stream_stream_join's trigger time. Format
      // version 3 (RocksDB-only) folds them into ONE store per partition
      // with virtual column families: same join semantics, quarter the
      // commit instances (BASELINE.md round 11). The version is baked into
      // a checkpoint at first start, which is safe here because every op
      // stages a fresh checkpoint per run.
      ss.conf.set("spark.sql.streaming.join.stateFormatVersion", "3")
      // put-path read-before-write: with row tracking on, every put does
      // a get to maintain the store's row count metric — pure overhead
      // for the join/dedup stores whose sizing signal is byte-based.
      ss.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    }
    ss
  }

  /** The parquet file source over `dir`. `perDrop` caps each micro-batch
    * at one file (`maxFilesPerTrigger=1`), so a dir staged by
    * [[stageDrops]] is delivered one drop per micro-batch, in drop order. */
  private[graft] def fileStream(ss: SparkSession, schema: StructType, dir: String,
      perDrop: Boolean = false): DataFrame = {
    val reader = ss.readStream.schema(schema)
    (if (perDrop) reader.option("maxFilesPerTrigger", "1") else reader).parquet(dir)
  }

  /** The one place a stream runs: attach [[StreamMetrics]], name the query
    * `<op>__<hex>` (the metrics key), checkpoint under `base`/ckpt, drain
    * every available file with `Trigger.AvailableNow` and wait for it.
    * `sink` picks the sink (`_.format("memory")` or `_.foreachBatch(…)`);
    * returns the query name, which is also the memory sink's table. */
  private[graft] def drain(plan: DataFrame, op: String, base: String,
      mode: String = "append")(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): String = {
    StreamMetrics.ensure(plan.sparkSession) // commit/work split (VERDICT r9 #6)
    val name = uniq(op)
    sink(plan.writeStream.queryName(name))
      .outputMode(mode)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    name
  }

  /** Fold every micro-batch of `plan` into a parquet state that flips
    * between two dirs under `base` (the staging/final pattern of
    * README.md:25,67 without a warehouse), starting from the state at
    * `init`: `step(state, batch)` is the next state. Returns the final
    * state's dir. */
  private def foldState(plan: DataFrame, op: String, base: String, init: String)(
      step: (DataFrame, DataFrame) => DataFrame): String = {
    val dirs = Array(s"$base/stateA", s"$base/stateB")
    var cur = init
    var i = 0
    drain(plan, op, base)(_.foreachBatch { (batch: DataFrame, _: Long) =>
      val next = dirs(i % 2); i += 1
      step(plan.sparkSession.read.parquet(cur), batch)
        .write.mode("overwrite").parquet(next)
      cur = next
    })
    cur
  }

  /** Pin the file-source delivery order of a staged "drop": the source
    * orders by modification time and breaks ties on the part-file path (a
    * random UUID), so two drops written back-to-back can be delivered in
    * either order. Stamp every data file of the drop with an explicit,
    * strictly increasing mtime instead. */
  private def stampDrop(dir: String, epochMs: Long, skip: Set[String]): Set[String] = {
    val stamped = Scratch.dataFiles(dir).filterNot(f => skip(f.getName))
    stamped.foreach { f =>
      java.nio.file.Files.setLastModifiedTime(f.toPath,
        java.nio.file.attribute.FileTime.fromMillis(epochMs))
    }
    stamped.map(_.getName).toSet
  }

  /** Stage each frame of `drops` as one part-file under `base`/src, mtimes
    * stamped 60 s apart in drop order, so [[fileStream]] with `perDrop`
    * delivers exactly one micro-batch per drop. */
  private[graft] def stageDrops(drops: Seq[DataFrame], base: String): Unit = {
    val now = System.currentTimeMillis()
    var stamped = Set.empty[String]
    drops.zipWithIndex.foreach { case (d, i) =>
      // FIXTURE-ONLY repartition(1): each drop must land as exactly one
      // part-file so mtime stamping gives one file per micro-batch — this
      // simulates the reference's per-hour S3 drops. Never copy this into
      // an operator's query plan; it would funnel all rows through one task.
      d.repartition(1).write
        .mode(if (i == 0) "overwrite" else "append").parquet(s"$base/src")
      stamped = stamped ++
        stampDrop(s"$base/src", now - (drops.length - i).toLong * 60000, skip = stamped)
    }
  }

  /** Staged inputs of [[streamFileSourceUpsert]]: the historical table and
    * the two "S3 drops" — deterministic corpus functions, staged once per
    * (session, sfDir) (see the fixture block above). */
  private def fileUpsertFix(spark: SparkSession, sfDir: String): String =
    stagedFixture(spark, sfDir, "file_upsert") { d =>
      val orders = Tables(spark, sfDir, "orders")
      val sel = Seq("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate")
      orders.select(sel.map(col): _*).write.mode("overwrite").parquet(s"$d/hist")
      // two staged "S3 drops": re-delivered 2001 orders with doubled price
      val stg = orders.filter(col("o_orderdate") >= lit("2001-01-01"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .select(sel.map(col): _*)
      // drops written as 4 files each, matching the 4 stream partitions —
      // a 32-task write makes the source list/read 32 tiny files per drop
      stg.filter(col("o_orderdate") < lit("2001-05-01"))
        .repartition(4).write.mode("append").parquet(s"$d/incoming")
      stg.filter(col("o_orderdate") >= lit("2001-05-01"))
        .repartition(4).write.mode("append").parquet(s"$d/incoming")
    }

  /** File-drop → incremental upsert (README.md:74-76,156-158): each
    * discovered file batch is merged into the current state via the §2.4
    * anti-join∪staging plan ([[foldState]]'s two-dir flip). */
  val streamFileSourceUpsert: QFn = (spark, sfDir) => {
    val fix = fileUpsertFix(spark, sfDir)
    // schema of the staged drops, derived from the SAME expression that
    // wrote them (plan-only — no action)
    val sel = Seq("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate")
    val schema = Tables(spark, sfDir, "orders")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .select(sel.map(col): _*).schema
    // per-run mutable dirs (checkpoint + the staging/final flip) stay
    // fresh per invocation — only the immutable INPUTS are pre-staged
    val state = foldState(fileStream(spark, schema, s"$fix/incoming"),
        "stream_file_source_upsert", Scratch.dir("stream_file_source_upsert"),
        s"$fix/hist") { (cur, batch) => Upsert.upsert(cur, batch, "o_orderkey") }
    spark.read.parquet(state)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** The hourly (window, event_type) counting stream over the staged event
    * source, as (hour, event_type, cnt) — shared by [[streamHourlyWindow]]
    * and [[streamTopkWindowed]], each running it under its own op key.
    *
    * Scale note: complete-mode + memory sink is the TEST harness shape (the
    * DuckDB oracle needs the whole result). A production 100 TB stream runs
    * the same plan with `withWatermark` + update/append mode into a real
    * sink, so state is bounded by the watermark horizon instead of holding
    * every window forever. */
  private def hourlyCounts(spark: SparkSession, sfDir: String, op: String): DataFrame = {
    val ss = streamSession(spark)
    val plan = fileStream(ss, Tables(spark, sfDir, "events").schema, eventSrc4(spark, sfDir))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .count()
    ss.table(drain(plan, op, Scratch.dir(op), "complete")(_.format("memory")))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("count").as("cnt"))
  }

  /** Hourly tumbling-window counts over the event stream (README.md:58-60
    * hourly cadence as a real stream aggregation). */
  val streamHourlyWindow: QFn = (spark, sfDir) =>
    hourlyCounts(spark, sfDir, "stream_hourly_window").orderBy("hour", "event_type")

  /** Windowed TOP-K — the live-leaderboard shape (top event types per
    * hour on a dashboard): the STREAM maintains only the per-(window,
    * type) counts (bounded state: windows × |types| rows, exactly the
    * tumbling-agg store), and the rank is computed over the compact
    * result table at read time — where a 100 TB pipeline computes it
    * too, because ranking inside the stream would re-sort every window
    * on every trigger for no smaller state. Ties break (cnt desc, type
    * asc), so the leaderboard is deterministic and the batch-twin DuckDB
    * oracle hash-matches. */
  val streamTopkWindowed: QFn = (spark, sfDir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("hour").orderBy(col("cnt").desc, col("event_type"))
    hourlyCounts(spark, sfDir, "stream_topk_windowed")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .orderBy("hour", "rnk")
  }

  /** Sliding windows — the trend-smoothing shape tumbling can't express
    * (a 1-hour window advancing every 15 minutes: each event lands in 4
    * overlapping windows), completing the streaming window trio alongside
    * the tumbling hourly agg and the session-gap state op. State per key
    * is (windows-per-slide × |event types|) rows — bounded like tumbling,
    * ×overlap; at 100 TB the overlap factor is the knob (window/slide),
    * not the data volume. Oracle = the batch twin: each event exploded to
    * its 4 epoch-aligned window starts (Spark's window() aligns to the
    * epoch in slide-width steps — replayed in DuckDB with explicit µs
    * floor arithmetic so alignment can't drift between engines). */
  val streamSlidingWindow: QFn = (spark, sfDir) => {
    val ss = streamSession(spark)
    val plan = fileStream(ss, Tables(spark, sfDir, "events").schema, eventSrc4(spark, sfDir))
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .count()
    val op = "stream_sliding_window"
    ss.table(drain(plan, op, Scratch.dir(op), "complete")(_.format("memory")))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:00").as("w_start"),
        col("event_type"), col("count").as("cnt"))
      .orderBy("w_start", "event_type")
  }

  /** Watermark + dropDuplicates against late/duplicate file drops — the
    * reference's "sync issue" (README.md:123): the same events file lands
    * twice; event_id dedup restores exactly-once counts. */
  val streamWatermarkLate: QFn = (spark, sfDir) => {
    val ss = streamSession(spark)
    val plan = fileStream(ss, Tables(spark, sfDir, "events").schema, watermarkLateSrc(spark, sfDir))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy("event_type").count()
    val op = "stream_watermark_late"
    ss.table(drain(plan, op, Scratch.dir(op), "complete")(_.format("memory")))
      .select(col("event_type"), col("count").as("cnt"))
      .orderBy("event_type")
  }

  /** Staged input of [[streamWatermarkLate]]: the event file landing TWICE
    * (the reference's "sync issue" duplicate drop). */
  private def watermarkLateSrc(spark: SparkSession, sfDir: String): String =
    stagedFixture(spark, sfDir, "wm_late") { d =>
      val ev = Tables(spark, sfDir, "events")
      ev.repartition(4).write.mode("append").parquet(d)
      ev.repartition(4).write.mode("append").parquet(d) // duplicate drop
    }

  /** Per-user event for the custom-state sessionizer (micros keep exact
    * gap arithmetic; see windowSessionize's unix_micros note). `ts` rides
    * along as a real timestamp because the WATERMARK needs an event-time
    * column — the micros long is invisible to it. */
  case class SEv(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
                 event_id: Long, value: Double)

  /** Open-session state carried across micro-batches. sum_fp is the running
    * value sum as a scale-4 fixed-point long (exact, order-independent —
    * the typed mirror of sum(CAST(value AS DECIMAL(18,4)))). */
  case class OpenSess(start_us: Long, last_us: Long, n: Long, sum_fp: Long)

  case class ClosedSess(user_id: Long, start_us: Long, end_us: Long,
                        n_events: Long, sum_value: Double)

  private val gapUs = 30L * 60 * 1000000

  private def fp4(v: Double): Long =
    new java.math.BigDecimal(java.lang.Double.toString(v))
      .setScale(4, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()

  private def fpOut(sumFp: Long): Double =
    java.math.BigDecimal.valueOf(sumFp, 4)
      .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Watermark delay for the sessionizer: how long an event may be late.
    * An idle user's open session is flushed once the watermark (max event
    * time − this delay) passes session_end + gap — at that point no
    * non-late event can ever extend it, so emitting is safe and exact. */
  private val sessionWmDelay = "1 hour"

  /** The flatMapGroupsWithState session closer: merge this batch's events
    * (sorted by event time) into the open session, EMIT every session closed
    * by a >30 min gap, keep the still-open one in state — with
    * EventTimeTimeout eviction so state stays bounded by the ACTIVE user
    * set: when the watermark passes last_event + gap without new data for
    * the user, the open session can never be extended (any extending event
    * would be late beyond the watermark), so it is emitted and the state
    * slot removed. Without this, every user who ever appeared holds a state
    * slot forever — the unbounded-state leak SURVEY §2.9 calls out; an
    * idle-timeout flush is how a 100 TB stream keeps its state stores
    * proportional to concurrent users, not lifetime users. */
  private def closeSessions(uid: Long, it: Iterator[SEv],
                            state: GroupState[OpenSess]): Iterator[ClosedSess] = {
    if (state.hasTimedOut) {
      // no new events and the watermark passed last + gap: the session is
      // closed by the passage of time — emit it, free the slot
      val s = state.get
      state.remove()
      return Iterator.single(ClosedSess(uid, s.start_us, s.last_us, s.n, fpOut(s.sum_fp)))
    }
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    var open = state.getOption
    val out = Array.newBuilder[ClosedSess]
    evs.foreach { e =>
      open match {
        case Some(s) if e.ts_us - s.last_us > gapUs =>
          out += ClosedSess(uid, s.start_us, s.last_us, s.n, fpOut(s.sum_fp))
          open = Some(OpenSess(e.ts_us, e.ts_us, 1, fp4(e.value)))
        case Some(s) =>
          open = Some(s.copy(last_us = e.ts_us, n = s.n + 1,
            sum_fp = s.sum_fp + fp4(e.value)))
        case None =>
          open = Some(OpenSess(e.ts_us, e.ts_us, 1, fp4(e.value)))
      }
    }
    open.foreach { s =>
      state.update(s)
      // fire when the watermark passes the gap horizon; ms resolution (the
      // state store's timeout clock) — safe vs the current watermark since
      // a session touched this batch ends above it by construction
      state.setTimeoutTimestamp((s.last_us + gapUs) / 1000)
    }
    out.result().iterator
  }

  /** Custom-state streaming sessionization (flatMapGroupsWithState) over a
    * stream of [[SEv]] rows: the stateful-operator shape Spark's built-in
    * windowed aggs can't express — arbitrary per-key state (the open
    * session) mutated across micro-batches with early emission of
    * completed sessions. Emits CLOSED sessions as (user_id, session_start,
    * session_end, n_events, sum_value): closed by a >gap follow-up event,
    * or flushed by the EventTimeTimeout once the watermark passes
    * session_end + gap (the batch oracle replays both closure rules).
    *
    * Scale: state is one tiny struct per ACTIVE user (not per event), hash
    * partitioned across state stores, and BOUNDED: the watermark +
    * EventTimeTimeout eviction in [[closeSessions]] flushes idle users'
    * sessions and frees their slots, so state is proportional to users
    * concurrently active within the watermark horizon — not lifetime users.
    * A user returning after eviction opens a fresh session (asserted in
    * StreamingSpec's idle-flush case). */
  private[graft] def sessionStatePlan(src: DataFrame): DataFrame = {
    val ss = src.sparkSession
    import ss.implicits._
    src.withWatermark("ts", sessionWmDelay)
      .as[SEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(closeSessions)
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"), col("sum_value"))
  }

  /** ENGINE-NATIVE streaming sessionization — the session_window aggregate
    * run as a stream (the built-in complement of [[sessionStatePlan]]),
    * same output columns. Sessions straddling a micro-batch boundary
    * exercise the engine's session MERGE state (adjacent windows within gap
    * coalesce across batches — the machinery flatMapGroupsWithState
    * hand-rolls). Append mode emits a session only once its window can no
    * longer grow: window end (last event + gap) at or below the final
    * watermark (max event time − 1 h delay, ms floor — AvailableNow runs a
    * closing no-data batch after the last data batch, so the final
    * watermark reflects ALL drops; the batch-replay oracle applies exactly
    * that rule). State per key is the open session windows within the
    * watermark horizon — bounded, store-partitioned, the same scale
    * contract as the custom-state op with zero user code. */
  private[graft] def sessionWindowPlan(src: DataFrame): DataFrame =
    src.withWatermark("ts", sessionWmDelay)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sum_dec"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"),
        round(col("sum_dec").cast("double"), 2).as("sum_value"))

  /** Run a session plan over the drop dir `src` (one micro-batch per drop)
    * in the stream session `ss` into a memory sink checkpointed under
    * `base`. */
  private def sessions(ss: SparkSession, plan: DataFrame => DataFrame, op: String,
      schema: StructType, src: String, base: String): DataFrame =
    ss.table(drain(plan(fileStream(ss, schema, src, perDrop = true)), op, base)(
        _.format("memory")))
      .orderBy("user_id", "session_start")

  /** Stage `drops` under `base` and run [[sessionStatePlan]] over them —
    * StreamingSpec's synthetic idle-user case and StateRecoverSpec's
    * uninterrupted twin. */
  private[graft] def runSessionState(spark: SparkSession, drops: Seq[DataFrame],
                                     base: String): DataFrame = {
    stageDrops(drops, base)
    sessions(streamSession(spark), sessionStatePlan, "stream_session_state",
      drops.head.schema, s"$base/src", base)
  }

  /** Stage `drops` under `base` and run [[sessionWindowPlan]] over them —
    * StreamingSpec's planted cross-batch-merge case and StateRecoverSpec's
    * uninterrupted twin. */
  private[graft] def runSessionWindow(spark: SparkSession, drops: Seq[DataFrame],
                                      base: String): DataFrame = {
    stageDrops(drops, base)
    sessions(streamSession(spark), sessionWindowPlan, "stream_session_window",
      drops.head.schema, s"$base/src", base)
  }

  /** The per-user event frame both sessionizer fixtures split. */
  private def sessionEv(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))

  private val sessionSplit = "2024-01-16"

  /** Staged drops of [[streamSessionState]] — two event-time-ordered
    * "drops", one file each so maxFilesPerTrigger=1 yields exactly two
    * micro-batches with state carried between them (the helper stamps
    * each drop's mtime so delivery order can't tie-break to a random
    * part-file path). */
  private def sessionStateFix(spark: SparkSession, sfDir: String): String =
    stagedFixture(spark, sfDir, "sess_state") { d =>
      val ev = sessionEv(spark, sfDir)
      stageDrops(Seq(
        ev.filter(col("ts_us") < unix_micros(to_timestamp(lit(sessionSplit)))),
        ev.filter(col("ts_us") >= unix_micros(to_timestamp(lit(sessionSplit))))), d)
    }

  /** [[sessionStatePlan]] over the event stream as two time-split file
    * drops, so sessions straddling the batch boundary genuinely exercise
    * the state carry-over. Sessions emitted = closed by a gap event OR
    * flushed by the watermark timeout; only sessions still alive within
    * the watermark horizon of the last event remain unemitted. */
  val streamSessionState: QFn = sessionState(RocksProvider)

  /** [[streamSessionState]] on the state-store `provider` — StreamingSpec
    * runs the HDFS-backed twin through it. */
  private[graft] def sessionState(provider: String): QFn = (spark, sfDir) =>
    sessions(streamSession(spark, provider), sessionStatePlan, "stream_session_state",
      sessionEv(spark, sfDir).schema, s"${sessionStateFix(spark, sfDir)}/src",
      Scratch.dir("stream_session_state")) // fresh ckpt per run

  /** Staged drops of [[streamSessionWindow]] — same split as the
    * custom-state twin, engine-native column set. */
  private def sessionWindowFix(spark: SparkSession, sfDir: String): String =
    stagedFixture(spark, sfDir, "sess_window") { d =>
      val ev = sessionWindowEv(spark, sfDir)
      stageDrops(Seq(
        ev.filter(col("ts") < lit(sessionSplit)),
        ev.filter(col("ts") >= lit(sessionSplit))), d)
    }

  private def sessionWindowEv(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "events").select(col("user_id"), col("ts"), col("value"))

  /** [[sessionWindowPlan]] over the same two time-split drops as
    * [[streamSessionState]]. */
  val streamSessionWindow: QFn = (spark, sfDir) =>
    sessions(streamSession(spark), sessionWindowPlan, "stream_session_window",
      sessionWindowEv(spark, sfDir).schema, s"${sessionWindowFix(spark, sfDir)}/src",
      Scratch.dir("stream_session_window")) // fresh ckpt per run

  /** Stream-stream interval join over one event stream `src`: views joined
    * to the same user's purchases within the following hour — the
    * attribution query (README.md:102 "viewing but not buying" run as a
    * live stream instead of a batch report). Both sides carry watermarks
    * and the join predicate bounds purchase_ts to [view_ts, view_ts + 1h];
    * together these let the engine expire view state once the purchase
    * watermark passes view_ts + 1h and purchase state once the view
    * watermark passes purchase_ts, so state is bounded by the interval —
    * the required shape for an unbounded stream-stream join at scale. */
  private[graft] def intervalJoinPlan(src: DataFrame): DataFrame = {
    def side(tpe: String, uid: String, eid: String, ts: String) =
      src.filter(col("event_type") === tpe)
        .select(col("user_id").as(uid), col("event_id").as(eid), col("ts").as(ts))
        .withWatermark(ts, "1 hour")
    side("view", "v_user", "view_id", "view_ts")
      .join(side("purchase", "p_user", "purchase_id", "purchase_ts"),
        expr("v_user = p_user AND purchase_ts >= view_ts " +
          "AND purchase_ts <= view_ts + interval 1 hour"))
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"))
  }

  /** [[intervalJoinPlan]] over the staged shared event source; both join
    * sides read the one source, so each micro-batch lists the directory
    * once; ckpt per-run. */
  val streamStreamJoin: QFn = (spark, sfDir) => {
    val ss = streamSession(spark)
    val plan = intervalJoinPlan(
      fileStream(ss, Tables(spark, sfDir, "events").schema, eventSrc4(spark, sfDir)))
    val op = "stream_stream_join"
    ss.table(drain(plan, op, Scratch.dir(op))(_.format("memory")))
      .orderBy("user_id", "view_id", "purchase_id")
  }

  /** The hashed-doc frame the incremental-dedup stream ingests. */
  private def dedupDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), sha2(lower(trim(col("text"))), 256).as("h"))

  /** Staged drops of [[streamDedupIncremental]]: two doc_id-split drops
    * (the id order makes the streamed keeper set equal batch exact-dedup —
    * the oracle's premise). */
  private def dedupIncrementalFix(spark: SparkSession, sfDir: String): String =
    stagedFixture(spark, sfDir, "dedup_inc") { d =>
      val docs = dedupDocs(spark, sfDir)
      val mid = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      stageDrops(Seq(docs.filter(col("doc_id") <= mid), docs.filter(col("doc_id") > mid)), d)
    }

  /** Incremental corpus dedup — dedup AS ingestion, the production shape
    * for a growing 100 TB corpus: each new file drop is hashed and
    * anti-joined against the accumulated first-seen index, so only
    * never-seen documents enter the corpus. State is the (hash, keeper)
    * index — it scales with DISTINCT documents, never with drops — and the
    * per-batch work is one broadcast-able anti-join, not a re-dedup of the
    * whole corpus (the full-rescan spelling is quadratic in drop count).
    * Drops arrive in doc_id order (stamped mtimes, one file per drop), so
    * the final keeper set provably equals the batch exact-dedup (min
    * doc_id per normalized text) — which is the DuckDB oracle, sha256 over
    * the same normalization. */
  val streamDedupIncremental: QFn = (spark, sfDir) => {
    val docs = dedupDocs(spark, sfDir)
    val incoming = s"${dedupIncrementalFix(spark, sfDir)}/src"
    // per-run mutable state dirs + checkpoint — only inputs are pre-staged
    val base = Scratch.dir("stream_dedup_incremental")
    docs.filter(lit(false)).write.mode("overwrite").parquet(s"$base/empty")
    val state = foldState(fileStream(spark, docs.schema, incoming, perDrop = true),
        "stream_dedup_incremental", base, s"$base/empty") { (state, batch) =>
      // one keeper per hash within the batch, then only never-seen hashes
      state.unionByName(batch.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
        .join(state, Seq("h"), "left_anti")
        .select("doc_id", "h"))
    }
    spark.read.parquet(state).select("doc_id", "h").orderBy("doc_id")
  }

  /** The manifest-guarded epoch commit streamExactlyOnceSink rides on,
    * factored out so StreamingSpec can exercise the crash window the
    * in-line poisoned replay cannot reach (VERDICT r10 #8): `afterWrite`
    * runs BETWEEN the data write and the marker creation — the one
    * ordering-critical gap in the protocol. A throw there models the
    * writer dying with data on disk but no commit record; the invariant
    * under test is that the marker is absent (so a restart re-runs the
    * epoch and its overwrite replaces the orphaned output) rather than
    * present over partial data. */
  private[graft] def commitEpoch(batch: DataFrame, id: Long, outDir: String,
      manifest: java.nio.file.Path,
      afterWrite: Long => Unit = _ => ()): Unit = {
    val marker = manifest.resolve(s"batch-$id")
    if (!java.nio.file.Files.exists(marker)) {
      // overwrite INTO the batch's own dir: replaying an uncommitted
      // epoch replaces partial output instead of appending duplicates
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      afterWrite(id) // crash-injection seam (no-op in production path)
      java.nio.file.Files.createFile(marker) // commit record LAST
    }
  }

  /** The two drops [[streamExactlyOnceSink]] and tools/StreamRecover's
    * sink mode ingest: the 2001+ orders split into even and odd keys. */
  private[graft] def exactlyOnceDrops(spark: SparkSession, sfDir: String): Seq[DataFrame] = {
    val feed = Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    Seq(feed.filter(pmod(col("o_orderkey"), lit(2)) === 0),
      feed.filter(pmod(col("o_orderkey"), lit(2)) === 1))
  }

  /** Staged drops of [[streamExactlyOnceSink]]: two drops → 2 batches. */
  private def exactlyOnceFix(spark: SparkSession, sfDir: String): String =
    stagedFixture(spark, sfDir, "exactly_once") { d =>
      stageDrops(exactlyOnceDrops(spark, sfDir), d)
    }

  /** Exactly-once APPEND sink via a batch-id manifest — the idempotence
    * pattern for sinks that cannot overwrite-swap (the staging/final flip
    * of streamFileSourceUpsert): each micro-batch writes its own
    * `batch_id=N` directory with mode=overwrite, and a manifest marker is
    * created only AFTER the data write completes ([[commitEpoch]]). A
    * crash between write and marker leaves an uncommitted directory that
    * the replayed epoch simply overwrites; a replay of a COMMITTED epoch
    * (Spark re-delivers the last batch after a restart whose commit-log
    * write raced the crash) hits the marker and no-ops. The op exercises
    * the guard in-line: after the stream drains, batch 0 is re-applied the
    * way a restarted query re-delivers a committed epoch — with its prices
    * NEGATED, because re-delivered batches are recomputed and may differ
    * (non-deterministic upstream transforms); exactly-once means the
    * COMMITTED epoch wins. The poison makes the guard observable: since
    * each epoch overwrites its own directory, an unpoisoned replay would
    * be byte-idempotent with or without the marker (review r10 — the
    * original spelling proved nothing), while a broken guard now lets
    * the poisoned overwrite flip half the revenue signs and the DuckDB
    * oracle hash-fails. At 100 TB the per-batch directory is also the
    * recovery unit: partial output is never visible under a committed
    * marker, and the pattern needs no table format — plain parquet + one
    * marker file per epoch. */
  val streamExactlyOnceSink: QFn = (spark, sfDir) => {
    val incoming = s"${exactlyOnceFix(spark, sfDir)}/src"
    // per-run output, manifest and checkpoint — only inputs are pre-staged
    val base = Scratch.dir("stream_exactly_once_sink")
    val outDir = s"$base/out"
    val manifest = java.nio.file.Paths.get(s"$base/manifest")
    java.nio.file.Files.createDirectories(manifest)

    val schema = exactlyOnceDrops(spark, sfDir).head.schema
    // the first drop's file names (for the poisoned replay below) —
    // recovered from the staged fixture by its older stamped mtime
    val firstDrop: Set[String] = {
      val files = Scratch.dataFiles(incoming)
      val oldest = files.map(_.lastModified()).min
      files.filter(_.lastModified() == oldest).map(_.getName).toSet
    }

    def commit(batch: DataFrame, id: Long): Unit =
      commitEpoch(batch, id, outDir, manifest)
    drain(fileStream(spark, schema, incoming, perDrop = true),
      "stream_exactly_once_sink", base)(_.foreachBatch((b: DataFrame, id: Long) => commit(b, id)))
    // simulate the restart re-delivery of a committed epoch — POISONED
    // (negated prices): the committed directory must win, so any trace
    // of the negation in the result means the guard is broken
    val replayPaths = firstDrop.toSeq.sorted.map(f => s"$incoming/$f")
    commit(spark.read.schema(schema).parquet(replayPaths: _*)
      .withColumn("o_totalprice", -col("o_totalprice")), 0L)
    spark.read.parquet(outDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Stream-static dimension enrichment — the lookup-join half of every
    * streaming ETL (the reference's funnel events gaining customer
    * attributes on the way in, README.md:85-87,99-102): the event stream
    * joins the static customer dimension, then aggregates per (segment,
    * event_type). A stream-static equi-join is STATELESS — each micro-batch
    * plans a fresh broadcast hash join against the dimension (so a
    * slowly-changing dim is re-read at every trigger, picking up updates),
    * and no join state accumulates. The only state is the aggregation's
    * group rows, bounded by |segments| × |event types|. Complete-mode +
    * memory sink is the test-harness shape; production runs update mode
    * into a real sink. */
  val streamEnrichDim: QFn = (spark, sfDir) => {
    val ss = streamSession(spark)
    val dim = Tables(ss, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val plan = fileStream(ss, Tables(spark, sfDir, "events").schema, eventSrc4(spark, sfDir))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_value"))
    val op = "stream_enrich_dim"
    ss.table(drain(plan, op, Scratch.dir(op), "complete")(_.format("memory")))
      .orderBy("c_mktsegment", "event_type")
  }

  val queries: Map[String, QFn] = Map(
    "stream_dedup_incremental" -> streamDedupIncremental,
    "stream_enrich_dim" -> streamEnrichDim,
    "stream_exactly_once_sink" -> streamExactlyOnceSink,
    "stream_file_source_upsert" -> streamFileSourceUpsert,
    "stream_hourly_window" -> streamHourlyWindow,
    "stream_sliding_window" -> streamSlidingWindow,
    "stream_topk_windowed" -> streamTopkWindowed,
    "stream_watermark_late" -> streamWatermarkLate,
    "stream_session_state" -> streamSessionState,
    "stream_session_window" -> streamSessionWindow,
    "stream_stream_join" -> streamStreamJoin,
  )

  val oracleSql: Map[String, String] = Map(
    // id-ordered drops make the streamed keeper set equal batch exact-dedup
    "stream_dedup_incremental" ->
      ("SELECT min(doc_id) AS doc_id, sha256(lower(trim(text))) AS h " +
        "FROM documents GROUP BY 2 ORDER BY 1"),
    "stream_enrich_dim" ->
      ("SELECT c_mktsegment, event_type, count(*) AS cnt, " +
        "ROUND(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value " +
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    // every feed row exactly once with its ORIGINAL values despite the
    // poisoned replayed epoch — a broken manifest guard lets the replay
    // overwrite batch 0 with negated prices and the hash fails
    "stream_exactly_once_sink" ->
      ("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "WHERE o_orderdate >= DATE '2001-01-01' ORDER BY o_orderkey"),
    "stream_file_source_upsert" ->
      ("SELECT o_orderkey, CASE WHEN o_orderdate >= TIMESTAMP '2001-01-01' " +
        "THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice, o_orderstatus " +
        "FROM orders ORDER BY o_orderkey"),
    "stream_hourly_window" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, " +
        "event_type, count(*) AS cnt FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "stream_topk_windowed" ->
      ("WITH c AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, " +
        "event_type, count(*) AS cnt FROM events GROUP BY 1, 2), " +
        "r AS (SELECT hour, event_type, cnt, CAST(row_number() OVER " +
        "(PARTITION BY hour ORDER BY cnt DESC, event_type) AS INT) AS rnk FROM c) " +
        "SELECT hour, event_type, cnt, rnk FROM r WHERE rnk <= 2 ORDER BY hour, rnk"),
    "stream_sliding_window" ->
      ("WITH e AS (SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS b, " +
        "event_type FROM events), " +
        "w AS (SELECT b - (k * INTERVAL '15 minutes') AS w_start, event_type " +
        "FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)) " +
        "SELECT strftime(w_start, '%Y-%m-%d %H:%M:00') AS w_start, event_type, " +
        "count(*) AS cnt FROM w GROUP BY 1, 2 ORDER BY 1, 2"),
    "stream_watermark_late" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1",
    "stream_stream_join" ->
      ("SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id " +
        "FROM events v JOIN events p ON v.user_id = p.user_id " +
        "AND v.event_type = 'view' AND p.event_type = 'purchase' " +
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR " +
        "ORDER BY v.user_id, view_id, purchase_id"),
    // batch sessionization, keeping every session the stream emits: closed
    // by a >gap follow-up event (sid < user's max sid) OR flushed by the
    // EventTimeTimeout — the final watermark (max event ms − 1h delay)
    // strictly passed session_end + gap (ms floor and strict < mirror the
    // state store's timeout clock exactly). Only sessions still alive
    // within the watermark horizon stay unemitted.
    // native session_window batch replay: same session construction as
    // window_session_native, emitted iff the window end (last + gap)
    // cleared the final ms-floored watermark (the engine's clock; the
    // closing no-data batch makes the final watermark reflect all drops)
    "stream_session_window" ->
      ("WITH g AS (SELECT user_id, ts, value, event_id, " +
        "CASE WHEN lag(ts) OVER w IS NULL " +
        "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30 * 60 * 1000000 THEN 1 ELSE 0 END AS ns " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g), " +
        "a AS (SELECT user_id, min(ts) AS session_start, " +
        "max(ts) + INTERVAL 30 MINUTE AS session_end, CAST(count(*) AS BIGINT) AS n_events, " +
        "ROUND(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value " +
        "FROM s GROUP BY user_id, sid), " +
        "wm AS (SELECT (max(epoch_us(ts)) // 1000) - 3600000 AS wm_ms FROM events) " +
        "SELECT user_id, session_start, session_end, n_events, sum_value FROM a, wm " +
        "WHERE (epoch_us(session_end) // 1000) < wm_ms " +
        "ORDER BY user_id, session_start"),
    "stream_session_state" ->
      ("WITH g AS (SELECT user_id, ts, event_id, value, " +
        "CASE WHEN lag(ts) OVER w IS NULL " +
        "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_sess " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g), " +
        "a AS (SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end, " +
        "count(*) AS n_events, " +
        "ROUND(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value FROM s GROUP BY 1, 2), " +
        "wm AS (SELECT (max(epoch_us(ts)) // 1000) - 3600000 AS wm_ms FROM events) " +
        "SELECT user_id, session_start, session_end, n_events, sum_value FROM a, wm " +
        "WHERE sid < (SELECT max(sid) FROM a a2 WHERE a2.user_id = a.user_id) " +
        "OR ((epoch_us(session_end) + 30 * 60 * 1000000) // 1000) < wm_ms " +
        "ORDER BY user_id, session_start"),
  )
}
