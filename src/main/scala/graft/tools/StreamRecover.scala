package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Streaming recovery across a PROCESS restart — the Lambda-retry reality
  * of the reference (README.md:74-76: a failed trigger re-fires and the
  * pipeline must not double-apply). `stream_exactly_once_sink` proves the
  * manifest-guarded epoch commit within one JVM; this tool proves the
  * cross-process half, mirroring the CatalogPersist forked-JVM pattern, for
  * four stream plans (`<verb>` alone runs the sink mode, `<verb>-<mode>`
  * the others):
  *
  *  - `sink`: the stateless foreachBatch sink over the even/odd order drops
  *    of `stream_exactly_once_sink` (offset WAL + idempotent epoch commit);
  *  - `custom`: the flatMapGroupsWithState sessionizer
  *    ([[StreamOps.sessionStatePlan]]) — opaque per-key user state;
  *  - `native`: the engine's session_window aggregate
  *    ([[StreamOps.sessionWindowPlan]]) — the merging-session store;
  *  - `join`: the stream-stream interval join
  *    ([[StreamOps.intervalJoinPlan]]) — the symmetric-join store, whose
  *    buffered-but-unmatched rows are the state that must survive.
  *
  * The three stateful modes read three time-split event drops, so real
  * open state crosses the crash point.
  *
  *  - `crash` stages the drops, runs the plan one drop per micro-batch
  *    through the manifest-guarded epoch commit
  *    ([[StreamOps.commitEpoch]]), and dies INSIDE epoch 1's commit window
  *    — after the batch's output is written (and, for the stateful modes,
  *    after the state stores committed the batch's version), before the
  *    manifest marker. It verifies the wreckage (marker 0 present, marker 1
  *    absent, orphaned batch-1 rows present, state-store files on disk for
  *    the stateful modes) and POISONS the orphan (one column negated) so a
  *    resume that trusts orphaned output instead of re-running the epoch
  *    is observable, not silently byte-idempotent.
  *  - `resume` is a BRAND-NEW JVM sharing only checkpoint + sink dirs:
  *    Spark replays epoch 1 from the offset WAL, the state stores reload
  *    batch 1's input version (not the crashed process's), the re-delivered
  *    batch OVERWRITES the poison, and the remaining batches complete. It
  *    writes the result rows to `outFile`; StreamRecoverSpec and
  *    StateRecoverSpec compare them with a batch oracle or an
  *    uninterrupted single-JVM run of the same drops.
  *
  * At 100 TB this is the recovery contract that matters: executors and
  * drivers die mid-epoch with million-user state in flight, and the
  * checkpoint (offset WAL + versioned state store) plus the idempotent
  * epoch-directory commit are what make a restarted job land the same
  * bytes a never-crashed run would. */
object StreamRecover {

  /** One recovery mode: its drops, its stream plan, whether it keeps
    * state, the column the crash poisons, and resume's result rows. */
  private final case class Mode(
      drops: (SparkSession, String) => Seq[DataFrame],
      plan: DataFrame => DataFrame,
      stateful: Boolean,
      poison: String,
      rows: DataFrame => Seq[String])

  private val Splits = Seq("2024-01-11", "2024-01-21")

  /** Split `ev` into the three event-time-ordered drops at [[Splits]]. */
  private def split(ev: DataFrame): Seq[DataFrame] = {
    val cuts = Splits.map(s => to_timestamp(lit(s)))
    Seq(
      ev.filter(col("ts") < cuts(0)),
      ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
      ev.filter(col("ts") >= cuts(1)))
  }

  /** The three session drops both the tool and StateRecoverSpec's
    * uninterrupted twin consume — same projection as the registered op. */
  private[graft] def drops(spark: SparkSession, sfDir: String): Seq[DataFrame] =
    split(graft.tables.Tables(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value")))

  /** Drops for the join mode: event_type rides along so each micro-batch
    * carries BOTH sides of the interval join (views and purchases from
    * the same time slice — matches straddle batch boundaries through the
    * buffered join state, which is the thing under test). */
  private def joinDrops(spark: SparkSession, sfDir: String): Seq[DataFrame] =
    split(graft.tables.Tables(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))

  private def sessionRows(out: DataFrame): Seq[String] =
    out.select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
      .collect().toSeq
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}," +
        s"${r.getLong(3)},${r.getDouble(4)}")

  private val modes: Map[String, Mode] = Map(
    "sink" -> Mode(StreamOps.exactlyOnceDrops, identity, stateful = false,
      "o_totalprice", out => out.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
            .as("revenue"))
        .orderBy("o_orderstatus")
        .collect().toSeq
        .map(r => s"${r.getString(0)},${r.getLong(1)},${r.getDouble(2)}")),
    "custom" -> Mode(drops, StreamOps.sessionStatePlan, stateful = true,
      "sum_value", sessionRows),
    "native" -> Mode(drops, StreamOps.sessionWindowPlan, stateful = true,
      "sum_value", sessionRows),
    "join" -> Mode(joinDrops, StreamOps.intervalJoinPlan, stateful = true,
      "purchase_id", out => out.select(col("user_id"), col("view_id"), col("purchase_id"))
        .orderBy("user_id", "view_id", "purchase_id")
        .collect().toSeq
        .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}")))

  def main(args: Array[String]): Unit = {
    val (verb, mode) = args.headOption.getOrElse("").split("-", 2) match {
      case Array(v) => (v, "sink")
      case Array(v, m) => (v, m)
    }
    (verb, modes.get(mode), args.toSeq.drop(1)) match {
      case ("crash", Some(m), Seq(sfDir, baseDir)) => crash(sfDir, baseDir, mode, m)
      case ("resume", Some(m), Seq(sfDir, baseDir, outFile)) =>
        resume(sfDir, baseDir, outFile, mode, m)
      case _ =>
        System.err.println(
          "usage: StreamRecover crash[-custom|-native|-join] <sfDir> <baseDir> | " +
            "resume[-custom|-native|-join] <sfDir> <baseDir> <outFile>; " +
            s"got ${args.mkString(" ")}")
        sys.exit(2)
    }
  }

  /** The one stream both processes run — identical source, schema, plan
    * and checkpoint; only the crash seam differs (the foreachBatch body is
    * code, not checkpoint state). */
  private def run(spark: SparkSession, sfDir: String, baseDir: String,
      mode: String, m: Mode, afterWrite: Long => Unit): Unit = {
    val manifest = java.nio.file.Paths.get(s"$baseDir/manifest")
    java.nio.file.Files.createDirectories(manifest)
    val ss = StreamOps.streamSession(spark)
    val src = StreamOps.fileStream(ss, m.drops(ss, sfDir).head.schema,
      s"$baseDir/src", perDrop = true)
    StreamOps.drain(m.plan(src), s"stream_recover_$mode", baseDir)(
      _.foreachBatch { (b: DataFrame, id: Long) =>
        StreamOps.commitEpoch(b, id, s"$baseDir/out", manifest, afterWrite)
      })
  }

  private def crash(sfDir: String, baseDir: String, mode: String, m: Mode): Unit = {
    val spark = session()
    try {
      // one mtime-ordered part-file per drop under <base>/src — the same
      // stager the registered ops use
      StreamOps.stageDrops(m.drops(spark, sfDir), baseDir)
      val died =
        try {
          run(spark, sfDir, baseDir, mode, m, afterWrite = id =>
            if (id == 1) throw new RuntimeException(
              "injected crash: epoch-1 rows written, marker not yet created"))
          false
        } catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            require(
              // null-guard BOTH messages (ADVICE r17): a wrapped runtime
              // error with a null message must surface the real "wrong
              // cause" diagnostic, not an NPE inside the check itself
              Option(e.getCause).flatMap(c => Option(c.getMessage))
                .exists(_.contains("injected crash")) ||
                Option(e.getMessage).exists(_.contains("injected crash")),
              s"stream died of the WRONG cause: $e")
            true
        }
      require(died, "crash mode: the injected failure did not propagate")
      val m0 = java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$baseDir/manifest/batch-0"))
      val m1 = java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$baseDir/manifest/batch-1"))
      val orphan = new java.io.File(s"$baseDir/out/batch_id=1")
      require(m0, "epoch 0 marker missing — batch 0 never committed")
      require(!m1, "epoch 1 marker EXISTS — crash seam did not fire before it")
      require(orphan.isDirectory && graft.util.Scratch.dataFiles(orphan.getPath).nonEmpty,
        "orphaned epoch-1 data missing — crash seam fired before the write")
      if (m.stateful) {
        // the state-store evidence: versions committed by the crashed run
        // must be on disk for the fresh JVM to load (RocksDB changelog /
        // snapshot files under the checkpoint's state tree)
        val stateDir = new java.io.File(s"$baseDir/ckpt/state")
        def anyFile(f: java.io.File): Boolean =
          if (f.isFile) true
          else Option(f.listFiles()).getOrElse(Array.empty).exists(anyFile)
        require(stateDir.isDirectory && anyFile(stateDir),
          "no state-store files in the checkpoint — nothing for resume to recover")
      }
      // poison the orphan so "trust the orphaned output" is observable;
      // read fully into driver memory before the overwrite (tiny frame)
      val poisoned = spark.read.parquet(orphan.getPath)
        .withColumn(m.poison, -col(m.poison))
      val rows = poisoned.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), poisoned.schema)
        .write.mode("overwrite").parquet(orphan.getPath)
      println(s"[stream-recover] crashed mid-epoch-1 (mode=$mode): " +
        "marker0=present marker1=absent orphan=present(poisoned)" +
        (if (m.stateful) " state-files=present" else ""))
    } finally spark.stop()
  }

  private def resume(sfDir: String, baseDir: String, outFile: String,
      mode: String, m: Mode): Unit = {
    val spark = session()
    try {
      // no staging, no injection — this JVM knows only checkpoint + dirs
      run(spark, sfDir, baseDir, mode, m, afterWrite = _ => ())
      val m1 = java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$baseDir/manifest/batch-1"))
      require(m1, "resume did not commit epoch 1 — WAL replay failed")
      val rows = m.rows(spark.read.parquet(s"$baseDir/out"))
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        rows.mkString("\n").getBytes("UTF-8"))
      println(s"[stream-recover] resumed from checkpoint (mode=$mode): ${rows.length} rows")
    } finally spark.stop()
  }

  private def session(): SparkSession =
    SparkSession.builder()
      .master("local[4]")
      .appName("stream-recover")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
}
