package graft
import org.apache.spark.sql.SparkSession

/** The band / stream-phase resource parsers, shared by [[Bench]] (the
  * consumer) and BandResourceSpec (the pin) — extracted (ADVICE r17) so
  * the spec exercises the PRODUCTION parse by construction instead of a
  * copy-pasted regex that silently de-synchronizes on the next widening. */
private[graft] object BenchParse {
  /** bench_bands.json → op → clean-median seconds. Accepts exponent/sign
    * forms (ADVICE r12 #5); drops non-finite/negative values. */
  def bands(txt: String): Map[String, Double] =
    """"([^"]+)"\s*:\s*(-?[0-9]+(?:\.[0-9]*)?(?:[eE][+-]?[0-9]+)?)""".r
      .findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter { case (_, v) => java.lang.Double.isFinite(v) && v >= 0 }
      .toMap

  /** bench_stream_phases.json → op → {work_sec, wal_sec, state_sec}. */
  def phases(txt: String): Map[String, Map[String, Double]] =
    """"([A-Za-z0-9_]+)"\s*:\s*\{([^}]*)\}""".r.findAllMatchIn(txt).map { m =>
      val fields =
        """"(work_sec|wal_sec|state_sec)"\s*:\s*(-?[0-9]+(?:\.[0-9]*)?(?:[eE][+-]?[0-9]+)?)""".r
          .findAllMatchIn(m.group(2))
          .map(f => f.group(1) -> f.group(2).toDouble)
          .filter { case (_, v) => java.lang.Double.isFinite(v) && v >= 0 }
          .toMap
      m.group(1) -> fields
    }.toMap
}

/** The benchmark main: one untimed warm stage, one timed row per selected
  * operator, one report (four stdout JSON lines, the last one the total,
  * plus the detail and per-query sidecars). */
object Bench {
  import graft.util.Driver.{quote, secs}
  import graft.util.Scratch

  // The recorded clean-regime medians of the three calibration probes
  // (BASELINE.md rounds 2/4/10).
  private val CalibNominal = 0.50
  private val CalibShuffleNominal = 1.15
  private val CalibIoNominal = 1.15

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Stage Spark's working dirs (shuffle spill, RocksDB state-store
    // working trees, broadcast scratch) on the repo scratch policy
    // (VERDICT r14 #1a) instead of the /tmp default: one explicit,
    // pre-created location the warmed-scratch wipe knows to preserve, on
    // the same device every sink op writes to — so the io calibration
    // probes measure the regime the streams' state commits actually run
    // under. resetKeep: stale children from a killed previous run are
    // cleared now (before the context exists); the live session's fresh
    // subdirs are preserved by every later wipe.
    val spark = graft.util.Driver.session(cpus,
      "spark.local.dir" -> Scratch.resetKeep("spark_local"))
    // Optional comma-separated subset for local iteration (default: all).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(q => s(q._1)))
    val (warmupSec, warmupSteps) = warm(spark, sfDir, selected.keySet)
    only.foreach { s =>
      val unknown = s -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] WARNING: unknown query names in SPARK_GRAFT_ONLY: ${unknown.mkString(", ")}")
    }
    val rows = timedRows(spark, sfDir, cpus.toInt, selected)
    report(sfDir, cpus, warmupSec, warmupSteps, rows)
    spark.stop()
  }

  /** The untimed stage: JIT warmup, then (timed as `warmup_sec`) the
    * scratch wipe, the page-cache sweep, every [[graft.llm.Warmup]] step
    * the selection reads, and the resident-storage line. Returns the
    * stage's seconds and each warmup step's seconds. */
  private def warm(spark: SparkSession, sfDir: String,
      selected: Set[String]): (Double, Seq[(String, Double)]) = {
    // JIT/codegen warmup outside the timed loop so the first measured query
    // isn't charged for one-time JVM work. Best-effort: a bad sfDir must
    // surface as per-query failures below, not kill the run here.
    try spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().count()
    catch { case _: Throwable => () }
    var steps = Seq.empty[(String, Double)]
    val sec = secs {
      // Warmed-scratch staging (VERDICT r14 #1a): delete every stale
      // scratch child (previous bench/verify leftovers — multi-GB of
      // sink output, stream checkpoints, old index persists) BEFORE the
      // timed loop, so no FIRST sample pays a bulk delete inside its own
      // row and the filesystem metadata for the scratch tree is warm.
      // Residual (review r15): spike RE-runs still delete the previous
      // sample's output inside their timed region (a generic mid-loop
      // wipe would destroy the persisted index frames other rows
      // consume) — that bias is upward-only on the re-run samples, so
      // the adjudicated median errs conservative, never hides a spike.
      // spark_local survives: it is the live session's spark.local.dir,
      // created at context start. Index persists wiped here are rebuilt
      // by the warmup steps below, still untimed.
      try Scratch.wipeExcept(Set("spark_local"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] scratch wipe failed: ${e.getMessage}")
      }
      // Page-cache sweep of EVERY timed input artifact (VERDICT r11 #1):
      // the round-11 driver capture spiked 15-23x on rows whose first
      // timed action was a cold read of the sf tables under a measured
      // io_factor-1.66 episode. The corpus is small (sf0.1 = ~17 MB), so
      // touching every byte untimed costs <1 s and removes the cold-read
      // path from all 200+ timed rows. Staging files the ops write
      // themselves are warm by construction (written immediately before
      // their read-back); the repeat policy covers the write path.
      try {
        val buf = new Array[Byte](1 << 20)
        def sweep(f: java.io.File): Unit =
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(sweep)
          else if (f.isFile) {
            val in = new java.io.FileInputStream(f)
            try { while (in.read(buf) >= 0) () } finally in.close()
          }
        sweep(new java.io.File(sfDir))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] page-cache sweep failed: ${e.getMessage}")
      }
      steps = graft.llm.Warmup.run(spark, sfDir, selected)
      // Lifecycle audit (round 19, VERDICT r18 #6): the warmup persists
      // are the timed loop's co-tenants — report their resident footprint
      // so every capture records whether the ×128 neighbor effect (a
      // builder persist occupying most of the heap while consumers are
      // timed, BASELINE r18) can exist at fixture scale. The reading is
      // recorded per-round in BASELINE.md's close (first recorded: round
      // 20) — this comment cites no number so prose cannot drift from
      // the artifact (VERDICT r19 #3).
      try {
        val infos = spark.sparkContext.getRDDStorageInfo
        val memMb = infos.map(_.memSize).sum / 1048576.0
        val diskMb = infos.map(_.diskSize).sum / 1048576.0
        System.err.println(f"[bench] resident storage after warmup: " +
          f"${infos.length} cached RDDs, $memMb%.1f MB memory, $diskMb%.1f MB disk")
      } catch { case _: Throwable => () }
    }
    (sec, steps)
  }

  /** What the timed stage measured: each row's reported and first-sample
    * seconds (-1 for a failure), the spike re-runs, the successful runs per
    * stream op, and the calibration probes with the regime derived from
    * them. */
  private final case class Rows(
      results: Seq[(String, Double)], firstSamples: Seq[Double],
      reruns: Seq[(String, Seq[Double])], rerunFailed: Int,
      streamRuns: Map[String, Int],
      calibSec: Double, calibShuffleSec: Double, calibIoSec: Double,
      calibIo2Sec: Double, hostFactor: Double, hostShuffleFactor: Double,
      hostIoFactor: Double, hostIoFactor2: Double,
      calibAbnormal: Boolean, abnormalFinal: Boolean,
      regimeScaleStart: Double, regimeScale: Double)

  /** The timed stage: three calibration probes, then every selected op in
    * name order, with repeat-on-spike adjudication against its clean band
    * and a mid-run io re-probe after the last sink row. */
  private def timedRows(spark: SparkSession, sfDir: String, cpus: Int,
      selected: Map[String, QFn]): Rows = {
    // Fixed-workload host calibration: a deterministic CPU-bound job whose
    // cost is independent of the query set and scale factor. Cross-round
    // totals can only be compared after normalizing by this — round 3
    // measured the identical warmup workload 4-5× slower than round 2 with
    // ~0% hypervisor steal (slower per-core host), which would otherwise
    // read as a regression.
    // collect() (not count()) forces the aggregate — count() on an agg
    // result prunes the whole computation to an empty Range loop. The fold
    // is bit_xor, not sum: summing 200M xxhash64 longs overflows and ANSI
    // mode turns that into an error.
    val calibSec = secs {
      spark.range(0, 200000000L, 1, cpus)
        .selectExpr("xxhash64(id) AS h")
        .selectExpr("bit_xor(h) AS x").collect()
    }
    // Second calibration with a real shuffle: the round-3 host showed
    // episodes where pure-CPU throughput (calib above) stayed flat while
    // shuffle-heavy fixed workloads ran 4-5× slower — the two numbers
    // together tell a reader WHICH regime a given bench total ran under.
    val calibShuffleSec = secs {
      spark.range(0, 5000000L, 1, cpus)
        .selectExpr("pmod(xxhash64(id), 100000) AS k")
        .groupBy("k").count()
        .agg(org.apache.spark.sql.functions.sum("count")).collect()
    }
    // Third calibration, I/O-bound (VERDICT r9 #1): a fixed parquet
    // write+read workload. The round-9 driver bench ran 55% over the
    // same-commit clean band while BOTH existing probes (pure-CPU,
    // shuffle) read normal-to-fast — the episode was on the disk path,
    // which neither probe touches. 8M rows × four 64-bit hash columns
    // (high-entropy, so the parquet encoder can't compress the cost away)
    // ≈ 256 MB written then fully read back (the xor folds every column,
    // defeating column pruning). CPU share is two xxhash64 passes — small
    // and constant, so a move in this number is a move in the I/O regime.
    // Factored so the SAME fixed workload can re-probe mid-run (VERDICT
    // r14 #1c): the r13 capture degraded AFTER the pre-loop calibrations
    // read nominal, so the capture itself carried no evidence of the
    // episode — a second probe after the sink block makes a sustained
    // io regime shift visible in the artifact and folds it into the
    // repeat policy's thresholds for the rows still to come.
    def ioProbe(tag: String): Double = {
      val dir = Scratch.dir(s"calib_io_$tag")
      secs {
        spark.range(0, 8000000L, 1, 8)
          .selectExpr("id", "xxhash64(id, 1) AS h1", "xxhash64(id, 2) AS h2",
            "xxhash64(id, 3) AS h3")
          .write.mode("overwrite").parquet(s"$dir/t")
        spark.read.parquet(s"$dir/t")
          .selectExpr("id ^ h1 ^ h2 ^ h3 AS v")
          .selectExpr("bit_xor(v) AS x").collect()
      }
    }
    val calibIoSec = ioProbe("pre")
    // Host-regime factors derived from the three probes, computed BEFORE
    // the timed loop (ADVICE r12 #4): the repeat policy below must scale
    // its spike thresholds by the measured regime, or a uniformly slow
    // host trips the threshold on most rows and which rows get median-of-3
    // becomes an iteration-order lottery.
    val hostFactor = math.max(calibSec / CalibNominal, 1e-9)
    val hostShuffleFactor = math.max(calibShuffleSec / CalibShuffleNominal, 1e-9)
    val hostIoFactor = math.max(calibIoSec / CalibIoNominal, 1e-9)
    // ADVICE r6: normalization is only honest near the recorded regime —
    // a far-off calibration (host episode, or a future edit to the
    // calibration workload itself) must be FLAGGED, not silently divided
    // through. When abnormal, trust the raw total and the calib pair, not
    // total_normalized — and (ADVICE r12 #4) skip spike re-runs entirely:
    // on a uniformly degraded host every repeat measures the same
    // degradation, so the extra samples buy nothing and cost the budget.
    // Gate on all THREE probes (VERDICT r9 #1): a disk episode moves only
    // the I/O probe. The I/O gate is tighter (2×) than CPU/shuffle (3×):
    // sink/scan queries track the I/O regime almost linearly.
    val calibAbnormal = hostFactor > 3.0 || hostFactor < 1.0 / 3.0 ||
      hostShuffleFactor > 3.0 || hostShuffleFactor < 1.0 / 3.0 ||
      hostIoFactor > 2.0 || hostIoFactor < 1.0 / 2.0
    // Spike thresholds scale with the worst measured regime factor
    // (floored at 1 — a fast host must not tighten the band below its
    // recorded clean median). CPU-bound rows track hostFactor, scan/sink
    // rows track hostIoFactor; the max is conservative for both, so a
    // uniformly slow-but-not-abnormal host re-runs only genuine outliers.
    val regimeScale = math.max(1.0,
      math.max(hostFactor, math.max(hostShuffleFactor, hostIoFactor)))
    // Clean-band medians shipped as a classpath resource (VERDICT r11 #1):
    // the repeat policy below needs to know what each query SHOULD cost in
    // the clean regime to tell an io episode from a genuinely expensive op.
    // Regenerated from target/bands/ whenever the band is re-recorded; a
    // query with no entry (new op before its first band) never repeats —
    // fail-safe toward measuring, not re-running.
    val bands = BenchParse.bands(resource("/graft/bench_bands.json"))
    // Startup visibility (ADVICE r12 #5): name every selected analytic row
    // with no band entry — those rows can never repeat, and a silent parse
    // regression in the resource would otherwise look identical to a
    // clean run. New ops legitimately appear here until their first band.
    if (bands.isEmpty)
      // round-13 review: the worst parse regression (resource missing or
      // regex matching nothing) must be the LOUDEST, not silently
      // indistinguishable from a clean run with the policy disabled
      System.err.println("[bench] WARNING: no band entries parsed - " +
        "repeat-on-spike policy is DISABLED for this run")
    else {
      // streams are no longer exempt (VERDICT r14 #1b) — a bandless
      // stream row can't re-run either, so name it like any other
      val bandless = (selected.keySet -- bands.keySet).toSeq.sorted
      if (bandless.nonEmpty)
        System.err.println(s"[bench] ${bandless.size} queries have no " +
          s"band entry (repeat policy inert for them): ${bandless.mkString(", ")}")
    }
    // A failed query reports -1 (excluded from the total) instead of a
    // plausible-looking elapsed time — a regression that makes queries fail
    // fast must not read as a speedup.
    //
    // Repeat-on-spike (VERDICT r11 #1b): a first run that lands far above
    // its clean-band median (>2.5x AND >+0.75 s absolute — sub-second rows
    // jitter in ratio, multi-second rows in seconds) is re-run twice and
    // the MEDIAN of the three reported — an episodic disk stall (the
    // round-11 capture had 5-23x single-row spikes on a host_io_factor
    // 1.66 regime) then costs its true steady-state price, while a real
    // code regression reproduces across all three runs and still reports
    // elevated. Clean regime: nothing trips the threshold, zero extra
    // cost. Streaming rows are INCLUDED since round 15 (VERDICT r14 #1b —
    // the r13 capture blew stream_dedup_incremental to 21 s on an io
    // episode with no recourse); each stream run stages a fresh
    // checkpoint/fixture so re-runs are independent, and the accumulated
    // per-op StreamMetrics are divided by the run count in the
    // stream_commit snapshot. A 120 s cumulative budget bounds the worst
    // case (a fully degraded host must not triple the capture).
    val repeatBudget = 120.0
    var repeatSpent = 0.0
    var rerunFailed = 0
    // rerunLog keeps RAW samples (first run + every re-run, -1 sentinel for
    // a failed re-run) so the sidecar shows exactly what was measured.
    val rerunLog = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Double])]
    val firstSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Sorted order: deterministic run sequence (the old Map order was
    // hash-layout trivia), families group together, and "after the sink
    // block" — the mid-run probe's anchor — is well-defined.
    val ordered = selected.toSeq.sortBy(_._1)
    val lastSinkIdx = ordered.lastIndexWhere(_._1.startsWith("sink_"))
    // Regime state updated by the mid-run probe (VERDICT r14 #1c): rows
    // after a measured sustained degradation adjudicate against the
    // degraded regime, not the stale pre-loop one.
    var regimeScaleCur = regimeScale
    var abnormalCur = calibAbnormal
    var calibIo2Sec = -1.0
    var hostIoFactor2 = -1.0
    val streamRuns = scala.collection.mutable.Map.empty[String, Int]
    val results = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      def once(): Double = {
        val v =
          try secs(fn(spark, sfDir).count())
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1.0
          }
        // per-run divisor for the stream_commit snapshot counts SUCCESSFUL
        // runs only (review r15): a run that dies mid-stream contributed
        // only partial batch metrics, and counting it would skew the
        // per-run averages low. (A failed partial run's few batches still
        // land in the sums — the divisor error is bounded by one partial
        // run, vs a whole phantom run the attempt-count spelling charged.)
        if (v >= 0 && name.startsWith("stream_"))
          streamRuns(name) = streamRuns.getOrElse(name, 0) + 1
        v
      }
      val t1 = once()
      firstSamples += t1
      // Threshold scaled by the measured regime (ADVICE r12 #4); re-runs
      // suppressed wholesale under a measured-abnormal regime — a
      // flat-out degraded host re-measures its own degradation, not an
      // episode.
      val spiked = t1 >= 0 && !abnormalCur &&
        bands.get(name).exists(b =>
          t1 > math.max(2.5 * b * regimeScaleCur, b * regimeScaleCur + 0.75))
      // Budget checked BEFORE each re-run against its projected cost
      // (ADVICE r12 #2): t1 is the best available estimate of one more
      // run, so the bound holds even when a single spiked op costs
      // minutes — the old spend-then-check allowed arbitrary overshoot.
      val v =
        if (spiked && repeatSpent + t1 <= repeatBudget) {
          val r1 = once()
          repeatSpent += (if (r1 >= 0) r1 else t1)
          val raw =
            if (repeatSpent + t1 <= repeatBudget) {
              val r2 = once()
              repeatSpent += (if (r2 >= 0) r2 else t1)
              Seq(r1, r2)
            } else Seq(r1)
          rerunFailed += raw.count(_ < 0)
          rerunLog += name -> (t1 +: raw)
          val extra = raw.filter(_ >= 0)
          val all = (t1 +: extra).sorted
          // median of 3; with only 2 surviving samples report the MAX
          // (ADVICE r12 #3): a failed or budget-cut re-run must not let
          // the lower sample win — anti-conservative picks are how a real
          // regression hides behind the repeat policy. 1 sample → t1.
          val med =
            if (all.size == 3) all(1)
            else if (all.size == 2) all.max
            else t1
          System.err.println(f"[bench] $name spiked ${t1}%.3f vs band " +
            f"${bands(name)}%.3f (scale ${regimeScaleCur}%.2f) -> " +
            f"adjudicated-of-${all.size} ${med}%.3f")
          med
        } else t1
      // Mid-run sustained-throughput re-probe (VERDICT r14 #1c), anchored
      // after the sink block — the io-heaviest stretch, and right before
      // the stream rows whose state commits ride the same disk path. A
      // degradation that developed after the pre-loop calibration is now
      // (a) visible in the capture (calib_io2_sec / host_io_factor2 /
      // the folded regime_scale) and (b) folded into the spike
      // thresholds for every remaining row.
      if (idx == lastSinkIdx) {
        calibIo2Sec =
          try ioProbe("mid")
          catch { case e: Throwable =>
            System.err.println(s"[bench] mid-run io probe failed: ${e.getMessage}"); -1.0
          }
        if (calibIo2Sec >= 0) {
          hostIoFactor2 = math.max(calibIo2Sec / CalibIoNominal, 1e-9)
          regimeScaleCur = math.max(regimeScaleCur, hostIoFactor2)
          abnormalCur = abnormalCur ||
            hostIoFactor2 > 2.0 || hostIoFactor2 < 1.0 / 2.0
          System.err.println(f"[bench] mid-run io probe ${calibIo2Sec}%.3f s " +
            f"(factor ${hostIoFactor2}%.2f, regime scale now ${regimeScaleCur}%.2f" +
            (if (abnormalCur && !calibAbnormal) ", ABNORMAL - re-runs off" else "") + ")")
        }
      }
      name -> v
    }
    Rows(results, firstSamples.toSeq, rerunLog.toSeq, rerunFailed,
      streamRuns.toMap, calibSec, calibShuffleSec, calibIoSec, calibIo2Sec,
      hostFactor, hostShuffleFactor, hostIoFactor, hostIoFactor2,
      calibAbnormal, abnormalCur, regimeScale, regimeScaleCur)
  }

  /** The report: the queries, queries_normalized and stream_commit lines,
    * then the total as the FINAL stdout line; then the per-query sidecar
    * (with each warmup step's seconds) and the full-detail sidecar. */
  private def report(sfDir: String, cpus: String, warmupSec: Double,
      warmupSteps: Seq[(String, Double)], r: Rows): Unit = {
    // Per-query detail on its OWN line, then a short machine-parseable
    // total as the FINAL line: the driver tail-captures stdout and a single
    // multi-KB line got its head (the metric/value prefix) truncated in
    // round 1 (BENCH_r01.json parsed:null).
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => quote(k) + ":" + f3(v) }.mkString("{", ",", "}")
    val results = r.results
    val qs = obj(results)
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    // Raw first-touch total alongside the adjudicated one (ADVICE r12 #1):
    // the repeat policy is one-sided (only slow first runs are replaced by
    // their median), so the adjudicated total can only move DOWN relative
    // to a no-policy capture. Emitting the untrimmed sum of first samples
    // keeps cross-round totals apples-to-apples — a reader compares
    // total_first_sample across rounds for code movement and reads `total`
    // as the episodic-noise-adjudicated number.
    val totalFirstSample = r.firstSamples.filter(_ >= 0).sum
    // (Raw total stays the ground truth; total_normalized divides by the
    // CPU-probe ratio only and is only honest when !calib_abnormal.)
    // Family subtotals: ~18-20% of the total is the four streaming ops'
    // SF-invariant checkpoint/state-commit floor — splitting it out lets
    // cross-round reads track the analytic band directly.
    val streamingSec =
      results.collect { case (k, v) if k.startsWith("stream_") && v >= 0 => v }.sum
    val analyticSec = total - streamingSec
    val qsNorm = obj(results.map { case (k, v) =>
      k -> (if (v >= 0) v / r.hostFactor else v)
    })
    // Twin-comparison footnote (VERDICT r8 #6), emitted with the data so a
    // reader of BENCH_rN alone cannot misread the indexed-vs-in-memory
    // rows: llm_dedup_embedding consumes the embedding frame PERSISTED
    // during the untimed warmup, while llm_dedup_embedding_indexed re-runs
    // its consume join from the stored bucketed table on every call. The
    // rows are each honest for their own architecture but are NOT a
    // like-for-like pair. Every other merged name runs its *_indexed
    // function, and the verified-pair consumers read a stored table.
    // ASCII only: println encodes with the JVM default charset, and a
    // non-UTF8 locale would turn an em-dash into '?' inside the JSON.
    val twinNote = "twin pair (llm_dedup_embedding vs llm_dedup_embedding_indexed) is " +
      "not like-for-like: the in-memory side reads a warmup-persisted frame, " +
      "the *_indexed side re-runs its stored-table join per call; " +
      "llm_decontaminate, llm_decontaminate_bloom, llm_dedup_containment, " +
      "llm_dedup_span, llm_dedup_minhash and llm_dedup_simhash run the " +
      "same function as their *_indexed names; " +
      "llm_dedup_ngram_jaccard/llm_dedup_cluster read the stored verified-pair " +
      "table (no indexed twin); see BASELINE.md r8 profile"
    // Streaming work-vs-commit split (VERDICT r9 #6): Spark's own
    // per-batch durations, summed per op by StreamMetrics. trigger_sec
    // covers only micro-batch execution — the per-query wall-clock above
    // additionally carries fixture setup (writing staged drops, reading
    // the result back), so wall − trigger ≈ fixture overhead, and
    // commit/trigger is the checkpoint-commit share of the stream itself.
    // Since streams can repeat-on-spike (round 15), each op's summed
    // metrics are divided by its run count — the emitted numbers are
    // per-run, comparable with the runs=1 captures of earlier rounds;
    // "runs" makes the division visible.
    // The 500 ms sleep lets the async listener bus drain the final
    // progress events before the snapshot.
    Thread.sleep(500)
    val streamSplit = graft.streaming.StreamMetrics.snapshot
    // Stream-phase adjudication (VERDICT r16 #1, closing r15 queue #4):
    // per-op clean-regime medians of the SAME per-run phase split emitted
    // below, recorded by tools/make_bands.py from >=2 clean captures and
    // shipped as a classpath resource. With them, a degraded capture
    // separates "io tax on WAL/state commits" from "work regression"
    // mechanically — the adjudication VERDICT r16 performed by hand
    // (stream_session_state 2.55x its wall band, but 3.9 of 6.8 s in
    // commit → io window, not regression). Rule (documented in
    // BASELINE.md round 17): a phase is ELEVATED when its per-run seconds
    // exceed max(1.5 x band, band + 0.5 s) — ratio gate for multi-second
    // phases, absolute gate for sub-second ones (same two-sided shape as
    // the repeat-on-spike threshold, tighter because phase medians are
    // already per-run and commit-noise-free). work elevated ->
    // "work_regression" (code got slower — commit io cannot explain it);
    // only wal+state elevated -> "io_tax" (the disk/fsync path, the
    // regime the io probes measure); neither -> "at_band"; no recorded
    // median -> "no_band" (new op before its first phase band —
    // fail-safe toward reporting, not guessing).
    val phaseBands = BenchParse.phases(resource("/graft/bench_stream_phases.json"))
    def phaseElevated(v: Double, band: Double): Boolean =
      v > math.max(1.5 * band, band + 0.5)
    val ssJson = streamSplit.toSeq.sortBy(_._1).map { case (k, s) =>
      val runs = math.max(1, r.streamRuns.getOrElse(k, 1))
      val workSec = s.workMs / 1000.0 / runs
      val ioSec = (s.walMs + s.stateMs) / 1000.0 / runs
      val verdictJson = phaseBands.get(k) match {
        case Some(b) if b.contains("work_sec") =>
          val bw = b("work_sec")
          val bio = b.getOrElse("wal_sec", 0.0) + b.getOrElse("state_sec", 0.0)
          val verdict =
            if (phaseElevated(workSec, bw)) "work_regression"
            else if (bio > 0 && phaseElevated(ioSec, bio)) "io_tax"
            else "at_band"
          // ratios carried alongside the verdict so a reader sees HOW far
          // off-band each phase is, not just which side tripped; -1 when
          // the band phase is zero (ratio undefined, absolute gate only)
          ",\"work_ratio\":" + f3(if (bw > 0) workSec / bw else -1.0) +
            ",\"io_ratio\":" + f3(if (bio > 0) ioSec / bio else -1.0) +
            ",\"phase_verdict\":\"" + verdict + "\""
        case _ => ",\"phase_verdict\":\"no_band\""
      }
      quote(k) + ":{\"batches\":" + (s.batches / runs) +
        ",\"runs\":" + runs +
        ",\"trigger_sec\":" + f3(s.triggerMs / 1000.0 / runs) +
        ",\"commit_sec\":" + f3(s.commitMs / 1000.0 / runs) +
        ",\"wal_sec\":" + f3(s.walMs / 1000.0 / runs) +
        ",\"state_sec\":" + f3(s.stateMs / 1000.0 / runs) +
        ",\"work_sec\":" + f3(workSec) + verdictJson + "}"
    }.mkString("{", ",", "}")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_FILE",
      "/root/repo/target/bench_detail.json")
    // Per-query seconds in a COMMITTED sidecar (round 22, VERDICT r21 #2):
    // the driver's PERF comparison was per-query-blind because the bench's
    // final stdout line carries only totals and target/ is scratch. The
    // full {name: sec} map cannot ride the final line itself — the driver
    // tail-captures only the last ~2000 chars of stdout, and a ~7 KB final
    // line is exactly the round-1 failure mode (BENCH_r01 parsed:null, its
    // head truncated) — so the map is written to a repo-root file, one per
    // core count (the driver benches at 32 AND 8 cores; a single name
    // would let the second run clobber the first), and the final line
    // names it in "per_query_file". The file is committed each round, so
    // PERF can diff per-query seconds across rounds and fill its scaling
    // block. Additions-only: every pre-existing stdout line and JSON field
    // is unchanged; "warmup" itemizes the untimed warmup_sec by step.
    val perQueryPath = sys.env.getOrElse("SPARK_GRAFT_PERQUERY_FILE",
      s"/root/repo/bench_perquery_c$cpus.json")
    val perQueryJson =
      s"""{"sf":${quote(sfDir)},"cpus":$cpus,"n_queries":${results.size},"failed":$nFailed,"queries":$qs,"first_samples":${
        obj(results.map(_._1).zip(r.firstSamples))},"warmup":${obj(warmupSteps)}}"""
    write(perQueryPath, perQueryJson, "per-query sidecar")
    // regime_scale is the FINAL folded value (pre-loop probes ∨ mid-run
    // probe) so a degradation that developed during the run is visible in
    // the one field cross-round readers already consume; the pre-loop
    // value stays available as regime_scale_start.
    val totalLine = s"""{"metric":"total","value":${f3(total)},"unit":"sec","total_first_sample":${f3(totalFirstSample)},"n_queries":${results.size},"failed":$nFailed,"reruns":${r.reruns.size},"rerun_failed":${r.rerunFailed},"regime_scale":${f3(r.regimeScale)},"regime_scale_start":${f3(r.regimeScaleStart)},"streaming_sec":${f3(streamingSec)},"analytic_sec":${f3(analyticSec)},"warmup_sec":${f3(warmupSec)},"calib_sec":${f3(r.calibSec)},"calib_shuffle_sec":${f3(r.calibShuffleSec)},"calib_io_sec":${f3(r.calibIoSec)},"calib_io2_sec":${f3(r.calibIo2Sec)},"calib_nominal":${f3(CalibNominal)},"calib_shuffle_nominal":${f3(CalibShuffleNominal)},"calib_io_nominal":${f3(CalibIoNominal)},"calib_abnormal":${r.calibAbnormal},"calib_abnormal_final":${r.abnormalFinal},"total_normalized":${f3(total / r.hostFactor)},"host_factor":${f3(r.hostFactor)},"host_shuffle_factor":${f3(r.hostShuffleFactor)},"host_io_factor":${f3(r.hostIoFactor)},"host_io_factor2":${f3(r.hostIoFactor2)},"detail_file":${quote(detailPath)},"per_query_file":${quote(perQueryPath)},"sf":${quote(sfDir)}}"""
    // stdout FIRST — it is the ground truth the driver tail-captures; a
    // bad SPARK_GRAFT_DETAIL_FILE must not cost the whole run's results
    // (review r10: the sidecar write used to run before any println and
    // an unwritable path threw away 100+ s of measurements).
    println(s"""{"metric":"queries","sf":${quote(sfDir)},"twin_note":"$twinNote","detail":$qs}""")
    println(s"""{"metric":"queries_normalized","sf":${quote(sfDir)},"host_factor":${f3(r.hostFactor)},"detail":$qsNorm}""")
    println(s"""{"metric":"stream_commit","sf":${quote(sfDir)},"detail":$ssJson}""")
    println(totalLine)
    // Full-detail sidecar (VERDICT r9 #3): the driver's stdout capture
    // keeps only the last ~2000 chars, which truncates the 157-entry
    // detail line to a third — so every run ALSO writes the complete
    // per-query detail + calibrations + stream split to a file the judge
    // can read whole. Same content as the stdout lines, never truncated.
    // Re-run transparency: every spike-triggered repeat with all its
    // samples, so a reader can see which rows were episodic and what the
    // raw first-touch numbers were (the reported detail carries medians).
    val rerunsJson = r.reruns.map { case (k, vs) =>
      quote(k) + ":[" + vs.map(f3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val detailJson =
      s"""{"sf":${quote(sfDir)},"n_queries":${results.size},"failed":$nFailed,"twin_note":"$twinNote","detail":$qs,"detail_normalized":$qsNorm,"reruns":$rerunsJson,"stream_commit":$ssJson,"total":$totalLine}"""
    write(detailPath, detailJson, "sidecar")
  }

  /** A classpath resource's text, or "" when it is missing or unreadable
    * (the parsers then return no entries, which Bench reports loudly). */
  private def resource(path: String): String =
    try {
      val is = getClass.getResourceAsStream(path)
      if (is == null) ""
      else try scala.io.Source.fromInputStream(is, "UTF-8").mkString finally is.close()
    } catch { case _: Throwable => "" }

  /** Write `text` to `path`; a failure is reported, never thrown — the
    * stdout lines already carry the run's results. */
  private def write(path: String, text: String, what: String): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get(path),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] $what write to $path failed: ${e.getMessage}")
    }
}
