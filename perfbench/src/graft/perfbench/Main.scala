package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.tables.Tables

/** The measured engine for one benchmark run: set up, run a workload's
  * closed loop for a fixed time, and write the raw records (units, set-up
  * phases, spans, Spark jobs) as JSON for `run.py` to reduce. Every call
  * into the program goes through its public functions and is timed here.
  *
  * Arguments are `--key value` pairs written by `run.py`:
  * workload, seconds, trace (0|1), clients, cpus, base (input sf dir),
  * deltas (comma list, etl_cycle), ops (comma list, the seeded call order),
  * scratch (program scratch root), work, checks, out. */
object Main {
  final case class UnitRec(i: Int, name: String, loop: String, t0: Double,
      t1: Double, ok: Boolean, err: String, bytes: Long)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    redirectScratch(a("scratch"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = a("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", graft.util.Scratch.resetKeep("spark_local"))
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a("work")}/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Run(spark, a, jvmStartMs).run()
    finally spark.stop()
  }

  /** The program pins its scratch root to an absolute path outside the
    * benchmark's checkout. Point it at the run's own scratch directory
    * before anything reads it, so a run reads and writes only inside its
    * checkout and two checkouts never share staged state. */
  private def redirectScratch(root: String): Unit = {
    val f = Class.forName("graft.util.Scratch$").getDeclaredField("root")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), root)
    require(graft.util.Scratch.rootDir == root, "scratch root redirect failed")
  }

  /** Module that owns each registered operator: the layer its calls count
    * toward. */
  lazy val layerOf: Map[String, String] = {
    import graft.{analytics => an, etl, llm, streaming}
    def tag(m: Map[String, _], layer: String) = m.keys.map(_ -> layer)
    (tag(etl.Ingest.queries ++ etl.Transforms.queries ++ etl.Upsert.queries ++
        etl.Bucketing.queries, "etl") ++
      tag(an.Queries.queries ++ an.Temporal.queries ++ an.Advanced.queries, "analytics") ++
      tag(streaming.StreamOps.queries, "streaming") ++
      tag(llm.TextOps.queries ++ llm.DedupOps.queries ++ llm.SimilarityOps.queries ++
        llm.MultimodalOps.queries ++ llm.SampleOps.queries, "llm")).toMap
  }
}

private final class Run(spark: SparkSession, a: Map[String, String], jvmStartMs: Long) {
  import Main.{UnitRec, layerOf}

  private val workload = a("workload")
  private val base = a("base")
  private val ops = a("ops").split(",").filter(_.nonEmpty).toSeq
  private val deltas = a.getOrElse("deltas", "").split(",").filter(_.nonEmpty).toSeq
  private val scratch = a("scratch")
  private val checks = a("checks")
  private val traced = a("trace") == "1"
  private val spans = new Spans(spark.sparkContext, jvmStartMs)
  private val recorder = new Recorder(jvmStartMs)
  private val setupPhases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val units = ArrayBuffer.empty[UnitRec]
  private val streamSplits = ArrayBuffer.empty[(String, graft.streaming.StreamMetrics.Split)]
  // etl_cycle: the current state dir and the last delta merged into it.
  // The traced loop continues from where the timed loop stopped.
  private var state = ""
  private var landed = 0

  def run(): Unit = {
    setupPhases("session_s") = spans.now()
    val detachSetup = if (traced) Some(Recorder.attach(spark, recorder)) else None
    phase("tables_s") { Tables.registerAll(spark, base) }
    workload match {
      case "llm_corpus" => phase("indexes_s") {
        // the subset of llm.Warmup.indexes that this workload's operators
        // read; the full set costs more set-up than a run can afford
        import graft.llm.DedupOps._
        embTable(spark, base)
        gramTable(spark, base)
        gramSets(spark, base).count()
      }
      case "stream_stateful" =>
        phase("fixtures_s") { graft.streaming.StreamOps.stageFixtures(spark, base) }
      case "bi_dashboard" => phase("stats_s") {
        graft.llm.Warmup.starStats(spark, base)
        graft.analytics.Advanced.segmentMedians(spark, base)
      }
      case _ =>
    }
    Files.createDirectories(Paths.get(checks))
    state = phase("warm_pass_s") { warmPass() }
    writeOracleSql()
    setupPhases("resident_mb") = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    detachSetup.foreach(_())
    val firstUnit = spans.now()
    val cpuS = if (!traced) timedCpu("timed") else {
      spans.phase = "traced"
      val before = graft.streaming.StreamMetrics.snapshot
      val detach = Recorder.attach(spark, recorder)
      timedLoop("traced")
      detach()
      val after = graft.streaming.StreamMetrics.snapshot
      after.foreach { case (k, s) =>
        val b = before.getOrElse(k, graft.streaming.StreamMetrics.Split(0, 0, 0, 0))
        streamSplits += k -> graft.streaming.StreamMetrics.Split(s.batches - b.batches,
          s.triggerMs - b.triggerMs, s.walMs - b.walMs, s.stateMs - b.stateMs)
      }
      // the untraced twin of the traced loop, run after it so that JIT
      // warm-up cannot make tracing look cheaper than it is
      timedCpu("untraced")
    }
    write(firstUnit, cpuS)
  }

  /** Run one timed loop; returns the process CPU seconds it took. */
  private def timedCpu(loop: String): Double = {
    spans.phase = loop
    val cpu0 = cpuTime()
    timedLoop(loop)
    (cpuTime() - cpu0) / 1e9
  }

  private def phase[A](key: String)(body: => A): A = {
    val t0 = spans.now()
    try spans("setup", key.stripSuffix("_s"))(body)
    finally setupPhases(key) = spans.now() - t0
  }

  /** The program's result for one call, forced by writing it to the noop
    * sink: every projected expression and the final sort run, nothing is
    * collected to the driver. */
  private def call(dir: String, op: String): Unit = spans(layerOf(op), op) {
    SparkEntry.queries(op)(spark, dir).write.format("noop").mode("overwrite").save()
  }

  /** One untimed call whose result is kept for the output check: the
    * weak-oracle ops dump their verification frame, as the oracle expects. */
  private def dump(dir: String, op: String): Unit = spans(layerOf(op), op) {
    val fn = SparkEntry.verifyQueries.getOrElse(op, SparkEntry.queries(op))
    fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$checks/$op")
  }

  /** Warm every distinct call once and keep its result for checking, then
    * run one plain pass the way the timed loop runs it: the first pass after
    * a cold start is still JIT-compiling and reads 10-20% slower than the
    * ones after it. For etl_cycle these are cycles 0 and 1; returns the
    * state dir the timed cycles start from. */
  private def warmPass(): String =
    if (workload == "etl_cycle") {
      val dir = cycle(base, 0, "w", dump)
      Files.writeString(Paths.get(checks, "_dir"), dir)
      landed = 1
      cycle(dir, 1, "w", call)
    } else {
      ops.distinct.foreach(dump(base, _))
      Files.writeString(Paths.get(checks, "_dir"), base)
      ops.foreach(call(base, _))
      base
    }

  /** The oracle SQL of every op this run checks, for run.py's DuckDB compare. */
  private def writeOracleSql(): Unit = {
    val j = new Json
    j.obj { ops.distinct.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _))
      .foreach { case (op, sql) => j.field(op, sql) } }
    Files.writeString(Paths.get(checks, "_oracle_sql.json"), j.result)
  }

  /** One hourly cycle: read delta `i` and the previous state through
    * Tables, merge with Upsert.upsert, write the new state into a fresh
    * sf-shaped dir (static tables and landed events hard-linked), then run
    * the reference-path operators on it. */
  private def cycle(prev: String, i: Int, tag: String,
      run: (String, String) => Unit): String = {
    val dir = s"$scratch/cycles/$tag${"%03d".format(i)}"
    val delta = deltas(i)
    Files.createDirectories(Paths.get(dir, "events.parquet"))
    Tables.names.filterNot(Set("orders", "events")).foreach { t =>
      Files.createLink(Paths.get(dir, s"$t.parquet"), Paths.get(base, s"$t.parquet"))
    }
    (Seq(s"$base/events.parquet") ++ deltas.take(i + 1).map(d => s"$d/events.parquet"))
      .zipWithIndex.foreach { case (src, k) =>
        Files.createLink(Paths.get(dir, "events.parquet", f"part-$k%03d.parquet"), Paths.get(src))
      }
    val (cur, stg) = spans("tables", "load_state_and_delta") {
      (Tables(spark, prev, "orders"), Tables(spark, delta, "orders"))
    }
    val merged = spans("etl", "upsert") { graft.etl.Upsert.upsert(cur, stg, "o_orderkey") }
    spans("etl", "write_state") { merged.write.parquet(s"$dir/orders.parquet") }
    ops.foreach(run(dir, _))
    dir
  }

  private def timedLoop(loop: String): Unit = {
    val seconds = a("seconds").toDouble
    val clients = a("clients").toInt
    val deadline = spans.now() + seconds
    val bytes = new WrittenBytes(new File(scratch))
    def unit(i: Int): String =
      if (workload == "etl_cycle") {
        val k = landed + 1
        require(k < deltas.size, s"ran out of delta windows at cycle $k")
        spans("unit", "cycle") { state = cycle(state, k, "c", call) }
        landed = k
        s"cycle$k"
      } else {
        val op = ops(i % ops.size)
        call(base, op)
        op
      }
    // Claim units until the deadline, then finish the pass in progress, so
    // every run measures whole passes over the same set of calls.
    val pass = if (workload == "etl_cycle") 1 else ops.size
    var claimed = 0
    def claim(): Option[Int] = synchronized {
      if (spans.now() >= deadline && claimed % pass == 0) None
      else { claimed += 1; Some(claimed - 1) }
    }
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = claim()
        while (i.isDefined) {
          val t0 = spans.now()
          val (name, ok, err) =
            try { val n = unit(i.get); (n, true, "") }
            catch { case e: Throwable =>
              (if (workload == "etl_cycle") s"cycle${landed + 1}" else ops(i.get % ops.size),
                false, String.valueOf(e.getMessage).take(300))
            }
          val t1 = spans.now()
          val b = bytes.sinceLast()
          units.synchronized { units += UnitRec(i.get, name, loop, t0, t1, ok, err, b) }
          i = claim()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  private def cpuTime(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1)

  private def write(firstUnit: Double, cpuS: Double): Unit = {
    val j = new Json
    j.obj {
      j.field("workload", workload)
      j.field("first_unit_s", firstUnit)
      j.field("cpu_s", cpuS)
      j.field("peak_rss_mb", vmHwmMb())
      j.field("final_state", state)
      j.field("landed", landed)
      j.field("spark_version", spark.version)
      j.field("java_version", System.getProperty("java.version"))
      j.field("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
      j.key("setup"); j.obj { setupPhases.foreach { case (k, v) => j.field(k, v) } }
      j.key("units"); j.arr(units.sortBy(u => (u.loop, u.i)).toSeq) { u =>
        j.obj {
          j.field("i", u.i); j.field("name", u.name); j.field("loop", u.loop)
          j.field("t0", u.t0); j.field("t1", u.t1); j.field("ok", u.ok)
          j.field("err", u.err); j.field("bytes", u.bytes)
        }
      }
      j.key("spans"); j.arr(spans.all) { s =>
        j.obj {
          j.field("id", s.id); j.field("parent", s.parent); j.field("name", s.name)
          j.field("layer", s.layer); j.field("phase", s.phase)
          j.field("t0", s.t0); j.field("t1", s.t1); j.field("ok", s.ok)
        }
      }
      import scala.jdk.CollectionConverters._
      j.key("jobs"); j.arr(recorder.jobs.values.asScala.toSeq.sortBy(_.id)) { r =>
        j.obj {
          j.field("id", r.id); j.field("span", r.span); j.field("group", r.group)
          j.field("t0", r.t0); j.field("t1", r.t1)
          j.key("stages"); j.arr(r.stages)(s => j.num(s))
        }
      }
      j.key("stages"); j.arr(recorder.stages.values.asScala.toSeq.sortBy(_.id)) { s =>
        s.synchronized {
          val sorted = s.taskS.sorted
          j.obj {
            j.field("id", s.id); j.field("tasks", s.tasks); j.field("run_s", s.runS)
            j.field("cpu_s", s.cpuS); j.field("gc_s", s.gcS); j.field("read_b", s.readB)
            j.field("written_b", s.writtenB); j.field("shuffle_b", s.shuffleB)
            j.field("spill_b", s.spillB)
            j.field("max_task_s", if (sorted.isEmpty) 0.0 else sorted.last)
            j.field("median_task_s", if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2))
          }
        }
      }
      j.key("execs"); j.arr(recorder.execs.asScala.toSeq) { e =>
        j.obj {
          j.field("exec", e.execId); j.field("plan_s", e.planS)
          j.field("scan_rows", e.scanRows); j.field("result_rows", e.resultRows)
          j.field("files", e.files)
        }
      }
      j.key("exec_spans"); j.obj {
        recorder.execSpans.forEach((e, s) => j.field(e.toString, s.longValue))
      }
      j.key("stream"); j.obj {
        streamSplits.foreach { case (k, s) =>
          j.key(k); j.obj {
            j.field("batches", s.batches); j.field("wal_s", s.walMs / 1e3)
            j.field("state_commit_s", s.stateMs / 1e3); j.field("work_s", s.workMs / 1e3)
          }
        }
      }
    }
    Files.writeString(Paths.get(a("out")), j.result)
  }
}

/** Bytes of files that appeared or changed under the scratch root since the
  * previous call, outside the engine's shuffle/spill dir. Files the program
  * replaces are counted again when rewritten. */
private final class WrittenBytes(root: File) {
  private val seen = scala.collection.mutable.HashMap.empty[String, Long]
  private val startMs = System.currentTimeMillis()

  def sinceLast(): Long = synchronized {
    var total = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) {
        if (f.getName != "spark_local") Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      } else {
        val m = f.lastModified()
        val key = f.getPath
        if (m >= startMs && !seen.get(key).contains(m)) {
          seen(key) = m
          total += f.length()
        }
      }
    walk(root)
    total
  }
}

/** Minimal JSON writer for the run record. */
private final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb ++= ","; first = false }
  def key(k: String): Unit = { sep(); str(k); sb ++= ":"; first = true }
  def obj(body: => Unit): Unit = { sep(); sb ++= "{"; first = true; body; sb ++= "}"; first = false }
  def arr[A](xs: Iterable[A])(f: A => Unit): Unit = {
    sep(); sb ++= "["; first = true; xs.foreach(f); sb ++= "]"; first = false
  }
  def num(v: Double): Unit = { sep(); sb ++= (if (v.isNaN || v.isInfinite) "null" else v.toString) }
  def str(s: String): Unit = {
    sb ++= "\""
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb ++= "\""
  }
  def field(k: String, v: Any): Unit = {
    key(k)
    first = true
    v match {
      case s: String => sep(); str(s)
      case b: Boolean => sep(); sb ++= b.toString
      case n: Int => sep(); sb ++= n.toString
      case n: Long => sep(); sb ++= n.toString
      case d: Double => num(d)
    }
  }
  def result: String = sb.toString
}
