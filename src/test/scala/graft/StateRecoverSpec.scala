package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Stateful recovery across a process restart (VERDICT r16 queue #5):
  * forks tools/StreamRecover's three stateful modes (`crash-custom`/
  * `resume-custom`, `-native`, `-join`) as pairs of REAL child JVMs sharing
  * only checkpoint + sink directories. The first dies inside epoch 1's
  * commit window with open state in its RocksDB stores and poisons the
  * orphaned epoch-1 output; the second must reload the state version
  * belonging to the replayed batch, re-emit identical rows over the
  * poison, and finish the remaining batches. The sessionizers' final
  * tables are compared row-for-row against an UNINTERRUPTED single-JVM run
  * of the same three drops through the same plan builder
  * (StreamOps.runSessionState / runSessionWindow), the join's against the
  * batch interval join — the "restarted job lands the same bytes a
  * never-crashed run would" contract, cross-process for every stateful
  * store layout (StreamRecoverSpec covers the stateless foreachBatch
  * sink mode). */
class StateRecoverSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private def forkStateRecover(args: Seq[String]): String = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filter(a => a == "--add-opens" || a.endsWith("=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
      "-Xmx4g", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.StreamRecover") ++ args
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val rc = p.waitFor()
    assert(rc == 0,
      s"StreamRecover ${args.head} exited $rc:\n${out.takeRight(3000)}")
    out
  }

  test("session state recovers exactly in a fresh JVM after a mid-epoch crash") {
    val base = graft.util.Scratch.dir("state_recover")
    val outFile = s"$base/resume_result.csv"

    val cOut = forkStateRecover(Seq("crash-custom", sfDir, base))
    assert(cOut.contains("crashed mid-epoch-1") &&
      cOut.contains("marker1=absent") && cOut.contains("orphan=present") &&
      cOut.contains("state-files=present"),
      cOut.takeRight(500))
    assert(new java.io.File(s"$base/ckpt/offsets").isDirectory,
      "no offset WAL written by the crashed process")
    assert(new java.io.File(s"$base/ckpt/state").isDirectory,
      "no state-store tree written by the crashed process")
    assert(new java.io.File(s"$base/manifest/batch-0").isFile)
    assert(!new java.io.File(s"$base/manifest/batch-1").exists())
    assert(new java.io.File(s"$base/out/batch_id=1").isDirectory)

    val rOut = forkStateRecover(Seq("resume-custom", sfDir, base, outFile))
    assert(rOut.contains("resumed from checkpoint"), rOut.takeRight(500))
    assert(new java.io.File(s"$base/manifest/batch-1").isFile,
      "resume did not commit epoch 1")

    val got = scala.io.Source.fromFile(outFile, "UTF-8").mkString.trim
      .split("\n").toSeq

    // the uninterrupted twin: same three drops, same sessionizer, one JVM,
    // memory sink — computed HERE so the oracle never touches the crashed
    // run's directories
    import org.apache.spark.sql.functions._
    val twinBase = graft.util.Scratch.dir("state_recover_twin")
    val expected = graft.streaming.StreamOps.runSessionState(
        spark, graft.tools.StreamRecover.drops(spark, sfDir), twinBase)
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")
      .collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}," +
        s"${r.getLong(3)},${r.getDouble(4)}")
      .toSeq

    assert(got.nonEmpty, "resume produced zero sessions")
    assert(got == expected,
      s"cross-process stateful resume diverges from the uninterrupted twin: " +
        s"got ${got.length} sessions, expected ${expected.length}; " +
        s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("native session_window state recovers exactly in a fresh JVM after a mid-epoch crash") {
    // same protocol, the ENGINE's merging-session store instead of the
    // flatMapGroupsWithState user state — a different state layout with
    // its own recovery path (session merge metadata, not an opaque blob)
    val base = graft.util.Scratch.dir("state_recover_native")
    val outFile = s"$base/resume_result.csv"

    val cOut = forkStateRecover(Seq("crash-native", sfDir, base))
    assert(cOut.contains("crashed mid-epoch-1 (mode=native)") &&
      cOut.contains("marker1=absent") && cOut.contains("orphan=present") &&
      cOut.contains("state-files=present"),
      cOut.takeRight(500))
    assert(!new java.io.File(s"$base/manifest/batch-1").exists())

    val rOut = forkStateRecover(Seq("resume-native", sfDir, base, outFile))
    assert(rOut.contains("resumed from checkpoint"), rOut.takeRight(500))

    val got = scala.io.Source.fromFile(outFile, "UTF-8").mkString.trim
      .split("\n").toSeq

    import org.apache.spark.sql.functions._
    val twinBase = graft.util.Scratch.dir("state_recover_native_twin")
    val expected = graft.streaming.StreamOps.runSessionWindow(
        spark, graft.tools.StreamRecover.drops(spark, sfDir), twinBase)
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")
      .collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}," +
        s"${r.getLong(3)},${r.getDouble(4)}")
      .toSeq

    assert(got.nonEmpty, "native resume produced zero sessions")
    assert(got == expected,
      s"cross-process native session_window resume diverges from the twin: " +
        s"got ${got.length} sessions, expected ${expected.length}; " +
        s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("stream-stream join state recovers exactly in a fresh JVM after a mid-epoch crash") {
    // the symmetric-join store: buffered-but-unmatched rows from earlier
    // batches must survive the process boundary so cross-batch matches
    // still land after the restart
    val base = graft.util.Scratch.dir("state_recover_join")
    val outFile = s"$base/resume_result.csv"

    val cOut = forkStateRecover(Seq("crash-join", sfDir, base))
    assert(cOut.contains("crashed mid-epoch-1 (mode=join)") &&
      cOut.contains("marker1=absent") && cOut.contains("orphan=present") &&
      cOut.contains("state-files=present"),
      cOut.takeRight(500))
    assert(!new java.io.File(s"$base/manifest/batch-1").exists())

    val rOut = forkStateRecover(Seq("resume-join", sfDir, base, outFile))
    assert(rOut.contains("resumed from checkpoint"), rOut.takeRight(500))

    val got = scala.io.Source.fromFile(outFile, "UTF-8").mkString.trim
      .split("\n").toSeq

    // batch oracle: the interval join computed directly — the streamed
    // union over all batches must equal it exactly (no drop is late, so
    // watermark eviction never removes a still-matchable row)
    import org.apache.spark.sql.functions._
    val ev = graft.tables.Tables(spark, sfDir, "events")
    def side(tpe: String, uid: String, eid: String, ts: String) =
      ev.filter(col("event_type") === tpe)
        .select(col("user_id").as(uid), col("event_id").as(eid),
          col("ts").as(ts))
    val expected = side("view", "v_user", "view_id", "view_ts")
      .join(side("purchase", "p_user", "purchase_id", "purchase_ts"),
        expr("v_user = p_user AND purchase_ts >= view_ts " +
          "AND purchase_ts <= view_ts + interval 1 hour"))
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"))
      .orderBy("user_id", "view_id", "purchase_id")
      .collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}")
      .toSeq

    assert(got.nonEmpty, "join resume produced zero matched pairs")
    assert(got == expected,
      s"cross-process join-state resume diverges from the batch oracle: " +
        s"got ${got.length} pairs, expected ${expected.length}; " +
        s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
  }
}
