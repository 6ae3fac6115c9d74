package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Streaming checkpoint recovery across a process restart (VERDICT r15
  * queue #1): forks tools/StreamRecover's sink mode (plain `crash` and
  * `resume`) as two REAL child JVMs sharing only a checkpoint + sink
  * directory. The first dies inside epoch 1's commit window (data
  * written, marker absent) and poisons the orphaned output; the second
  * must replay epoch 1 from the offset WAL, overwrite the poison, and land
  * the sink exactly-once — checked against the batch aggregate computed
  * directly over the parquet in THIS process. The in-JVM
  * `stream_exactly_once_sink` op cannot cross this boundary; this spec is
  * its Lambda-retry completion (reference README.md:74-76).
  * StateRecoverSpec drives the same tool's three stateful modes. */
class StreamRecoverSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private def forkStreamRecover(args: Seq[String]): String = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    // inherit this test JVM's --add-opens flags — Spark 4 on JDK 17 dies
    // without them when launched outside spark-submit
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

  test("checkpoint resumes exactly-once in a fresh JVM after a mid-epoch crash") {
    val base = graft.util.Scratch.dir("stream_recover")
    val outFile = s"$base/resume_result.csv"

    val cOut = forkStreamRecover(Seq("crash", sfDir, base))
    assert(cOut.contains("crashed mid-epoch-1") &&
      cOut.contains("marker1=absent") && cOut.contains("orphan=present"),
      cOut.takeRight(500))
    // the artifacts that ARE the recovery contract: offset WAL on disk,
    // epoch-0 marker committed, epoch-1 marker absent over orphaned data
    assert(new java.io.File(s"$base/ckpt/offsets").isDirectory,
      "no offset WAL written by the crashed process")
    assert(new java.io.File(s"$base/manifest/batch-0").isFile)
    assert(!new java.io.File(s"$base/manifest/batch-1").exists())
    assert(new java.io.File(s"$base/out/batch_id=1").isDirectory)

    val rOut = forkStreamRecover(Seq("resume", sfDir, base, outFile))
    assert(rOut.contains("resumed from checkpoint"), rOut.takeRight(500))
    assert(new java.io.File(s"$base/manifest/batch-1").isFile,
      "resume did not commit epoch 1")

    val got = scala.io.Source.fromFile(outFile, "UTF-8").mkString.trim
      .split("\n").toSeq
    // batch oracle: the same feed aggregated directly — any duplicate,
    // lost, or poison-surviving row shifts a count or a sum
    import org.apache.spark.sql.functions._
    val expected = graft.tables.Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("o_orderstatus")
      .collect()
      .map(r => s"${r.getString(0)},${r.getLong(1)},${r.getDouble(2)}")
      .toSeq
    assert(got == expected,
      s"cross-process resume diverges from the batch oracle:\n got=$got\n exp=$expected")
  }
}
