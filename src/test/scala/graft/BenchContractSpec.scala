package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Scratch

/** Bench's output contract, read from a real child JVM: its readers parse
  * the LAST stdout line as the total, and readers of the earlier lines and
  * of both sidecars depend on their shape. The child runs in its own
  * working directory, because Bench wipes the scratch root under its
  * `user.dir`. */
class BenchContractSpec extends AnyFunSuite {
  /** The final line's keys; a change may add keys, never drop or rename
    * one. */
  private val totalKeys = Set("metric", "value", "unit", "total_first_sample",
    "n_queries", "failed", "reruns", "rerun_failed", "regime_scale",
    "regime_scale_start", "streaming_sec", "analytic_sec", "warmup_sec",
    "calib_sec", "calib_shuffle_sec", "calib_io_sec", "calib_io2_sec",
    "calib_nominal", "calib_shuffle_nominal", "calib_io_nominal",
    "calib_abnormal", "calib_abnormal_final", "total_normalized", "host_factor",
    "host_shuffle_factor", "host_io_factor", "host_io_factor2", "detail_file",
    "per_query_file", "sf")

  private val ops = Seq("sink_jdbc_load", "agg_median_mad_approx", "stream_hourly_window")

  test("a sink, an analytic op and a stream: four stdout lines, total last, both sidecars") {
    val work = Files.createTempDirectory("bench-contract")
    try {
      val detail = work.resolve("detail.json")
      val perQuery = work.resolve("perquery.json")
      val errLog = work.resolve("bench.err")
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala
        .filter(a => a == "--add-opens" || a.endsWith("=ALL-UNNAMED"))
      val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ jvmArgs ++
        Seq("-Xmx2g", "-cp", System.getProperty("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava).directory(work.toFile)
        .redirectError(errLog.toFile)
      val env = pb.environment()
      env.put("SPARK_GRAFT_SF_DIR", SparkFixture.sfDir)
      env.put("SPARK_GRAFT_CPUS", "2")
      env.put("SPARK_GRAFT_ONLY", ops.mkString(","))
      env.put("SPARK_GRAFT_DETAIL_FILE", detail.toString)
      env.put("SPARK_GRAFT_PERQUERY_FILE", perQuery.toString)
      val p = pb.start()
      val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString
      val rc = p.waitFor()
      def errTail = new String(Files.readAllBytes(errLog), "UTF-8").takeRight(3000)
      assert(rc == 0, s"Bench exited $rc:\n$errTail")

      val json = new ObjectMapper()
      val lines = out.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      val total = json.readTree(lines.last)
      assert(total.path("metric").asText == "total", s"last line: ${lines.last}\n$errTail")
      assert(total.path("n_queries").asInt == ops.size)
      assert(total.path("failed").asInt == 0, s"failed queries:\n$errTail")
      val keys = total.fieldNames.asScala.toSet
      assert(totalKeys.subsetOf(keys), s"final line lost keys ${totalKeys -- keys}")

      val metrics = lines.init.flatMap(l => scala.util.Try(json.readTree(l)).toOption)
        .map(_.path("metric").asText)
      assert(metrics.takeRight(3) == Seq("queries", "queries_normalized", "stream_commit"),
        s"lines before the total: $metrics")

      def parse(f: Path) = json.readTree(Files.readAllBytes(f))
      val pq = parse(perQuery)
      assert(pq.path("queries").fieldNames.asScala.toSet == ops.toSet)
      assert(parse(detail).path("total").path("metric").asText == "total")
    } finally Scratch.delete(work)
  }
}
