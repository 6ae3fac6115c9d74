package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Scratch

/** SPARK_GRAFT_SECTIONS parsing (a typo must fail, not run nothing) and
  * ScaleCheck's output, read from a real child JVM. */
class ScaleCheckSpec extends AnyFunSuite {
  test("unknown section names fail fast; unset selects every section") {
    val e = intercept[IllegalArgumentException](
      ScaleCheck.parseSections(Some("dedup,contaiment")))
    assert(e.getMessage.contains("contaiment"))
    assert(e.getMessage.contains(ScaleCheck.Sections.mkString(",")))
    assert(ScaleCheck.parseSections(None) == ScaleCheck.Sections)
    assert(ScaleCheck.Sections.distinct.size == 13)
    assert(ScaleCheck.parseSections(Some(" sink,dedup ")) == Seq("sink", "dedup"))
  }

  /** Lines of a run at sf0.001 on 2 cores with the per-section scale
    * knobs set to 1,2 (window's scales were fixed at 1,2,4,8 then; its
    * first two lines are kept). Readers key on each line's metric name
    * and key order; every value that is not a `*_sec` timing is a count
    * the run must reproduce byte for byte. */
  private val recorded = Seq(
    """{"metric":"scale_check_containment","scale":1,"docs":500,"rare_grams":29179,"cand_pairs":21306,"cand_per_doc":42.61,"kept_pairs":30,"kept_per_doc":0.06,"pairs":28,"containment_sec":2.18}""",
    """{"metric":"scale_check_containment","scale":2,"docs":1000,"rare_grams":58358,"cand_pairs":42612,"cand_per_doc":42.61,"kept_pairs":60,"kept_per_doc":0.06,"pairs":56,"containment_sec":2.46}""",
    """{"metric":"scale_check_span","scale":1,"docs":500,"fps_per_doc":31.59,"keep_frac":0.11,"cand_pairs":2060,"cand_per_doc":4.12,"pairs":76,"span_sec":0.23}""",
    """{"metric":"scale_check_span","scale":2,"docs":1000,"fps_per_doc":32.17,"keep_frac":0.12,"cand_pairs":4175,"cand_per_doc":4.18,"pairs":160,"span_sec":0.83}""",
    """{"metric":"scale_check_window","scale":1,"sessionize_sec":0.67,"zscore_sec":0.22,"asof_sec":0.22,"interval_overlap_sec":1.51,"gaps_islands_sec":0.63,"mode_frequent_sec":0.43,"percent_rank_sec":0.18,"decile_sec":0.48,"snapshot_diff_sec":0.75}""",
    """{"metric":"scale_check_window","scale":2,"sessionize_sec":0.70,"zscore_sec":0.15,"asof_sec":0.46,"interval_overlap_sec":1.34,"gaps_islands_sec":0.72,"mode_frequent_sec":0.65,"percent_rank_sec":0.26,"decile_sec":0.50,"snapshot_diff_sec":0.73}""",
    """{"metric":"scale_check_cluster","scale":1,"cluster_sec":2.06,"rounds":2,"max_cluster":4,"log2_bound":4,"rounds_ok":true}""",
    """{"metric":"scale_check_cluster","scale":2,"cluster_sec":1.99,"rounds":2,"max_cluster":4,"log2_bound":4,"rounds_ok":true}""",
    """{"metric":"scale_check_width","scale":1,"docs":500,"minhash_pairs":49,"minhash_per_doc":0.10,"simhash_cands":4908,"simhash_per_doc":9.82,"simhash_nb_cands":5435,"simhash_nb_per_doc":10.87,"vecs":500,"rp_bits":6,"rp_pairs":2095,"rp_per_vec":4.19}""",
    """{"metric":"scale_check_width","scale":2,"docs":1000,"minhash_pairs":462,"minhash_per_doc":0.46,"simhash_cands":8824,"simhash_per_doc":8.82,"simhash_nb_cands":9703,"simhash_nb_per_doc":9.70,"vecs":1000,"rp_bits":7,"rp_pairs":4531,"rp_per_vec":4.53}""")

  test("SCALES=1,2 over five sections: one line per section and scale, recorded keys and counts") {
    // its own working dir: ScaleCheck writes replicas under `user.dir`
    val work = Files.createTempDirectory("scalecheck-contract")
    try {
      val errLog = work.resolve("scalecheck.err")
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala
        .filter(a => a == "--add-opens" || a.endsWith("=ALL-UNNAMED"))
      val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ jvmArgs ++
        Seq("-Xmx2g", "-cp", System.getProperty("java.class.path"), "graft.ScaleCheck")
      val pb = new ProcessBuilder(cmd.asJava).directory(work.toFile)
        .redirectError(errLog.toFile)
      val env = pb.environment()
      env.put("SPARK_GRAFT_SF_DIR", SparkFixture.sfDir)
      env.put("SPARK_GRAFT_CPUS", "2")
      env.put("SPARK_GRAFT_SECTIONS", "containment,span,width,window,cluster")
      env.put("SPARK_GRAFT_SCALES", "1,2")
      val p = pb.start()
      val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString
      val rc = p.waitFor()
      def errTail = new String(Files.readAllBytes(errLog), "UTF-8").takeRight(3000)
      assert(rc == 0, s"ScaleCheck exited $rc:\n$errTail")

      // a timing's value varies run to run; its key and place do not
      def shape(line: String) = line.replaceAll("(\"[a-z_]+_sec\"):[0-9.]+", "$1:t")
      val got = out.split("\n").map(_.trim).filter(_.nonEmpty).map(shape).toSeq
      assert(got == recorded.map(shape), s"stdout:\n$out")
    } finally Scratch.delete(work)
  }
}
