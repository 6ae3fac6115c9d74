package graft
import java.nio.file.{Files, Paths}
import graft.util.Driver.quote
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.util.Driver.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated subset for local iteration (driver sets
    // nothing → full dump, same as Bench's SPARK_GRAFT_ONLY)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected =
      only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(q => s(q._1)))
    selected.foreach { case (name, fn) =>
      // Stale-output guard (round-13 review): a query that THROWS must
      // not leave the previous run's dump behind — the DuckDB compare
      // would silently pass against stale-but-once-correct data, hiding
      // the failure entirely (this bit: an analysis error in one op was
      // masked by its previous dump for a full verify cycle). Delete
      // first, so a failure leaves a missing dir the compare reports.
      def rm(f: java.io.File): Unit = if (f.exists()) {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(s"$outDir/$name"))
      // Weak-oracle rows dump their VERIFICATION frame (estimate joined
      // to exact twin → exact cols + bound booleans), not the raw sketch
      // output — see SparkEntry.verifyQueries.
      val dumpFn = SparkEntry.verifyQueries.getOrElse(name, fn)
      try dumpFn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of every query that SHOULD have a dump (round-13 review):
    // the compare walks existing directories, so without this a query
    // whose dump is missing (failed + stale-guard-deleted) would shrink
    // the pass count silently instead of failing loudly. Written from the
    // FILTERED map (ADVICE r13 — the full key set here false-FAILed every
    // SPARK_GRAFT_ONLY subset run as "no dump written").
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(quote).mkString("[", ",", "]"))
    // Estimate-vs-exact deltas for the weak-oracle sketch rows (VERDICT
    // r14 queue #9) — machine-readable evidence next to the dumps. Only
    // for rows that RAN in this invocation (review r15: a subset run must
    // not publish fresh-looking deltas for rows whose dumps it did not
    // refresh); best-effort (a delta failure must not zero the round's
    // correctness dump). Stale-output guard like the parquet dumps: the
    // previous run's file is deleted up front, so a skipped or failed
    // delta pass leaves a missing file, never round-N evidence under a
    // round-N+1 timestamp.
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$outDir/approx_deltas.json"))
    val deltaOps = selected.keySet.intersect(SparkEntry.verifyQueries.keySet)
    if (deltaOps.nonEmpty)
      try {
        val deltas = SparkEntry.approxDeltas(spark, sfDir, deltaOps)
        // non-finite doubles are not JSON — emit null rather than NaN
        def jnum(v: Double): String =
          if (java.lang.Double.isFinite(v)) v.toString else "null"
        val body = deltas.map { case (op, group, metric, est, exact) =>
          val rel =
            if (exact == 0.0) (if (est == 0.0) 0.0 else Double.NaN)
            else math.abs(est - exact) / math.abs(exact)
          s"""{"op": ${quote(op)}, "group": ${quote(group)}, "metric": ${quote(metric)},""" +
            s""" "estimate": ${jnum(est)}, "exact": ${jnum(exact)},""" +
            s""" "rel_delta": ${jnum(rel)}}"""
        }.mkString("[", ",\n ", "]")
        Files.writeString(Paths.get(s"$outDir/approx_deltas.json"), body)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] approx_deltas failed: ${e.getMessage}")
      }
    spark.stop()
  }
}
