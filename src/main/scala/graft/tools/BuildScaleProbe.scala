package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Decomposition probe for the index BUILD-side scaling (round 19,
  * VERDICT r18 #1: gram table build 11.9 → 109.7 s and sim build
  * 9.5 → 90.1 s for ×32 → ×128 — ~9× for 4× data — measured by a
  * planscale sequence that built all four tables back-to-back with every
  * earlier builder's executor-memory persist still resident). The probe
  * separates the candidate mechanisms the verdict names:
  *
  *   - `gram_scan_sec`: one pass over the raw gram plan (explode +
  *     ngram_hashes, no persist, no write) — the linear floor;
  *   - `*_direct_sec`: the bucketed table write fed by the RAW plan with
  *     an empty heap — the round-19 build path (repartition + bucketBy
  *     sort + parquet encode);
  *   - `gram_persist_sec` / `gram_frompersist_sec`: materialize the
  *     MEMORY_AND_DISK persist first, then write the table from it — the
  *     pre-round-19 build path (persist populate + read-back);
  *   - `sig_withgram_sec` / `sim_withgram_sec`: the sig/sim direct writes
  *     repeated WITH the gram persist co-resident — the planscale
  *     neighbor effect, isolated (same plans, co-tenant heap);
  *   - `*_alt_sec`: the direct write at an alternate bucket count at the
  *     SAME data volume — bucket-count write amplification alone.
  *
  * Writes are probe-local tables mirroring the builders' exact specs
  * (repartition(N, keys) + bucketBy(N, keys).sortBy(keys)) so bucket
  * count can vary within one JVM (the shipped builders read their bucket
  * env once per JVM). Scales via SPARK_GRAFT_BUILD_PROBE_SCALES (default
  * 32,128), matching per-scale bucket counts via
  * SPARK_GRAFT_BUILD_PROBE_BUCKETS (default 64,256 — the r18 curve's
  * buckets ∝ scale rule), alternate counts via
  * SPARK_GRAFT_BUILD_PROBE_BUCKETS_ALT (default 16,64).
  * Run: sbt -batch "runMain graft.tools.BuildScaleProbe [sfDir]". */
object BuildScaleProbe {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = graft.util.EnvKnobs
      .positiveInt("SPARK_GRAFT_SHUFFLE_PARTITIONS", 64)
    val scales = graft.util.EnvKnobs
      .positiveIntList("SPARK_GRAFT_BUILD_PROBE_SCALES", Seq(32, 128))
    val buckets = graft.util.EnvKnobs
      .positiveIntList("SPARK_GRAFT_BUILD_PROBE_BUCKETS", Seq(64, 256))
    val bucketsAlt = graft.util.EnvKnobs
      .positiveIntList("SPARK_GRAFT_BUILD_PROBE_BUCKETS_ALT", Seq(16, 64))
    require(buckets.size == scales.size && bucketsAlt.size == scales.size,
      "bucket lists must match the scale list 1:1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("build-scale-probe")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensure(spark)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)

    /** Bucketed write mirroring the shipped builders' spec. */
    def writeTbl(df: DataFrame, tbl: String, n: Int, keys: Seq[String]): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val dir = graft.util.Scratch.dir(s"bsp_$tbl")
      df.repartition(n, keys.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").format("parquet")
        .bucketBy(n, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
        .option("path", s"$dir/$tbl").saveAsTable(tbl)
    }

    /** The shipped simTable projection (DedupOps.simTable): lb band
      * column + posexplode into nChunks (chunk, cval) rows per doc —
      * ADVICE r19: the probe's original sim row wrote simFoldPlan
      * bucketed on doc_id (1 row/doc), a structurally SMALLER write than
      * the builder whose curve this probe decomposes; sim rows now pay
      * the builder's real row multiplication and its (chunk, cval)
      * cluster keys. Geometry derives from the replica corpus count,
      * exactly as the builder's simChunkGeom call does. */
    def simProj(fold: DataFrame, nDocs: Long): DataFrame = {
      import org.apache.spark.sql.functions.{col, expr, posexplode, length, bin}
      val (nChunks, w) = graft.llm.DedupOps.simChunkGeom(nDocs)
      val perHalf = nChunks / 2
      val mask = (1L << w) - 1
      fold
        .withColumn("lb", length(bin(col("n_tok").cast("long"))))
        .select(col("doc_id"), col("simhash"), col("simhash2"), col("lb"),
          posexplode(expr(
            s"transform(sequence(0, ${nChunks - 1}), " +
              s"c -> shiftright(IF(c < $perHalf, simhash, simhash2), $w * (c % $perHalf)) & $mask)"))
            .as(Seq("chunk", "cval")))
    }

    scales.zip(buckets).zip(bucketsAlt).foreach { case ((scale, nb), nbAlt) =>
      val dir = graft.util.Replicas.docsDir(spark, base, scale, "buildprobe")
      import graft.llm.DedupOps
      // The replica corpus was JUST written (GBs of dirty pages at ×128)
      // — flush and settle before timing anything, or the first big
      // write measures the corpus flush's io contention on top of its
      // own cost (first-run suspicion from the initial r19 capture:
      // gram_direct 109 s cold-after-replicate vs 21.6 s for the same
      // shuffle volume from the persist minutes later).
      graft.util.Settle.drain() // sync + poll Dirty/Writeback down (round 20)

      // empty-heap measurements first; gram_direct repeated 3× (fresh
      // table each time) so write-order/io-window effects are visible
      val gramScan = time(DedupOps.gramPlan(spark, dir).count())
      val gramDirectReps = (1 to 3).map { i =>
        val t = time(writeTbl(DedupOps.gramPlan(spark, dir),
          s"bsp_gram_x$scale", nb, Seq("g")))
        spark.sql(s"DROP TABLE IF EXISTS bsp_gram_x$scale")
        graft.util.Scratch.wipeWhere(_ == s"bsp_bsp_gram_x$scale")
        t
      }
      val gramDirect = gramDirectReps.sorted.apply(1)
      val gramAlt = time(writeTbl(DedupOps.gramPlan(spark, dir),
        s"bsp_gram_alt_x$scale", nbAlt, Seq("g")))
      val sigDirect = time(writeTbl(DedupOps.banded(DedupOps.sigPlan(spark, dir)),
        s"bsp_sig_x$scale", nb, Seq("band", "bhash")))
      // sim direct: bitsums barrier persisted, written, released — the
      // round-19 build path, bitsums cost reported separately; the write
      // is the shipped posexplode/(chunk,cval) spec at the shipped SIM
      // bucket count (fixed layout — cval is width-masked, so buckets do
      // NOT scale with the corpus for this family)
      val nDocs = DedupOps.docCount(spark, dir)
      val nbSim = DedupOps.indexBuckets
      var bs = DedupOps.bitsumsPlan(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val simBitsums = time(bs.count())
      val simWrite = time(writeTbl(simProj(DedupOps.simFoldPlan(bs), nDocs),
        s"bsp_sim_x$scale", nbSim, Seq("chunk", "cval")))
      bs.unpersist(blocking = true)

      // pre-round-19 gram path: persist populate, then write from it
      val gramPersistFrame = DedupOps.gramPlan(spark, dir)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val gramPersist = time(gramPersistFrame.count())
      val gramFromPersist = time(writeTbl(gramPersistFrame,
        s"bsp_gram_fp_x$scale", nb, Seq("g")))

      // neighbor effect: the SAME sig/sim direct builds with the gram
      // persist co-resident (planscale's pre-r19 sequence)
      val sigWithGram = time(writeTbl(DedupOps.banded(DedupOps.sigPlan(spark, dir)),
        s"bsp_sig_ng_x$scale", nb, Seq("band", "bhash")))
      bs = DedupOps.bitsumsPlan(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val simWithGram = time(bs.count()) + time(writeTbl(
        simProj(DedupOps.simFoldPlan(bs), nDocs),
        s"bsp_sim_ng_x$scale", nbSim, Seq("chunk", "cval")))
      bs.unpersist(blocking = true)
      gramPersistFrame.unpersist(blocking = true)

      println(s"""{"metric":"build_scale_probe","scale":$scale,"buckets":$nb,""" +
        s""""gram_scan_sec":${f2(gramScan)},"gram_direct_sec":${f2(gramDirect)},""" +
        s""""gram_direct_reps":[${gramDirectReps.map(f2).mkString(",")}],""" +
        s""""gram_alt_buckets":$nbAlt,"gram_alt_sec":${f2(gramAlt)},""" +
        s""""gram_persist_sec":${f2(gramPersist)},"gram_frompersist_sec":${f2(gramFromPersist)},""" +
        s""""sig_direct_sec":${f2(sigDirect)},"sig_withgram_sec":${f2(sigWithGram)},""" +
        s""""sim_buckets":$nbSim,"sim_bitsums_sec":${f2(simBitsums)},""" +
        s""""sim_write_sec":${f2(simWrite)},"sim_withgram_sec":${f2(simWithGram)}}""")

      // drop probe tables + free disk between scales
      Seq("", "_alt", "_fp").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS bsp_gram${sfx}_x$scale"))
      Seq("", "_ng").foreach { sfx =>
        spark.sql(s"DROP TABLE IF EXISTS bsp_sig${sfx}_x$scale")
        spark.sql(s"DROP TABLE IF EXISTS bsp_sim${sfx}_x$scale")
      }
      graft.util.Scratch.wipeWhere(n => n.startsWith("bsp_"))
      DedupOps.clearCaches()
    }
    spark.stop()
  }
}
