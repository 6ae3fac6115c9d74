package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decomposition probe for the indexed containment's ×128 residual
  * (round 19, VERDICT r18 #2: 18× for 16× data with rep spread 80-135 s
  * — the one consumer above linear; the suspect is the exact-verification
  * join carrying per-doc gram SETS, whose payload grows with candidate
  * count × doc length). Separates, over the stored gram table at one
  * replica scale (matched to the r18 curve config via the usual env
  * knobs — run once per scale/bucket pair):
  *
  *   - `op_sec`: the registered operator, warm median of 3 fresh frames;
  *   - `cand_sec`: the one-scan candidate stage alone (+ pair count);
  *   - `sets_sec`: candidate-restricted per-doc set assembly alone
  *     (collect_set over the semi-joined grams — the array-state
  *     ObjectHashAggregate the suspicion points at);
  *   - `pairjoin_sec`: a FULL alternative verification that never builds
  *     arrays — the DuckDB oracle's own shape: candidate pairs join the
  *     (restricted) gram rows of side A, then an equi-join on (doc_b, g)
  *     counts shared grams per pair; per-doc totals come from a count
  *     aggregate (no collect_set anywhere). Intermediate volume is
  *     Σ_pairs n_grams(doc_a) — linear in candidates × doc length, all
  *     codegen'd HashAggregate/SMJ, no array payloads crossing exchanges;
  *   - payload stats: candidate pairs, candidate docs, Σ grams over
  *     candidate docs (the set path's shuffle payload), corpus gram rows.
  *
  * The pairjoin variant is equality-gated against the registered op
  * before any number prints. Run:
  *   SPARK_GRAFT_INDEX_BUCKETS=256 SPARK_GRAFT_CONTAIN_PROBE_SCALE=128 \
  *   sbt -batch "runMain graft.tools.ContainScaleProbe [sfDir]". */
object ContainScaleProbe {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = graft.util.EnvKnobs
      .positiveInt("SPARK_GRAFT_SHUFFLE_PARTITIONS", 64)
    val scale = graft.util.EnvKnobs
      .positiveInt("SPARK_GRAFT_CONTAIN_PROBE_SCALE", 128)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("contain-scale-probe")
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
    def med3(f: => Unit): Double =
      Seq(time(f), time(f), time(f)).sorted.apply(1)

    val dir = graft.util.Replicas.docsDir(spark, base, scale, "containprobe")
    import graft.llm.DedupOps
    val tBuild = time(DedupOps.gramTable(spark, dir))
    DedupOps.releaseBuilderPersists()

    def grams = spark.table(DedupOps.gramTable(spark, dir)).select("doc_id", "g")
    def cand = DedupOps.rarePairs(DedupOps.rareGroups(grams, "g")).distinct()
    def candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    def pg = grams.join(candDocs, Seq("doc_id"), "left_semi")

    // payload stats (single pass each — structural, not timed claims)
    val nPairs = cand.count()
    val nCandDocs = candDocs.count()
    val payload = pg.count()
    val gramRows = grams.count()

    val candSec = med3(cand.count())
    val setsSec = med3(
      pg.groupBy("doc_id")
        .agg(collect_set(col("g")).as("gs"), count(lit(1)).as("n")).count())
    val opSec = med3(DedupOps.llmDedupContainmentIndexed(spark, dir).count())

    // array-free verification: the oracle's pair-gram-join shape
    def pairJoinFull = {
      val n = pg.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val shared = cand
        .join(pg.select(col("doc_id").as("doc_a"), col("g")), Seq("doc_a"))
        .join(pg.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      shared
        .join(n.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
        .join(n.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
        .filter(greatest(col("n_shared") / col("n_a"),
          col("n_shared") / col("n_b")) >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"),
          col("n_b"),
          round(col("n_shared").cast("double") / col("n_a"), 4).as("cont_a"),
          round(col("n_shared").cast("double") / col("n_b"), 4).as("cont_b"))
        .orderBy("doc_a", "doc_b")
    }
    pairJoinFull.count() // JIT warm
    val pairJoinSec = med3(pairJoinFull.count())

    // equality gate: the variant must be a pure plan change
    val a = DedupOps.llmDedupContainmentIndexed(spark, dir)
      .collect().map(_.toString).sorted
    val b = pairJoinFull.collect().map(_.toString).sorted
    require(a.sameElements(b),
      s"pairjoin variant diverges: op=${a.length} rows, variant=${b.length}; " +
        s"first diff=${a.zip(b).find(p => p._1 != p._2)}")

    println(s"""{"metric":"contain_scale_probe","scale":$scale,""" +
      s""""buckets":${DedupOps.indexBuckets},""" +
      s""""build_sec":${f2(tBuild)},"gram_rows":$gramRows,""" +
      s""""cand_pairs":$nPairs,"cand_docs":$nCandDocs,"cand_payload":$payload,""" +
      s""""cand_sec":${f2(candSec)},"sets_sec":${f2(setsSec)},""" +
      s""""op_sec":${f2(opSec)},"pairjoin_sec":${f2(pairJoinSec)},""" +
      s""""rows":${a.length},"equal":true}""")
    spark.stop()
  }
}
