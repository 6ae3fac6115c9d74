package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partitioning-invariance: on a real cluster the number of input splits
  * and shuffle partitions changes with cluster size, file layout, and AQE
  * decisions — any operator whose OUTPUT depends on them is broken at
  * scale even if every local run looks right. The hash-keyed decisions
  * (sampling, splits, shard assignment, CDC compaction) must produce the
  * IDENTICAL row set under a different physical partitioning; rank-based
  * ops additionally pin their tie-breaks. */
class DeterminismSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private def rowsHash(df: DataFrame): (Long, Any) = {
    // decimal sum: ANSI mode makes a plain long sum of hashes a job-killing
    // overflow error
    val h = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).collect()(0)
    (h.getLong(0), h.get(1))
  }

  private val ops: Seq[(String, QFn)] = Seq(
    "llm_train_test_split" -> graft.llm.SampleOps.llmTrainTestSplit,
    "llm_sample_exact_k" -> graft.llm.SampleOps.llmSampleExactK,
    // A-ES weighted reservoir: the rounded −ln(u)/w ranking key and the
    // TakeOrderedAndProject top-k must survive any physical layout
    "llm_sample_weighted_k" -> graft.llm.SampleOps.llmSampleWeightedK,
    "llm_sample_stratified" -> graft.llm.SampleOps.llmSampleStratified,
    "llm_shuffle_shards" -> graft.llm.TextOps.llmShuffleShards,
    "upsert_cdc_apply" -> graft.etl.Upsert.upsertCdcApply,
    // integer micro-nat quantization BEFORE the sum is what makes the
    // per-doc NLL independent of float summation order — this is the test
    // of that claim
    "llm_unigram_logprob" -> graft.llm.TextOps.llmUnigramLogprob,
    "llm_perplexity_score" -> graft.llm.TextOps.llmPerplexityScore,
    "llm_domain_mixture" -> graft.llm.SampleOps.llmDomainMixture,
    "upsert_snapshot_diff" -> graft.etl.Upsert.upsertSnapshotDiff,
    // numbering must survive ANY range-boundary placement: the broadcast
    // offsets correct whatever layout the sampled range exchange picks
    "fn_global_row_number" -> graft.etl.Transforms.fnGlobalRowNumber,
    // round 11: CMS counters add commutatively, so estimates must not
    // move when partial sketches merge in a different grouping; the
    // tercile cuts are exact percentiles (sort-defined), so bucket
    // membership must survive any physical layout too
    "agg_heavy_hitters_cms" -> graft.analytics.Advanced.aggHeavyHittersCms,
    "llm_perplexity_buckets" -> graft.llm.TextOps.llmPerplexityBuckets,
    // round 11: bitmap OR and the integer-quantized Lloyd loop are both
    // built to be layout-proof — bitmap pages merge commutatively, and
    // kmeans accumulates centroids/inertia through vector_sumq micro-units
    "agg_bitmap_distinct" -> graft.analytics.Advanced.aggBitmapDistinct,
    "llm_cluster_kmeans" -> graft.llm.SimilarityOps.llmClusterKmeans,
  )

  test("hash-keyed sampling/split/CDC outputs are invariant to input partitioning") {
    val before = ops.map { case (n, f) => n -> rowsHash(f(spark, sfDir)) }.toMap
    // force a different physical layout: many tiny input splits + a
    // different shuffle fan-out (7 instead of the fixture's 4)
    val confs = Map(
      "spark.sql.files.maxPartitionBytes" -> "16384",
      "spark.sql.shuffle.partitions" -> "7")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // drop the persisted unigram model so it REBUILDS under the new
      // layout — otherwise the cached frame would bypass the test
      graft.llm.TextOps.clearCaches()
      ops.foreach { case (n, f) =>
        assert(rowsHash(f(spark, sfDir)) == before(n),
          s"$n changed output under a different partitioning")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sort-on-write sinks write the same bytes every run, part file by part file") {
    // the layout sinks range-partition and sort within each partition;
    // a sort key with ties would leave tied rows in shuffle-arrival
    // order. At this tier the range exchange samples every row, so its
    // boundaries repeat too.
    // (part index, bytes) of each part file, in part-index order
    def parts(dir: String): Seq[(String, Seq[Byte])] = {
      val ls = Files.list(Paths.get(dir))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSeq.sorted
        .map(f => f.take(10) -> Files.readAllBytes(Paths.get(dir, f)).toSeq)
      finally ls.close()
    }
    val tag = graft.util.Scratch.pathTag(sfDir)
    Seq("sorted_runs" -> graft.etl.Bucketing.sinkSortedRuns,
      "zorder" -> graft.etl.Bucketing.sinkZorderCluster).foreach { case (name, op) =>
      // keep(), not dir(): dir() would wipe the operator's output
      def run(): Seq[(String, Seq[Byte])] = {
        op(spark, sfDir)
        parts(graft.util.Scratch.keep(s"${name}_$tag"))
      }
      val first = run()
      val second = run()
      assert(first.nonEmpty && first.map(_._1) == second.map(_._1), s"$name part files")
      first.zip(second).foreach { case ((part, a), (_, b)) =>
        assert(a == b, s"$name $part differs between two runs")
      }
    }
  }

  test("unigram micro-nat quantization is stable under a 1-ulp ln divergence") {
    // ADVICE r6 #1 / VERDICT r7 task 2: Spark quantizes with JVM Math.log,
    // the DuckDB oracle with libm ln — the two may legally differ by 1 ulp.
    // The half-offset grid floor(ln·1e6 + 0.5) claims no true corpus value
    // sits close enough to a boundary for that ulp to flip the integer.
    // Verify the claim directly: for EVERY distinct (total, cnt) ratio in
    // the actual model, quantize ln, nextUp(ln), and nextDown(ln) — all
    // three must land on the same micro-nat. (nextUp/nextDown move a full
    // ulp, i.e. at least as far as any correctly-rounded libm can stray.)
    val model = graft.llm.TextOps.unigramModel(spark, sfDir)
    val total = model.agg(sum(col("cnt"))).collect()(0).getLong(0)
    val counts = model.select(col("cnt")).distinct()
      .collect().map(_.getLong(0))
    assert(counts.nonEmpty)
    def q(l: Double): Long = math.floor(l * 1e6 + 0.5).toLong
    val flips = counts.flatMap { cnt =>
      val l = math.log(total.toDouble / cnt)
      val (base, up, dn) = (q(l), q(Math.nextUp(l)), q(Math.nextDown(l)))
      if (base == up && base == dn) None
      else Some((cnt, l, base, up, dn))
    }
    assert(flips.isEmpty,
      s"grid boundary within 1 ulp of a true ln value: ${flips.take(5).toSeq}")
  }

  test("entropy micro-nat quantization is stable under a 1-ulp ln divergence") {
    // Same walk as the unigram test but for llm_token_entropy's ln
    // arguments: every corpus-real within-doc token count c and every
    // per-doc total n. These are plain integers (not ratios), so the
    // no-boundary claim is even stronger — ln of an integer >= 2 is
    // irrational, and c = 1 / n = 1 give ln = 0 exactly on both engines.
    val pt = graft.tables.Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val args = pt.select(col("c")).distinct().collect().map(_.getLong(0)) ++
      pt.groupBy("doc_id").agg(sum(col("c")).as("n"))
        .select(col("n")).distinct().collect().map(_.getLong(0))
    assert(args.nonEmpty)
    def q(l: Double): Long = math.floor(l * 1e6 + 0.5).toLong
    val flips = args.distinct.flatMap { v =>
      val l = math.log(v.toDouble)
      val (base, up, dn) = (q(l), q(Math.nextUp(l)), q(Math.nextDown(l)))
      if (base == up && base == dn) None else Some((v, l, base, up, dn))
    }
    assert(flips.isEmpty,
      s"grid boundary within 1 ulp of a true ln value: ${flips.take(5).toSeq}")
  }

  test("bigram interpolated micro-nat quantization is stable under 1-ulp ln divergence") {
    // Same claim as the unigram case, for llm_perplexity_score's
    // Jelinek-Mercer term: every interpolated probability the ACTUAL
    // corpus model produces must quantize identically for ln, nextUp(ln)
    // and nextDown(ln). The P values are doubles computed with the same
    // op order as both engines, so ln(P) is the only divergence source.
    val uni = graft.llm.TextOps.unigramModel(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = uni.values.sum.toDouble
    val triples = graft.llm.TextOps.bigramModel(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(triples.length > 500, "bigram model unexpectedly small")
    def q(l: Double): Long = math.floor(l * 1e6 + 0.5).toLong
    val flips = triples.flatMap { case (prev, cur, cntBi) =>
      val p = 0.7 * (cntBi.toDouble / uni(prev)) + 0.3 * (uni(cur) / total)
      val l = -math.log(p)
      val (base, up, dn) = (q(l), q(Math.nextUp(l)), q(Math.nextDown(l)))
      if (base == up && base == dn) None else Some((prev, cur, l))
    }
    assert(flips.isEmpty,
      s"grid boundary within 1 ulp of an interpolated ln: ${flips.take(5).toSeq}")
  }

  test("histogram binning survives adversarial bounds (VERDICT r11 #3)") {
    // Walks the shared histogramFromBounds tail (both twins ride it)
    // through the bounds a real corpus will eventually produce:
    //   (a) degenerate hi == lo — the greatest(…, 1e-12) floor must land
    //       every row in bin 0 at bin_lo = lo, not ride NaN/Inf ordering;
    //   (b) values EXACTLY on bin edges with a width whose /20 is not a
    //       representable double — floor() must stay in [0, 19] and the
    //       per-bin counts must be invariant to input partitioning (the
    //       arithmetic is per-row IEEE, so any partitioning dependence
    //       here means a nondeterministic expression crept into the tail);
    //   (c) the max row clamps into bin 19 (least(…, 19)), never bin 20.
    // Cross-engine bit-identity on REAL corpora is the driver oracle's
    // job (green at all three tiers); this pin covers the corners no
    // corpus tier happens to exercise.
    import spark.implicits._
    def hist(vals: Seq[Double], parts: Int): Seq[(Int, Double, Long)] = {
      val o = spark.createDataset(vals).repartition(parts)
        .toDF("o_totalprice")
      val bounds = o.agg(min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      graft.analytics.Queries.histogramFromBounds(o, bounds)
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSeq
    }
    // (a) degenerate: all rows identical
    val degen = hist(Seq.fill(37)(123.456), 5)
    assert(degen == Seq((0, 123.456, 37L)),
      s"degenerate bounds must collapse to bin 0 at bin_lo = lo: $degen")
    // (b)+(c): edges of a non-representable width (0.7/20 is inexact) plus
    // values straddling each edge by 1 ulp
    val lo = 0.1; val hi = 0.8
    val edges = (0 to 20).map(k => lo + k * (hi - lo) / 20.0)
    val adversarial = edges ++ edges.map(Math.nextUp) ++
      edges.map(Math.nextDown) ++ Seq(lo, hi)
    val inRange = adversarial.filter(v => v >= lo && v <= hi)
    val h1 = hist(inRange, 3)
    val h13 = hist(inRange, 13)
    assert(h1 == h13, s"binning moved under repartitioning:\n$h1\n$h13")
    assert(h1.map(_._1).forall(b => b >= 0 && b <= 19), s"bin out of range: $h1")
    assert(h1.map(_._3).sum == inRange.length,
      s"rows lost/duplicated across bins: $h1")
    assert(h1.exists { case (b, _, n) => b == 19 && n >= 1 },
      s"max row must clamp into bin 19: $h1")
    // bin_lo must be the bit-exact lo + bin*(hi-lo)/20 replay
    h1.foreach { case (b, blo, _) =>
      assert(blo == lo + b * (hi - lo) / 20.0,
        s"bin_lo drifted from the closed form at bin $b: $blo")
    }
  }
}
