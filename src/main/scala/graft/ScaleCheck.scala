package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Advanced, Temporal}
import graft.llm.{DedupOps, SampleOps, SimilarityOps, TextOps}
import graft.util.Driver.secs
import graft.util.Replicas

/** Empirical no-n² evidence for the dedup pipeline: replicate the sf0.1
  * corpora ×1..×64 and (a) time index build + each operator at every scale,
  * (b) COUNT candidate-pair work per item under the derived index widths.
  * If candidate generation were pairwise, ×4 data would cost ×16 — the
  * tables this prints (recorded in BASELINE.md) show whether growth stays
  * ~linear. Every corpus is a [[graft.util.Replicas]] replica: new content
  * per replica, so the near-dup pair structure grows linearly with scale,
  * as in a real corpus growing by new content.
  *
  * Knobs: SPARK_GRAFT_SECTIONS (comma list of [[Sections]]; default all),
  * SPARK_GRAFT_SCALES (comma list of replica scales; replaces the scale
  * list of every selected section, each of which has its own default),
  * SPARK_GRAFT_SHUFFLE_PARTITIONS and SPARK_GRAFT_PLANSCALE_REPS.
  */
object ScaleCheck {
  /** Every section name [[main]] knows. */
  private[graft] val Sections: Seq[String] = Seq("dedup", "sim", "text",
    "window", "width", "cluster", "recall", "containment", "span", "kmeans",
    "pipeline64", "planscale", "sink")

  /** The selected sections: unset means all. An unknown token fails here,
    * naming it and the known names, so a typo cannot run nothing and exit
    * 0 (same convention as EnvKnobs). */
  private[graft] def parseSections(raw: Option[String]): Seq[String] =
    raw.fold(Sections) { r =>
      val toks = r.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = toks.filterNot(Sections.contains)
      require(toks.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_SECTIONS must be a comma list of ${Sections.mkString(",")}, " +
          s"got '$r' (unknown: ${unknown.mkString(",")})")
      toks.distinct
    }

  /** Id strides of the shifted fact tables: row ids (events, orders,
    * lineitem) and entity keys (users, customers). */
  private val RowIdStride = 10000000L
  private val EntityStride = 1000000L

  /** A JSON object whose fields print in the given order. */
  private final case class Obj(fields: (String, Any)*)

  /** A number printed with `places` decimals; a bare Double prints with 2. */
  private final case class Dec(v: Double, places: Int)

  private def json(v: Any): String = v match {
    case Obj(fs @ _*) => fs.map { case (k, x) => s""""$k":${json(x)}""" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case Dec(x, places) => s"%.${places}f".formatLocal(java.util.Locale.ROOT, x)
    case x: Double => json(Dec(x, 2))
    case s: String => graft.util.Driver.quote(s)
    case x => x.toString
  }

  /** Prints one result line, `{"metric":metric, fields...}`. */
  private def emit(metric: String, fields: (String, Any)*): Unit =
    println(json(Obj(("metric" -> metric) +: fields: _*)))

  /** Drops every operator memo. Memo keys include the corpus dir, so
    * this only releases the previous scale's persisted indexes. */
  private def clearAll(): Unit = {
    DedupOps.clearCaches()
    SimilarityOps.clearCaches()
    TextOps.clearCaches()
  }

  /** `body`'s value and the wall-clock seconds it took. */
  private def timed[A](body: => A): (A, Double) = {
    var out: Option[A] = None
    val t = secs { out = Some(body) }
    (out.get, t)
  }

  /** One timing curve: run every op once on `base` (untimed — otherwise
    * scale 1 absorbs the one-time JIT/codegen cost and growth between
    * scales is not attributable to data size) and clear; then per scale
    * build its dir, time the optional index step, time each op's count(),
    * print one line and clear. fn(...) sits INSIDE the timed block:
    * cluster's convergence loop executes eagerly when the query is
    * constructed, not at count(). */
  private def curve(spark: SparkSession, base: String, metric: String,
      scales: Seq[Int], dirFor: Int => String, ops: Seq[(String, QFn)],
      index: Option[String => Unit] = None): Unit = {
    ops.foreach { case (_, fn) => fn(spark, base).count() }
    clearAll()
    scales.foreach { scale =>
      val dir = dirFor(scale)
      val indexSec = index.map(build => "index_sec" -> secs(build(dir)))
      val opSecs = ops.map { case (name, fn) => s"${name}_sec" -> secs(fn(spark, dir).count()) }
      emit(metric, (Seq("scale" -> scale) ++ indexSec ++ opSecs): _*)
      clearAll()
    }
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sections = parseSections(sys.env.get("SPARK_GRAFT_SECTIONS")).toSet
    // Parsed once, before any corpus builds, so a 0 or a trailing comma
    // fails at startup (shared parser: EnvKnobs). Set, it replaces every
    // section's scale list: a new octave reruns as e.g.
    // SPARK_GRAFT_SECTIONS=width SPARK_GRAFT_SCALES=64,128.
    val scalesKnob = graft.util.EnvKnobs.positiveIntList("SPARK_GRAFT_SCALES", Nil)
    def scalesOr(default: Int*): Seq[Int] = if (scalesKnob.nonEmpty) scalesKnob else default
    // Shuffle parallelism decoupled from the thread count (round 13): at
    // the ×64 pipeline tier the verification join shuffles ~100 GB of
    // shingle arrays — 32 partitions means ~3 GB each, past the in-memory
    // sort budget, and the stage spills. On a real cluster shuffle
    // partitions follow data volume (or AQE's advisory size splits them);
    // the override lets a big-tier run express exactly that without
    // changing the plan.
    val shufflePartitions = graft.util.EnvKnobs
      .positiveInt("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toInt).toString
    val spark = graft.util.Driver.session(cpus,
      "spark.sql.shuffle.partitions" -> shufflePartitions)

    def docsDir(scale: Int, tag: String): String = Replicas.docsDir(spark, base, scale, tag)
    def embDir(scale: Int, tag: String): String = Replicas.embDir(spark, base, scale, tag)
    def docCount(dir: String): Long = spark.read.parquet(s"$dir/documents.parquet").count()

    if (sections("dedup"))
      curve(spark, base, "scale_check", scalesOr(1, 2, 4, 8), docsDir(_, "dedup"), Seq(
        "minhash" -> DedupOps.llmDedupMinhashIndexed,
        "ngram_jaccard" -> DedupOps.llmDedupNgramJaccard,
        "cluster" -> DedupOps.llmDedupCluster,
        "decontaminate" -> DedupOps.llmDecontaminateIndexed,
        // round 6: the composite funnel — costs its quality scan plus
        // semi/anti joins because the verified-pair index is already built
        // by ngram_jaccard above (the reuse IS the claim under test)
        "pipeline" -> DedupOps.llmPipelineCleanCorpus),
        index = Some(DedupOps.sigTable(spark, _)))

    if (sections("pipeline64")) {
      // ---- round 13 (VERDICT r11 #9): the END-TO-END corpus funnel one
      // octave past where its member families were proven individually
      // (dedup section runs the same op at ×1-8). The claim under test:
      // the composite stays linear when the shared-index funnel runs at
      // ×64 (320k docs) — each stage is semi/anti joins on doc_id plus
      // the verified-pair index build, so pipeline_sec should track
      // index_sec, and the per-stage survivor counts expose a broken
      // blocking bound as a survivor anomaly (e.g. neardup dropping a
      // superlinear share), not just a time bump.
      DedupOps.llmPipelineCleanCorpus(spark, base).count() // JIT, untimed
      clearAll()
      scalesOr(8, 64).foreach { scale =>
        val dir = docsDir(scale, "pipeline")
        val nDocs = docCount(dir)
        // the one expensive shared index the funnel rides (stage 3
        // consumes the exact-verified near-dup pair set): the signature
        // tables and the verified-pair table
        val tIndex = secs(DedupOps.verifiedPairTable(spark, dir))
        val (stages, t) = timed(DedupOps.llmPipelineCleanCorpus(spark, dir)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))))
        // attribution counters, AFTER the timed blocks (these re-run only
        // the stored banding join / read the stored pair table): candidate
        // and verified pair counts
        // decompose any index_sec growth into "more pairs" (banding
        // collisions — a design problem) vs "same pairs, slower"
        // (constant-factor/memory pressure — a capacity problem)
        val nCand = DedupOps.sigCandidates(spark, dir).count()
        val nVerified = DedupOps.llmDedupNgramJaccard(spark, dir).count()
        emit("scale_check_pipeline", "scale" -> scale, "docs" -> nDocs,
          "index_sec" -> tIndex, "pipeline_sec" -> t, "cand_pairs" -> nCand,
          "verified_pairs" -> nVerified,
          "stages" -> Obj(stages.sortBy(_._1).map { case (_, n, c) => n -> c }.toSeq: _*))
        clearAll()
      }
    }

    if (sections("containment")) {
      // ---- containment path (round 11): the rare-gram blocking bound.
      // The claim: candidate pairs per doc stays FLAT as the corpus grows,
      // because only grams with df in [2,5] emit pairs (each contributes
      // <= C(5,2) = 10) — rare-gram count grows linearly with the corpus,
      // so candidates are O(n), never the posting-self-join n². The counts
      // run DedupOps' own candidate generator; ngram_hashes returns
      // distinct grams per doc, so a group's size is its doc frequency.
      DedupOps.llmDedupContainmentIndexed(spark, base).count()
      clearAll()
      scalesOr(1, 2, 4, 8).foreach { scale =>
        val dir = docsDir(scale, "containment")
        val nDocs = docCount(dir)
        // the timed call writes the stored gram, rare-gram and gram-set
        // tables it reads, so containment_sec includes those writes; the
        // counts after it read those tables
        val (nPairs, t) = timed(DedupOps.llmDedupContainmentIndexed(spark, dir).count())
        val groups = DedupOps.rareGramGroups(spark, dir)
        val nRare = groups.count()
        val cand = DedupOps.containmentCandidates(groups)
        val nCand = cand.count()
        // the candidates that survive the shared-gram bound
        val nKept = DedupOps.containmentKept(cand, DedupOps.gramSets(spark, dir)).count()
        emit("scale_check_containment", "scale" -> scale, "docs" -> nDocs,
          "rare_grams" -> nRare, "cand_pairs" -> nCand, "cand_per_doc" -> nCand.toDouble / nDocs,
          "kept_pairs" -> nKept, "kept_per_doc" -> nKept.toDouble / nDocs,
          "pairs" -> nPairs, "containment_sec" -> t)
        clearAll()
      }
    }

    if (sections("span")) {
      // ---- span-dedup path (round 11): winnowing's two scale claims.
      // (1) SELECTIVITY: the winnow index keeps ~2/(w+1) of gram
      //     positions (≈12% at w=16) — measured as fps/doc vs grams/doc.
      // (2) BLOCKING: like containment, only fps with df in [2,5] emit
      //     pairs, so candidates/doc stays flat as replicas multiply
      //     (winnow_fps returns distinct fps per doc).
      DedupOps.llmDedupSpanIndexed(spark, base).count() // warm
      clearAll()
      scalesOr(1, 2, 4, 8).foreach { scale =>
        val dir = docsDir(scale, "span")
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val nDocs = docs.count()
        // the timed call writes the stored winnow and rare-fp tables it
        // reads, so span_sec includes both writes; the counts after it read
        // those tables
        val (nPairs, t) = timed(DedupOps.llmDedupSpanIndexed(spark, dir).count())
        val fps = spark.table(DedupOps.spanTable(spark, dir)).select("doc_id", "fp")
        val nFps = fps.count()
        val nGrams = docs
          .select(explode(expr("ngram_hashes(lower(trim(text)), 8)"))).count()
        val nCand = DedupOps.rarePairs(spark.table(DedupOps.spanRareTable(spark, dir)))
          .distinct().count()
        emit("scale_check_span", "scale" -> scale, "docs" -> nDocs,
          "fps_per_doc" -> nFps.toDouble / nDocs, "keep_frac" -> nFps.toDouble / nGrams,
          "cand_pairs" -> nCand, "cand_per_doc" -> nCand.toDouble / nDocs,
          "pairs" -> nPairs, "span_sec" -> t)
        clearAll()
      }
    }

    // ---- similarity path: the same no-n² evidence for the embedding
    // ops. The knn-join query set (label=0, vec_id<200) lives only in the
    // base replica, so its cost curve isolates per-query corpus-scan
    // growth.
    if (sections("sim"))
      curve(spark, base, "scale_check_sim", scalesOr(1, 2, 4, 8), embDir(_, "emb"), Seq(
        "dedup_embedding" -> DedupOps.llmDedupEmbedding,
        "similarity_ann" -> SimilarityOps.llmSimilarityAnn,
        // ivf pays its k-means fit per corpus (bounded sample, but
        // nlist derives ~sqrt(32n): 512 cells at x1 → 2048 at x8) — the
        // one op whose index build must grow with the derived geometry
        "similarity_ivf" -> SimilarityOps.llmSimilarityIvf,
        "knn_join" -> SimilarityOps.llmSimilarityKnnJoin,
        // round 7: the bucket-probed ANN form — its curve vs knn_join is
        // the candidate-cut evidence (the probe set is fixed per query
        // while the exact join's candidate set grows with the corpus)
        "knn_join_ann" -> SimilarityOps.llmSimilarityKnnJoinAnn,
        // round 7: SemDeDup — within-bucket pairwise at occupancy ~8
        // must track the index-build curve (linear), not pairwise n²;
        // its timing includes the embTable materialization for this dir
        "semdedup" -> DedupOps.llmDedupSemantic),
        index = Some(dir => DedupOps.embIndex(spark, dir).count()))

    // ---- text path (round 5): chunking, TF-IDF, bigram counts, packing,
    // shard shuffle. All are scan→explode→agg/window shapes with no
    // candidate generation, so the exposure is different: the explode
    // multiplies rows and a missing map-side combine or a global sort
    // would show up here as super-linear growth.
    if (sections("text"))
      curve(spark, base, "scale_check_text", scalesOr(1, 2, 4, 8), docsDir(_, "text"), Seq(
        "chunk" -> TextOps.llmChunkDocuments,
        "tfidf" -> TextOps.llmTfidfTopterms,
        "bigram" -> TextOps.llmBigramCounts,
        "pack" -> TextOps.llmPackSequences,
        "shuffle" -> TextOps.llmShuffleShards,
        // the unigram LM pays one model build per corpus (persisted index,
        // cleared between scales so each scale pays its own build) and the
        // mixture is a metadata join — both should track corpus size
        "unigram" -> TextOps.llmUnigramLogprob,
        "mixture" -> SampleOps.llmDomainMixture,
        // the bigram LM pays a second model build (distinct pairs ≫
        // distinct tokens, still map-side-combined) + one pair-keyed
        // scoring join — a constant factor over unigram, not a new order
        "perplexity" -> TextOps.llmPerplexityScore))

    // ---- analytics/window path (round 5): sessionize, z-score, as-of,
    // percent_rank, decile assignment. Replica r shifts event/order AND
    // user/customer ids, so partition COUNT grows with scale while
    // per-partition size stays constant — how a real warehouse grows
    // (more users, same history depth). The exposure here is a window
    // that accidentally single-partitions (xN growth serializing through
    // one task) or a join that degrades to pairwise; healthy shapes grow
    // ~linearly in rows.
    if (sections("window"))
      curve(spark, base, "scale_check_window", scalesOr(1, 2, 4, 8),
        scale => if (scale == 1) base else Replicas.shiftedDir(spark, base, scale,
          s"scale_win_x$scale", Seq(
            "events" -> Seq("event_id" -> RowIdStride, "user_id" -> EntityStride),
            "orders" -> Seq("o_orderkey" -> RowIdStride, "o_custkey" -> EntityStride))),
        Seq(
          "sessionize" -> Temporal.windowSessionize,
          "zscore" -> Advanced.windowZscoreAnomaly,
          "asof" -> Temporal.joinAsofPurchase,
          // the grid-bucketed interval join (sessions × a FIXED promo set —
          // growth must stay linear in sessions, pairwise would be x64 at
          // x8) and two more user-keyed shapes
          "interval_overlap" -> Temporal.joinIntervalOverlap,
          "gaps_islands" -> Temporal.windowGapsIslands,
          "mode_frequent" -> Advanced.aggModeFrequent,
          "percent_rank" -> Advanced.windowPercentRank,
          "decile" -> Advanced.windowNtileDecile,
          // full-outer snapshot diff: one key-partitioned join, linear growth
          "snapshot_diff" -> graft.etl.Upsert.upsertSnapshotDiff))

    if (sections("cluster")) {
      // ---- round 7: pointer doubling promises O(log) label-propagation
      // rounds; pin the ROUND COUNT (not just seconds) at ×32 against the
      // ⌈log2(longest chain)⌉ bound. The true chain length (graph
      // diameter) is bounded above by the largest cluster size, so
      // rounds <= ceil(log2(max_cluster)) + 2 (+1: doubling overshoot on
      // non-path graphs; +1: the final no-change detection round) is the
      // conservative check; the linear-growth replica model keeps planted
      // clusters small, so a super-log blowup would fail it loudly.
      DedupOps.llmDedupCluster(spark, base).count() // warmup
      clearAll()
      scalesOr(8, 32).foreach { scale =>
        val dir = docsDir(scale, "cluster_docs")
        val ((res, rounds), t) = timed(DedupOps.clusters(spark, dir))
        val maxCluster = res.groupBy("cluster_id").count()
          .agg(max("count")).head.getLong(0)
        val bound = math.ceil(math.log(maxCluster.toDouble) / math.log(2)).toInt + 2
        emit("scale_check_cluster", "scale" -> scale, "cluster_sec" -> t,
          "rounds" -> rounds, "max_cluster" -> maxCluster, "log2_bound" -> bound,
          "rounds_ok" -> (rounds <= bound))
        clearAll()
      }
    }

    if (sections("kmeans")) {
      // ---- round 11: Lloyd cost model check. Per iteration the work is
      // ONE corpus pass (argmin against k literal centroids) + a k-group
      // aggregate, so wall-clock per ITERATION should grow ~linearly with
      // the corpus and the iteration count is fixed — kmeans_sec/scale
      // should be ~flat. Also pins that the cell histogram stays
      // non-degenerate as replicas multiply (rotated replicas add new
      // directions; a collapsed clustering would funnel them into one
      // cell).
      SimilarityOps.llmClusterKmeans(spark, base).count() // warm
      clearAll()
      scalesOr(1, 2, 4, 8).foreach { scale =>
        val dir = embDir(scale, "kmeans_emb")
        val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
        val (cells, t) = timed(SimilarityOps.llmClusterKmeans(spark, dir).collect())
        emit("scale_check_kmeans", "scale" -> scale, "vecs" -> n, "kmeans_sec" -> t,
          "sec_per_scale" -> t / scale, "cells" -> cells.length.toLong,
          "max_cell_share" -> cells.map(_.getLong(1)).max.toDouble / n)
        clearAll()
      }
    }

    if (sections("recall")) {
      // ---- round 11 (VERDICT r10 #5): ANN RECALL off the fixture floor.
      // The width section proves candidate work stays flat; this section
      // proves the derived geometry still FINDS things — recall@20 +
      // scanned fraction for the RP-bucket ANN and the IVF path at
      // ×16/×64 of the sf0.1 embeddings (32k / 128k vectors), on the
      // AnnScaleSpec corpus (Replicas.plantedEmb) whose exact top-20 is
      // the ground truth. Planted ids start at 10¹⁰ — replica r shifts
      // base ids by r·10⁷, so a 9·10⁸ base (the spec's 9·10⁷ scaled up)
      // would collide again at scale 90; 10¹⁰ needs scale 1000, and the
      // require below makes the boundary loud instead of silently
      // corrupting the recall numerators (review r11).
      val recallScales = scalesOr(16, 64)
      val plantedBase = 10000000000L
      require(recallScales.forall(_ < 1000),
        s"recall scales >= 1000 would collide replica ids with planted ids: $recallScales")
      def ids(df: DataFrame): Array[Long] = df.select("vec_id").collect().map(_.getLong(0))
      recallScales.foreach { scale =>
        val d = Replicas.plantedEmb(spark, base, scale, s"scale_recall_x$scale", plantedBase)
        val exact = ids(SimilarityOps.llmSimilarityTopk(spark, d))
        def recall(got: Array[Long]) = got.toSet.intersect(exact.toSet).size.toDouble / exact.length
        val (ann, annSec) = timed(ids(SimilarityOps.llmSimilarityAnn(spark, d)))
        val n = DedupOps.embCount(spark, d)
        val bits = DedupOps.projBitsFor(n)
        val radius = SimilarityOps.probeRadiusFor(bits, n)
        val rpScanned = SimilarityOps.probedBuckets(bits, radius).toDouble / (1L << bits)
        val ivfIndexSec = secs(SimilarityOps.ivfIndex(spark, d)._1.count())
        val (ivf, ivfSec) = timed(ids(SimilarityOps.llmSimilarityIvf(spark, d)))
        val (nlist, _) = SimilarityOps.ivfGeometry(n)
        val ivfScannedRows = SimilarityOps.ivfIndex(spark, d)._1
          .join(SimilarityOps.ivfProbedCells(spark, d), Seq("cell"), "left_semi")
          .count()
        emit("scale_check_recall", "scale" -> scale, "vecs" -> n,
          "exact_planted" -> exact.count(_ >= plantedBase),
          "rp_bits" -> bits, "rp_radius" -> radius, "rp_scanned_frac" -> Dec(rpScanned, 3),
          "ann_recall" -> Dec(recall(ann), 3), "ann_sec" -> annSec,
          "ivf_nlist" -> nlist, "ivf_scanned_frac" -> Dec(ivfScannedRows.toDouble / n, 3),
          "ivf_recall" -> Dec(recall(ivf), 3), "ivf_sec" -> ivfSec, "ivf_index_sec" -> ivfIndexSec)
        clearAll()
      }
    }

    if (sections("width")) {
      // ---- candidate-WORK counts to ×64 under the derived index widths
      // (round 6): pairs per item, not seconds — seconds at these corpus
      // sizes are dominated by fixed per-job overhead, counts are the
      // direct no-n² witness.
      //   minhash: banded signature join — pair structure is the planted
      //     near-dups, linear by construction; per-doc must stay flat.
      //   simhash: (chunk, cval, ±1 length band) collisions under the
      //     round-7 128-bit / 8×16-chunk geometry. simhash_nb_per_doc is
      //     the same join WITHOUT the length-band key — the direct witness
      //     that the wider fingerprint itself (not the band crutch) holds
      //     candidate growth; the banded production number then divides
      //     that constant further.
      //   embedding RP: bits derive from n (occupancy ~8), so per-vec
      //     bucket-pair work must stay FLAT — this is the round-6 fix
      //     under test.
      scalesOr(8, 32, 64).foreach { scale =>
        val ddir = docsDir(scale, "width_docs")
        val nDocs = docCount(ddir)
        val mh = DedupOps.sigCandidates(spark, ddir).count()
        val geom = DedupOps.simGeom(spark, ddir)
        val sh = DedupOps.simhashCandidates(spark, ddir, geom).count()
        val shNb = DedupOps.simhashCandidates(spark, ddir, geom, useBand = false).count()
        clearAll()
        val edir = embDir(scale, "width_emb")
        val nVecs = DedupOps.embCount(spark, edir)
        val rp = spark.table(DedupOps.embTable(spark, edir))
          .groupBy("bucket").count()
          .agg(sum(col("count") * (col("count") - 1) / 2).cast("long").as("p"))
          .head.getLong(0)
        clearAll()
        emit("scale_check_width", "scale" -> scale, "docs" -> nDocs,
          "minhash_pairs" -> mh, "minhash_per_doc" -> mh.toDouble / nDocs,
          "simhash_cands" -> sh, "simhash_per_doc" -> sh.toDouble / nDocs,
          "simhash_nb_cands" -> shNb, "simhash_nb_per_doc" -> shNb.toDouble / nDocs,
          "vecs" -> nVecs, "rp_bits" -> DedupOps.projBitsFor(nVecs), "rp_pairs" -> rp,
          "rp_per_vec" -> rp.toDouble / nVecs)
      }
    }

    if (sections("planscale")) {
      // ---- round 16 (VERDICT r15 queue #8): plan-SHAPE regression guard
      // at ×8. PlanSpec pins exchange-free bucketed index consumers at
      // fixture scale; AQE re-planning at larger inputs was unverified —
      // a runtime re-plan that reintroduced a shuffle on the index key
      // would erase the build-once/consume-free contract exactly where it
      // matters (the 100 TB shape is "the index IS the partitioning").
      // Each consumer executes at ×scale first (the AQE final plan only
      // exists after execution), then its executed plan is string-checked
      // with the same predicates PlanSpec uses at fixture scale.
      // Repetitions per consumer (median reported, every rep recorded) —
      // two identical-config ×32 runs differed by 26% on the containment
      // row (page-cache state of a freshly written corpus), so a single
      // cold sample cannot support a growth-curve claim.
      // Default stays 1 (the r17 methodology); the r18 curve runs reps=3.
      val planReps = graft.util.EnvKnobs.positiveInt("SPARK_GRAFT_PLANSCALE_REPS", 1)
      scalesOr(8).foreach { scale =>
        val ddir = docsDir(scale, "planscale_docs")
        val edir = embDir(scale, "planscale_emb")
        // Per-consumer key ALTERNATIONS (ADVICE r16): these regexes are the
        // literal predicates PlanSpec asserts at fixture scale — minhash's
        // consume join may legally shuffle-check on either spelling of its
        // band hash (band before the r11 native-sig rework, bhash after),
        // so the ×8 guard must reject BOTH, exactly as PlanSpec does. A
        // single-key check here would pass an AQE re-plan shuffling on
        // bhash that PlanSpec fails.
        val checks: Seq[(String, String, String, () => DataFrame)] = Seq(
          ("decontaminate_indexed", "g", "g",
            () => DedupOps.llmDecontaminateIndexed(spark, ddir)),
          ("containment_indexed", "g", "g",
            () => DedupOps.llmDedupContainmentIndexed(spark, ddir)),
          ("simhash_indexed", "chunk", "chunk",
            () => DedupOps.llmDedupSimhashIndexed(spark, ddir)),
          ("minhash_indexed", "band", "(band|bhash)",
            () => DedupOps.llmDedupMinhashIndexed(spark, ddir)),
          ("embedding_indexed", "bucket", "bucket",
            () => DedupOps.llmDedupEmbeddingIndexed(spark, edir)))
        // Round 18: build every stored table FIRST, then release the
        // executor-memory builder persists before timing — the offline
        // index build of a real pipeline ends with tables on disk and heap
        // returned, and measuring consumers beside the builder persists
        // (then a ×128 gram persist, ~30 GB co-resident in this 48g JVM)
        // inflated the signature consumers 3-6× via storage/GC pressure
        // (BASELINE r18, minhash ×128 residual). Table-name caches survive
        // the release, so the timed consumers read the files they would in
        // production. No builder here keeps a persist: the gram, signature-
        // set, SimHash and embedding tables are written straight from their
        // raw passes, and the gram-set, rare-gram and banded signature
        // tables from stored rows (the SimHash bitsums barrier and the
        // gram aggregate are held only while their writes run), so these
        // builds leave no executor-storage residue by construction;
        // releaseBuilderPersists below is belt-and-braces.
        // Build TIMES here are io-window-dominated and the corpus was just
        // replicated — sync+settle first, or the first build measures the
        // replica flush (BASELINE r19 build-side decomposition:
        // 109 s contaminated vs 25-75 s settled for the ×128 gram build).
        try { new ProcessBuilder("sync").start().waitFor() } catch { case _: Throwable => () }
        Thread.sleep(10000)
        emit("scale_check_planshape_build", "scale" -> scale,
          "gram_sec" -> secs(DedupOps.gramTable(spark, ddir)),
          "gram_sets_sec" -> secs(DedupOps.gramSetTable(spark, ddir)),
          "sig_sec" -> secs(DedupOps.sigTable(spark, ddir)),
          "sim_sec" -> secs(DedupOps.simTable(spark, ddir)),
          "emb_sec" -> secs(DedupOps.embTable(spark, edir)))
        DedupOps.releaseBuilderPersists()
        val planFields = checks.map { case (name, label, keyRe, mk) =>
          // a FRESH frame per rep: re-collecting one DataFrame object reuses
          // its already-materialized shuffle stages (stage-skip), so repeat
          // timings on the same object measure only the result stage — a
          // fresh build re-executes the whole consumer against a warm page
          // cache, which is the steady-state cost the curve claims
          var df = mk()
          val ts = (1 to planReps).map { _ => df = mk(); secs(df.collect()) }
          val p = df.queryExecution.executedPlan.toString
          name -> Obj("sec" -> ts.sorted.apply(planReps / 2), "reps" -> ts,
            "bucketed" -> p.contains("Bucketed: true"),
            s"no_${label}_exchange" ->
              ("Exchange hashpartitioning\\(" + keyRe + "#").r.findFirstIn(p).isEmpty)
        }
        emit("scale_check_planshape", ("scale" -> scale) +: planFields: _*)
        clearAll()
      }
    }

    if (sections("sink")) {
      // ---- round 15 (VERDICT r14 queue #7): profile-guided sink audit —
      // bytes/files/seconds per sink op at ×8 input volume. The output is
      // the MB/s FLOOR future io-spike adjudications compare against: a
      // sink row far below its recorded floor on nominal calibrations is
      // a host episode, at the floor it is a real regression. Facts
      // replicate with PRIMARY keys shifted per replica and FOREIGN keys
      // intact (orders⋈lineitem shift together; custkeys unshifted), so
      // every join-bearing sink's output volume stays proportional.
      // NOTE: clears non-keep scratch between ops for byte attribution,
      // so this block is placed LAST in section order (review r15) — any
      // section after it would find its scratch artifacts destroyed.
      val sinkOps = SparkEntry.queries.filter(_._1.startsWith("sink_"))
        .toSeq.sortBy(_._1)
      // untimed: JIT/codegen warm at base scale
      sinkOps.foreach { case (_, fn) => fn(spark, base).count() }
      // scratch snapshot EXCLUDING spark_local (shuffle spill is transient
      // plumbing, not sink output; its lingering blockmgr files would
      // pollute the byte deltas)
      def snapshot(): (Long, Long) = {
        var files = 0L; var bytes = 0L
        def walk(f: java.io.File): Unit =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
          else if (f.isFile) { files += 1; bytes += f.length() }
        Option(new java.io.File(graft.util.Scratch.rootDir).listFiles())
          .getOrElse(Array.empty)
          .filterNot(_.getName == "spark_local").foreach(walk)
        (files, bytes)
      }
      scalesOr(8).foreach { scale =>
        val corpusName = s"scale_sink_x$scale"
        val d = Replicas.shiftedDir(spark, base, scale, corpusName, Seq(
          "orders" -> Seq("o_orderkey" -> RowIdStride),
          "lineitem" -> Seq("l_orderkey" -> RowIdStride),
          "events" -> Seq("event_id" -> RowIdStride),
          "customer" -> Seq("c_custkey" -> EntityStride)))
        // untimed: the ×scale Derby OLTP seed (memoized per sfDir — without
        // this the jdbc row would absorb the seed, exactly the shared-index
        // story in Bench's warmup)
        graft.etl.Ingest.derbyUrl(spark, d)
        sinkOps.foreach { case (name, fn) =>
          graft.util.Scratch.wipeWhere(n =>
            !(n == "spark_local" || n.startsWith("derby") || n == corpusName))
          val (f0, b0) = snapshot()
          val t = secs(fn(spark, d).count())
          val (f1, b1) = snapshot()
          val mb = (b1 - b0) / 1048576.0
          emit("scale_check_sink", "op" -> name, "scale" -> scale, "sec" -> t,
            "files" -> (f1 - f0), "mb" -> mb, "mb_per_sec" -> (if (t > 0) mb / t else 0.0))
        }
      }
    }

    spark.stop()
  }
}
