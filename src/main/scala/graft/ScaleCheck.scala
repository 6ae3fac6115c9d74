package graft

import graft.util.Driver.secs
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Empirical no-n² evidence for the dedup pipeline: replicate the sf0.1
  * corpora ×1..×64 and (a) time index build + each operator at every scale,
  * (b) COUNT candidate-pair work per item under the derived index widths.
  * If candidate generation were pairwise, ×4 data would cost ×16 — the
  * tables this prints (recorded in BASELINE.md) show whether growth stays
  * ~linear.
  *
  * Replica r > 0 gets doc_id + r·10⁷ and a per-replica seeded alphabet
  * permutation (translate), so cross-replica texts share no 5-gram
  * shingles: the near-dup pair structure grows linearly with scale, as in
  * a real corpus growing by new content — NOT quadratically as naive
  * duplication of identical texts would force regardless of algorithm.
  *
  * Sections are selectable via SPARK_GRAFT_SECTIONS (comma list of
  * [[Sections]]; default all) so the ×32/×64 width counts can run without
  * re-timing everything.
  */
object ScaleCheck {
  // replica machinery lives in graft.util.Replicas since round 18

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

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sections = parseSections(sys.env.get("SPARK_GRAFT_SECTIONS")).toSet
    // Per-section scale-tier overrides (round 9): the width/sim curves
    // extend one octave per round and re-running the recorded lower tiers
    // every time wastes the wall-clock budget — an override like
    // SPARK_GRAFT_WIDTH_SCALES=64,128 runs the new octave plus one
    // overlapping recorded tier for same-host comparability.
    // Validates the PARSED values, not just the character class: "0" is
    // all-digits but propagates a zero scale into the replica corpus
    // builders (shared parser: EnvKnobs).
    def scalesEnv(key: String, default: Seq[Int]): Seq[Int] =
      graft.util.EnvKnobs.positiveIntList(key, default)
    val dedupScales = scalesEnv("SPARK_GRAFT_DEDUP_SCALES", Seq(1, 2, 4, 8))
    val simScales = scalesEnv("SPARK_GRAFT_SIM_SCALES", Seq(1, 2, 4, 8))
    val widthScales = scalesEnv("SPARK_GRAFT_WIDTH_SCALES", Seq(8, 32, 64))
    // Shuffle parallelism decoupled from the thread count (round 13): at
    // the ×64 pipeline tier the verification join shuffles ~100 GB of
    // shingle arrays — 32 partitions means ~3 GB each, past the in-memory
    // sort budget, and the stage spills. On a real cluster shuffle
    // partitions follow data volume (or AQE's advisory size splits them);
    // the override lets a big-tier run express exactly that without
    // changing the plan.
    // validated like the scales knobs (round-13 review): a 0 or trailing
    // comma must fail fast at startup, not after the corpus builds
    val shufflePartitions = graft.util.EnvKnobs
      .positiveInt("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toInt).toString
    val spark = graft.util.Driver.session(cpus,
      "spark.sql.shuffle.partitions" -> shufflePartitions)

    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)

    /** ×scale documents corpus (seeded-permutation replicas), written once
      * per (scale) to scratch; returns its dir. */
    def docsDir(scale: Int, tag: String): String =
      graft.util.Replicas.docsDir(spark, base, scale, tag)

    /** ×scale embeddings corpus: replica r rotated by r % 64 dimensions —
      * norm-preserving but direction-new, so replicas add new points (as a
      * growing corpus does), not duplicate ones. */
    def embDir(scale: Int, tag: String): String =
      if (scale == 1) base
      else {
        val d = graft.util.Scratch.dir(s"scale_${tag}_x$scale")
        val emb = spark.read.parquet(s"$base/embeddings.parquet")
        (0 until scale).map { r =>
          val rot = r % 64
          emb.withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
            .withColumn("embedding",
              expr(s"concat(slice(embedding, $rot + 1, 64 - $rot), " +
                s"slice(embedding, 1, $rot))"))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
        d
      }

    if (sections("dedup")) {
      // JVM/codegen warmup (untimed): run the whole pipeline once on the
      // base corpus, then drop its indexes — otherwise scale-1 absorbs the
      // one-time JIT/codegen cost of the HOF-heavy expressions and growth
      // between scales is not attributable to data size.
      graft.llm.DedupOps.llmDedupMinhash(spark, base).count()
      graft.llm.DedupOps.llmDedupNgramJaccard(spark, base).count()
      graft.llm.DedupOps.llmDedupCluster(spark, base).count()
      graft.llm.DedupOps.llmDecontaminate(spark, base).count()
      graft.llm.DedupOps.clearCaches()

      val ops: Seq[(String, QFn)] = Seq(
        "minhash" -> graft.llm.DedupOps.llmDedupMinhash,
        "ngram_jaccard" -> graft.llm.DedupOps.llmDedupNgramJaccard,
        "cluster" -> graft.llm.DedupOps.llmDedupCluster,
        "decontaminate" -> graft.llm.DedupOps.llmDecontaminate,
        // round 6: the composite funnel — costs its quality scan plus
        // semi/anti joins because the verified-pair index is already built
        // by ngram_jaccard above (the reuse IS the claim under test)
        "pipeline" -> graft.llm.DedupOps.llmPipelineCleanCorpus,
      )

      dedupScales.foreach { scale =>
        val dir = docsDir(scale, "dedup")
        val tIndex = secs {
          graft.llm.DedupOps.sigIndex(spark, dir).count()
          graft.llm.DedupOps.minhashCandidates(spark, dir).count()
        }
        // fn(...) must sit INSIDE the timed block: cluster's convergence
        // loop executes eagerly when the query is constructed, not at
        // count()
        val timed = ops.map { case (name, fn) =>
          name -> secs(fn(spark, dir).count())
        }
        println(s"""{"metric":"scale_check","scale":$scale,"index_sec":${f2(tIndex)},""" +
          timed.map { case (n, t) => s""""${n}_sec":${f2(t)}""" }.mkString(",") + "}")
        // release this scale's persisted indexes before the next one
        graft.llm.DedupOps.clearCaches()
      }
    }

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
      val pipelineScales = scalesEnv("SPARK_GRAFT_PIPELINE_SCALES", Seq(8, 64))
      graft.llm.DedupOps.llmPipelineCleanCorpus(spark, base).count() // JIT, untimed
      graft.llm.DedupOps.clearCaches()
      pipelineScales.foreach { scale =>
        val dir = docsDir(scale, "pipeline")
        val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
        // the one expensive shared index the funnel rides (stage 3
        // consumes the exact-verified near-dup pair set)
        val tIndex = secs {
          graft.llm.DedupOps.verifiedPairs(spark, dir).count()
        }
        var stages: Array[(Int, String, Long)] = null
        val t = secs {
          stages = graft.llm.DedupOps.llmPipelineCleanCorpus(spark, dir)
            .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        }
        // attribution counters, AFTER the timed blocks (sigIndex is
        // already cached, so these re-run only the banding join / read
        // the persisted pair frame): candidate and verified pair counts
        // decompose any index_sec growth into "more pairs" (banding
        // collisions — a design problem) vs "same pairs, slower"
        // (constant-factor/memory pressure — a capacity problem)
        val nCand = graft.llm.DedupOps.minhashCandidates(spark, dir).count()
        val nVerified = graft.llm.DedupOps.llmDedupNgramJaccard(spark, dir).count()
        println(s"""{"metric":"scale_check_pipeline","scale":$scale,""" +
          s""""docs":$nDocs,"index_sec":${f2(tIndex)},"pipeline_sec":${f2(t)},""" +
          s""""cand_pairs":$nCand,"verified_pairs":$nVerified,""" +
          s""""stages":{""" +
          stages.sortBy(_._1).map { case (_, n, c) => s""""$n":$c""" }
            .mkString(",") + "}}")
        graft.llm.DedupOps.clearCaches()
      }
    }

    if (sections("containment")) {
      // ---- containment path (round 11): the rare-gram blocking bound.
      // The claim: candidate pairs per doc stays FLAT as the corpus grows,
      // because only grams with df in [2,5] emit pairs (each contributes
      // <= C(5,2) = 10) — rare-gram count grows linearly with the corpus,
      // so candidates are O(n), never the posting-self-join n². The
      // replicas' translated alphabets keep cross-replica grams distinct,
      // exactly how fresh corpus slices behave.
      graft.llm.DedupOps.llmDedupContainment(spark, base).count()
      graft.llm.DedupOps.clearCaches()

      dedupScales.foreach { scale =>
        val dir = docsDir(scale, "containment")
        val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
        val grams = graft.llm.DedupOps.gramIndex(spark, dir)
          .select("doc_id", "g")
        val rare = grams.groupBy("g").agg(count(lit(1)).as("nd"))
          .filter(col("nd").between(2, 5)).select("g")
        val posting = grams.join(rare, Seq("g"), "left_semi")
        val nCand = posting
          .join(posting.withColumnRenamed("doc_id", "doc_b"), Seq("g"))
          .filter(col("doc_id") < col("doc_b"))
          .select(col("doc_id"), col("doc_b")).distinct().count()
        val nRare = rare.count()
        var nPairs = 0L
        val t = secs {
          nPairs = graft.llm.DedupOps.llmDedupContainment(spark, dir).count()
        }
        println(s"""{"metric":"scale_check_containment","scale":$scale,""" +
          s""""docs":$nDocs,"rare_grams":$nRare,"cand_pairs":$nCand,""" +
          s""""cand_per_doc":${f2(nCand.toDouble / nDocs)},""" +
          s""""pairs":$nPairs,"containment_sec":${f2(t)}}""")
        graft.llm.DedupOps.clearCaches()
      }
    }

    if (sections("span")) {
      // ---- span-dedup path (round 11): winnowing's two scale claims.
      // (1) SELECTIVITY: the winnow index keeps ~2/(w+1) of gram
      //     positions (≈12% at w=16) — measured as fps/doc vs grams/doc.
      // (2) BLOCKING: like containment, only fps with df in [2,5] emit
      //     pairs, so candidates/doc stays flat as replicas multiply
      //     (translated alphabets keep cross-replica runs distinct, the
      //     fresh-slice behavior).
      graft.llm.DedupOps.llmDedupSpan(spark, base).count() // warm

      dedupScales.foreach { scale =>
        val dir = docsDir(scale, "span")
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val nDocs = docs.count()
        val fps = docs
          .select(col("doc_id"), lower(trim(col("text"))).as("t"))
          .select(col("doc_id"), explode(expr("winnow_fps(t, 8, 16)")).as("fp"))
        val nFps = fps.count()
        val nGrams = docs
          .select(explode(expr("ngram_hashes(lower(trim(text)), 8)"))).count()
        val rare = fps.groupBy("fp").agg(count(lit(1)).as("nd"))
          .filter(col("nd").between(2, 5)).select("fp")
        val posting = fps.join(rare, Seq("fp"), "left_semi")
        val nCand = posting
          .join(posting.withColumnRenamed("doc_id", "doc_b"), Seq("fp"))
          .filter(col("doc_id") < col("doc_b"))
          .select(col("doc_id"), col("doc_b")).distinct().count()
        var nPairs = 0L
        val t = secs {
          nPairs = graft.llm.DedupOps.llmDedupSpan(spark, dir).count()
        }
        println(s"""{"metric":"scale_check_span","scale":$scale,""" +
          s""""docs":$nDocs,"fps_per_doc":${f2(nFps.toDouble / nDocs)},""" +
          s""""keep_frac":${f2(nFps.toDouble / nGrams)},""" +
          s""""cand_pairs":$nCand,"cand_per_doc":${f2(nCand.toDouble / nDocs)},""" +
          s""""pairs":$nPairs,"span_sec":${f2(t)}}""")
      }
    }

    if (sections("sim")) {
      // ---- similarity path: the same no-n² evidence for the embedding
      // ops. The knn-join query set (label=0, vec_id<200) lives only in the
      // base replica, so its cost curve isolates per-query corpus-scan
      // growth.
      graft.llm.SimilarityOps.llmSimilarityAnn(spark, base).count()
      graft.llm.SimilarityOps.llmSimilarityKnnJoin(spark, base).count()
      graft.llm.DedupOps.llmDedupEmbedding(spark, base).count()
      graft.llm.DedupOps.llmDedupSemantic(spark, base).count()
      graft.llm.DedupOps.clearCaches()
      graft.llm.SimilarityOps.clearCaches()

      simScales.foreach { scale =>
        val dir = embDir(scale, "emb")
        val tIndex = secs { graft.llm.DedupOps.embIndex(spark, dir).count() }
        val timed = Seq(
          "dedup_embedding" ->
            secs(graft.llm.DedupOps.llmDedupEmbedding(spark, dir).count()),
          "similarity_ann" ->
            secs(graft.llm.SimilarityOps.llmSimilarityAnn(spark, dir).count()),
          // ivf pays its k-means fit per corpus (bounded sample, but
          // nlist derives ~sqrt(32n): 512 cells at x1 → 2048 at x8) — the
          // one op whose index build must grow with the derived geometry
          "similarity_ivf" ->
            secs(graft.llm.SimilarityOps.llmSimilarityIvf(spark, dir).count()),
          "knn_join" ->
            secs(graft.llm.SimilarityOps.llmSimilarityKnnJoin(spark, dir).count()),
          // round 7: the bucket-probed ANN form — its curve vs knn_join is
          // the candidate-cut evidence (the probe set is fixed per query
          // while the exact join's candidate set grows with the corpus)
          "knn_join_ann" ->
            secs(graft.llm.SimilarityOps.llmSimilarityKnnJoinAnn(spark, dir).count()),
          // round 7: SemDeDup — within-bucket pairwise at occupancy ~8
          // must track the index-build curve (linear), not pairwise n²;
          // its timing includes the embTable materialization for this dir
          "semdedup" ->
            secs(graft.llm.DedupOps.llmDedupSemantic(spark, dir).count()))
        println(s"""{"metric":"scale_check_sim","scale":$scale,"index_sec":${f2(tIndex)},""" +
          timed.map { case (n, t) => s""""${n}_sec":${f2(t)}""" }.mkString(",") + "}")
        graft.llm.DedupOps.clearCaches()
        graft.llm.SimilarityOps.clearCaches()
      }
    }

    if (sections("text")) {
      // ---- text path (round 5): chunking, TF-IDF, bigram counts, packing,
      // shard shuffle. All are scan→explode→agg/window shapes with no
      // candidate generation, so the exposure is different: the explode
      // multiplies rows and a missing map-side combine or a global sort
      // would show up here as super-linear growth.
      val textOps: Seq[(String, QFn)] = Seq(
        "chunk" -> graft.llm.TextOps.llmChunkDocuments,
        "tfidf" -> graft.llm.TextOps.llmTfidfTopterms,
        "bigram" -> graft.llm.TextOps.llmBigramCounts,
        "pack" -> graft.llm.TextOps.llmPackSequences,
        "shuffle" -> graft.llm.TextOps.llmShuffleShards,
        // round-5 additions: the unigram LM pays one model build per corpus
        // (persisted index — cleared between scales so each scale pays its
        // own build) and the mixture is a metadata join — both should track
        // corpus size linearly
        "unigram" -> graft.llm.TextOps.llmUnigramLogprob,
        "mixture" -> graft.llm.SampleOps.llmDomainMixture,
        // round 7: the bigram LM pays a second model build (distinct pairs
        // ≫ distinct tokens, still map-side-combined) + one pair-keyed
        // scoring join — should track the unigram curve with a constant
        // factor, not a new growth order
        "perplexity" -> graft.llm.TextOps.llmPerplexityScore,
      )
      textOps.foreach { case (_, fn) => fn(spark, base).count() } // warmup
      graft.llm.TextOps.clearCaches()

      Seq(1, 2, 4, 8).foreach { scale =>
        val dir = docsDir(scale, "text")
        val timed = textOps.map { case (name, fn) =>
          name -> secs(fn(spark, dir).count())
        }
        println(s"""{"metric":"scale_check_text","scale":$scale,""" +
          timed.map { case (n, t) => s""""${n}_sec":${f2(t)}""" }.mkString(",") + "}")
        graft.llm.TextOps.clearCaches()
      }
    }

    if (sections("window")) {
      // ---- analytics/window path (round 5): sessionize, z-score, as-of,
      // percent_rank, decile assignment. Replica r shifts event/order AND
      // user/customer ids, so partition COUNT grows with scale while
      // per-partition size stays constant — how a real warehouse grows
      // (more users, same history depth). The exposure here is a window
      // that accidentally single-partitions (xN growth serializing through
      // one task) or a join that degrades to pairwise; healthy shapes grow
      // ~linearly in rows.
      val winOpsEvents: Seq[(String, QFn)] = Seq(
        "sessionize" -> graft.analytics.Temporal.windowSessionize,
        "zscore" -> graft.analytics.Advanced.windowZscoreAnomaly,
        "asof" -> graft.analytics.Temporal.joinAsofPurchase,
        // round-5 additions: the grid-bucketed interval join (sessions × a
        // FIXED promo set — growth must stay linear in sessions, pairwise
        // would be x64 at x8) and two more user-keyed shapes
        "interval_overlap" -> graft.analytics.Temporal.joinIntervalOverlap,
        "gaps_islands" -> graft.analytics.Temporal.windowGapsIslands,
        "mode_frequent" -> graft.analytics.Advanced.aggModeFrequent,
      )
      val winOpsOrders: Seq[(String, QFn)] = Seq(
        "percent_rank" -> graft.analytics.Advanced.windowPercentRank,
        "decile" -> graft.analytics.Advanced.windowNtileDecile,
        // full-outer snapshot diff: one key-partitioned join, linear growth
        "snapshot_diff" -> graft.etl.Upsert.upsertSnapshotDiff,
      )
      (winOpsEvents ++ winOpsOrders).foreach { case (_, fn) => fn(spark, base).count() }

      Seq(1, 2, 4, 8).foreach { scale =>
        val dir =
          if (scale == 1) base
          else {
            val d = graft.util.Scratch.dir(s"scale_win_x$scale")
            val ev = Tables(spark, base, "events")
            (0 until scale).map { r =>
              ev.withColumn("event_id", col("event_id") + lit(r * 10000000L))
                .withColumn("user_id", col("user_id") + lit(r * 1000000L))
            }.reduce(_ unionByName _)
              // back to long nanos so Tables' ns-rewrite applies on re-read
              .withColumn("ts", expr("unix_micros(ts) * 1000"))
              .write.mode("overwrite").parquet(s"$d/events.parquet")
            val o = spark.read.parquet(s"$base/orders.parquet")
            (0 until scale).map { r =>
              o.withColumn("o_orderkey", col("o_orderkey") + lit(r * 10000000L))
                .withColumn("o_custkey", col("o_custkey") + lit(r * 1000000L))
            }.reduce(_ unionByName _)
              .write.mode("overwrite").parquet(s"$d/orders.parquet")
            d
          }
        val timed = (winOpsEvents ++ winOpsOrders).map { case (name, fn) =>
          name -> secs(fn(spark, dir).count())
        }
        println(s"""{"metric":"scale_check_window","scale":$scale,""" +
          timed.map { case (n, t) => s""""${n}_sec":${f2(t)}""" }.mkString(",") + "}")
      }
    }

    if (sections("cluster")) {
      // ---- round 7: pointer doubling promises O(log) label-propagation
      // rounds; pin the ROUND COUNT (not just seconds) at ×32 against the
      // ⌈log2(longest chain)⌉ bound. The true chain length (graph
      // diameter) is bounded above by the largest cluster size, so
      // rounds <= ceil(log2(max_cluster)) + 2 (+1: doubling overshoot on
      // non-path graphs; +1: the final no-change detection round) is the
      // conservative check; the linear-growth replica model keeps planted
      // clusters small, so a super-log blowup would fail it loudly.
      graft.llm.DedupOps.llmDedupCluster(spark, base).count() // warmup
      graft.llm.DedupOps.clearCaches()
      Seq(8, 32).foreach { scale =>
        val dir = docsDir(scale, "cluster_docs")
        var res: org.apache.spark.sql.DataFrame = null
        val t = secs { res = graft.llm.DedupOps.llmDedupCluster(spark, dir) }
        val rounds = graft.llm.DedupOps.lastClusterRounds.get
        val maxCluster = res.groupBy("cluster_id").count()
          .agg(max("count")).head.getLong(0)
        val bound = math.ceil(math.log(maxCluster.toDouble) / math.log(2)).toInt + 2
        println(s"""{"metric":"scale_check_cluster","scale":$scale,""" +
          s""""cluster_sec":${f2(t)},"rounds":$rounds,"max_cluster":$maxCluster,""" +
          s""""log2_bound":$bound,"rounds_ok":${rounds <= bound}}""")
        graft.llm.DedupOps.clearCaches()
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
      graft.llm.SimilarityOps.llmClusterKmeans(spark, base).count() // warm
      graft.llm.SimilarityOps.clearCaches()
      graft.llm.DedupOps.clearCaches()
      simScales.foreach { scale =>
        val dir = embDir(scale, "kmeans_emb")
        val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
        var cells = 0L
        var maxShare = 0.0
        val t = secs {
          val out = graft.llm.SimilarityOps.llmClusterKmeans(spark, dir)
            .collect()
          cells = out.length.toLong
          maxShare = out.map(_.getLong(1)).max.toDouble / n
        }
        println(s"""{"metric":"scale_check_kmeans","scale":$scale,""" +
          s""""vecs":$n,"kmeans_sec":${f2(t)},"sec_per_scale":${f2(t / scale)},""" +
          s""""cells":$cells,"max_cell_share":${f2(maxShare)}}""")
        graft.llm.SimilarityOps.clearCaches()
        graft.llm.DedupOps.clearCaches()
      }
    }

    if (sections("recall")) {
      // ---- round 11 (VERDICT r10 #5): ANN RECALL off the fixture floor.
      // The width section proves candidate work stays flat; this section
      // proves the derived geometry still FINDS things — recall@20 +
      // scanned fraction for the RP-bucket ANN and the IVF path at
      // ×16/×64 of the sf0.1 embeddings (32k / 128k vectors), with the
      // AnnScaleSpec planting model: rotated replicas (direction-new
      // corpus growth) + 25 perturbed copies of the vec_id-0 query
      // (cosine ≈ 0.99, far above the ~0.4 background) whose exact
      // top-20 is the ground truth. Planted ids start at 10¹⁰ — replica
      // r shifts base ids by r·10⁷, so a 9·10⁸ base (the spec's 9·10⁷
      // scaled up) would collide again at scale 90; 10¹⁰ needs scale
      // 1000, and the require below makes the boundary loud instead of
      // silently corrupting the recall numerators (review r11).
      val recallScales = scalesEnv("SPARK_GRAFT_RECALL_SCALES", Seq(16, 64))
      val plantedBase = 10000000000L
      require(recallScales.forall(_ < 1000),
        s"recall scales >= 1000 would collide replica ids with planted ids: $recallScales")
      recallScales.foreach { scale =>
        val d = graft.util.Scratch.dir(s"scale_recall_x$scale")
        val emb = spark.read.parquet(s"$base/embeddings.parquet")
        val corpus = (0 until scale).map { r =>
          val rot = r % 64
          emb.withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
            .withColumn("embedding",
              expr(s"concat(slice(embedding, $rot + 1, 64 - $rot), " +
                s"slice(embedding, 1, $rot))"))
        }.reduce(_ unionByName _)
        val planted = emb.filter(col("vec_id") === 0)
          .crossJoin(spark.range(25).select(col("id").as("pid")))
          .select((lit(plantedBase) + col("pid")).as("vec_id"),
            expr("transform(embedding, (x, d) -> cast(x * (1.0 + 0.4 * " +
              "(pmod(xxhash64(pid, d), 1000) / 1000.0 - 0.5)) as float))")
              .as("embedding"),
            lit(9).as("label"))
        corpus.unionByName(planted)
          .write.mode("overwrite").parquet(s"$d/embeddings.parquet")

        val exact = graft.llm.SimilarityOps.llmSimilarityTopk(spark, d)
          .select("vec_id").collect().map(_.getLong(0))
        val exactPlanted = exact.count(_ >= plantedBase)

        var ann: Array[Long] = null
        val annSec = secs {
          ann = graft.llm.SimilarityOps.llmSimilarityAnn(spark, d)
            .select("vec_id").collect().map(_.getLong(0))
        }
        val annRecall = ann.toSet.intersect(exact.toSet).size.toDouble / exact.length
        val n = graft.llm.DedupOps.embCount(spark, d)
        val bits = graft.llm.DedupOps.projBitsFor(n)
        val radius = graft.llm.SimilarityOps.probeRadiusFor(bits, n)
        val rpScanned =
          graft.llm.SimilarityOps.probedBuckets(bits, radius).toDouble / (1L << bits)

        val ivfIndexSec = secs {
          graft.llm.SimilarityOps.ivfIndex(spark, d)._1.count()
        }
        var ivf: Array[Long] = null
        val ivfSec = secs {
          ivf = graft.llm.SimilarityOps.llmSimilarityIvf(spark, d)
            .select("vec_id").collect().map(_.getLong(0))
        }
        val ivfRecall = ivf.toSet.intersect(exact.toSet).size.toDouble / exact.length
        val (nlist, _) = graft.llm.SimilarityOps.ivfGeometry(n)
        val (assigned, _) = graft.llm.SimilarityOps.ivfIndex(spark, d)
        val ivfScannedRows = assigned
          .join(graft.llm.SimilarityOps.ivfProbedCells(spark, d), Seq("cell"), "left_semi")
          .count()
        def r3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
        println(s"""{"metric":"scale_check_recall","scale":$scale,"vecs":$n,""" +
          s""""exact_planted":$exactPlanted,""" +
          s""""rp_bits":$bits,"rp_radius":$radius,"rp_scanned_frac":${r3(rpScanned)},""" +
          s""""ann_recall":${r3(annRecall)},"ann_sec":${f2(annSec)},""" +
          s""""ivf_nlist":$nlist,"ivf_scanned_frac":${r3(ivfScannedRows.toDouble / n)},""" +
          s""""ivf_recall":${r3(ivfRecall)},"ivf_sec":${f2(ivfSec)},"ivf_index_sec":${f2(ivfIndexSec)}}""")
        graft.llm.DedupOps.clearCaches()
        graft.llm.SimilarityOps.clearCaches()
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
      widthScales.foreach { scale =>
        val ddir = docsDir(scale, "width_docs")
        val nDocs = spark.read.parquet(s"$ddir/documents.parquet").count()
        val mh = graft.llm.DedupOps.minhashCandidates(spark, ddir).count()
        val sh = graft.llm.DedupOps.simhashCandidates(spark, ddir).count()
        val shNb = graft.llm.DedupOps.simhashCandidates(spark, ddir, useBand = false).count()
        graft.llm.DedupOps.clearCaches()
        val edir = embDir(scale, "width_emb")
        val nVecs = graft.llm.DedupOps.embCount(spark, edir)
        val bits = graft.llm.DedupOps.projBitsFor(nVecs)
        val rp = graft.llm.DedupOps.embIndex(spark, edir)
          .groupBy("bucket").count()
          .agg(sum(col("count") * (col("count") - 1) / 2).cast("long").as("p"))
          .head.getLong(0)
        graft.llm.DedupOps.clearCaches()
        graft.llm.SimilarityOps.clearCaches()
        def r2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
        println(s"""{"metric":"scale_check_width","scale":$scale,""" +
          s""""docs":$nDocs,"minhash_pairs":$mh,"minhash_per_doc":${r2(mh.toDouble / nDocs)},""" +
          s""""simhash_cands":$sh,"simhash_per_doc":${r2(sh.toDouble / nDocs)},""" +
          s""""simhash_nb_cands":$shNb,"simhash_nb_per_doc":${r2(shNb.toDouble / nDocs)},""" +
          s""""vecs":$nVecs,"rp_bits":$bits,"rp_pairs":$rp,"rp_per_vec":${r2(rp.toDouble / nVecs)}}""")
      }
    }
    if (sections("planscale")) {
      // ---- round 16 (VERDICT r15 queue #8): plan-SHAPE regression guard
      // at ×8. PlanSpec pins exchange-free bucketed index consumers at
      // fixture scale; AQE re-planning at larger inputs was unverified —
      // a runtime re-plan that reintroduced a shuffle on the index key
      // would erase the build-once/consume-free contract exactly where it
      // matters (the 100 TB shape is "the index IS the partitioning").
      // Each consumer executes at ×8 first (the AQE final plan only
      // exists after execution), then its executed plan is string-checked
      // with the same predicates PlanSpec uses at fixture scale.
      val planScale = graft.util.EnvKnobs.positiveInt("SPARK_GRAFT_PLANSCALE", 8)
      val ddir = docsDir(planScale, "planscale_docs")
      val edir = embDir(planScale, "planscale_emb")
      // Per-consumer key ALTERNATIONS (ADVICE r16): these regexes are the
      // literal predicates PlanSpec asserts at fixture scale — minhash's
      // consume join may legally shuffle-check on either spelling of its
      // band hash (band before the r11 native-sig rework, bhash after),
      // so the ×8 guard must reject BOTH, exactly as PlanSpec does. A
      // single-key check here would pass an AQE re-plan shuffling on
      // bhash that PlanSpec fails.
      val checks: Seq[(String, String, String, () => org.apache.spark.sql.DataFrame)] = Seq(
        ("decontaminate_indexed", "g", "g",
          () => graft.llm.DedupOps.llmDecontaminateIndexed(spark, ddir)),
        ("containment_indexed", "g", "g",
          () => graft.llm.DedupOps.llmDedupContainmentIndexed(spark, ddir)),
        ("simhash_indexed", "chunk", "chunk",
          () => graft.llm.DedupOps.llmDedupSimhashIndexed(spark, ddir)),
        ("minhash_indexed", "band", "(band|bhash)",
          () => graft.llm.DedupOps.llmDedupMinhashIndexed(spark, ddir)),
        ("embedding_indexed", "bucket", "bucket",
          () => graft.llm.DedupOps.llmDedupEmbeddingIndexed(spark, edir)))
      // Round 18: build every stored table FIRST, then release the
      // executor-memory builder persists before timing — the offline
      // index build of a real pipeline ends with tables on disk and heap
      // returned, and measuring consumers beside a ×128 gram persist
      // (~30 GB co-resident in this 48g JVM) inflated the signature
      // consumers 3-6× via storage/GC pressure (BASELINE r18, minhash
      // ×128 residual). Table-name caches survive the release, so the
      // timed consumers read the files they would in production.
      // Round 19: the builders stream from RAW plans when the in-memory
      // persists are cold (this path — DedupOps.buildSource), so these
      // builds leave no executor-storage residue by
      // construction; releaseBuilderPersists below is belt-and-braces.
      // Build TIMES here are io-window-dominated and the corpus was just
      // replicated — sync+settle first, or the first build measures the
      // replica flush (BASELINE r19 build-side decomposition:
      // 109 s contaminated vs 25-75 s settled for the ×128 gram build).
      try { new ProcessBuilder("sync").start().waitFor() } catch { case _: Throwable => () }
      Thread.sleep(10000)
      println(s"""{"metric":"scale_check_planshape_build","scale":$planScale,""" +
        s""""gram_sec":${f2(secs(graft.llm.DedupOps.gramTable(spark, ddir)))},""" +
        s""""sig_sec":${f2(secs(graft.llm.DedupOps.sigTable(spark, ddir)))},""" +
        s""""sim_sec":${f2(secs(graft.llm.DedupOps.simTable(spark, ddir)))},""" +
        s""""emb_sec":${f2(secs(graft.llm.DedupOps.embTable(spark, edir)))}}""")
      graft.llm.DedupOps.releaseBuilderPersists()
      // Repetitions per consumer (median reported, every rep recorded) —
      // two identical-config ×32 runs differed by 26% on the containment
      // row (page-cache state of a freshly written corpus), so a single
      // cold sample cannot support a growth-curve claim.
      // Default stays 1 (the r17 methodology); the r18 curve runs reps=3.
      val planReps = graft.util.EnvKnobs.positiveInt("SPARK_GRAFT_PLANSCALE_REPS", 1)
      val planLines = checks.map { case (name, label, keyRe, mk) =>
        // a FRESH frame per rep: re-collecting one DataFrame object reuses
        // its already-materialized shuffle stages (stage-skip), so repeat
        // timings on the same object measure only the result stage — a
        // fresh build re-executes the whole consumer against a warm page
        // cache, which is the steady-state cost the curve claims
        var df = mk()
        val ts = (1 to planReps).map { _ => df = mk(); secs(df.collect()) }
        val t = ts.sorted.apply(planReps / 2)
        val p = df.queryExecution.executedPlan.toString
        val bucketed = p.contains("Bucketed: true")
        val noKeyExchange =
          ("Exchange hashpartitioning\\(" + keyRe + "#").r.findFirstIn(p).isEmpty
        s""""$name":{"sec":${f2(t)},"reps":[${ts.map(f2).mkString(",")}],""" +
          s""""bucketed":$bucketed,""" +
          s""""no_${label}_exchange":$noKeyExchange}"""
      }
      println(s"""{"metric":"scale_check_planshape","scale":$planScale,""" +
        planLines.mkString(",") + "}")
      graft.llm.DedupOps.clearCaches()
      graft.llm.SimilarityOps.clearCaches()
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
      val sinkScale = graft.util.EnvKnobs.positiveInt("SPARK_GRAFT_SINK_SCALE", 8)
      val corpusName = s"scale_sink_x$sinkScale"
      val d = graft.util.Scratch.dir(corpusName)
      val o = spark.read.parquet(s"$base/orders.parquet")
      (0 until sinkScale).map(r =>
        o.withColumn("o_orderkey", col("o_orderkey") + lit(r * 10000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$d/orders.parquet")
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      (0 until sinkScale).map(r =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(r * 10000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      val ev = Tables(spark, base, "events")
      (0 until sinkScale).map(r =>
        ev.withColumn("event_id", col("event_id") + lit(r * 10000000L)))
        .reduce(_ unionByName _)
        // back to long nanos so Tables' ns-rewrite applies on re-read
        .withColumn("ts", expr("unix_micros(ts) * 1000"))
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      val cu = spark.read.parquet(s"$base/customer.parquet")
      (0 until sinkScale).map(r =>
        cu.withColumn("c_custkey", col("c_custkey") + lit(r * 1000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$d/customer.parquet")

      val sinkOps = SparkEntry.queries.filter(_._1.startsWith("sink_"))
        .toSeq.sortBy(_._1)
      // untimed: JIT/codegen warm at base scale + the ×scale Derby OLTP
      // seed (memoized per sfDir — without this the jdbc row would absorb
      // the seed, exactly the shared-index story in Bench's warmup)
      sinkOps.foreach { case (_, fn) => fn(spark, base).count() }
      graft.etl.Ingest.derbyUrl(spark, d)

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
      sinkOps.foreach { case (name, fn) =>
        graft.util.Scratch.wipeWhere(n =>
          !(n == "spark_local" || n.startsWith("derby") || n == corpusName))
        val (f0, b0) = snapshot()
        val t = secs(fn(spark, d).count())
        val (f1, b1) = snapshot()
        val mb = (b1 - b0) / 1048576.0
        println(s"""{"metric":"scale_check_sink","op":"$name","scale":$sinkScale,""" +
          s""""sec":${f2(t)},"files":${f1 - f0},"mb":${f2(mb)},""" +
          s""""mb_per_sec":${f2(if (t > 0) mb / t else 0.0)}}""")
      }
    }

    spark.stop()
  }
}
