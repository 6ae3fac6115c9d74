package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance-economics probe (round 20, VERDICT r19 #2/#3): the
  * append-vs-rebuild asymmetry the generation-append indexes exist for,
  * and the incremental-CC crossover curve — both promised by BASELINE.md
  * since round 19 and never measured (the fixture's 50/50 generation
  * split cannot show either; a maintenance op's whole value is the
  * SMALL-delta regime).
  *
  * Sections (SPARK_GRAFT_MAINTAIN_SECTIONS, default all):
  *
  *   - `gram` / `emb`: full bucketed-index REBUILD cost at ×S vs the
  *     append leg's cost for delta fractions of the corpus (default
  *     1/2, 1/16, 1/64 of the replicas). The rebuild write is the
  *     shipped builder spec (gram: explode ngram_hashes, bucket on g;
  *     emb: cast+norm+RP bucket with width derived from the FULL corpus
  *     count — the append-soundness invariant); the append leg is the
  *     delta-only projection written mode("append") into an existing
  *     table, exactly like gramAppendTable/embAppendTable's second leg.
  *     Expected shape: rebuild ∝ corpus, append ∝ delta.
  *
  *   - `cc`: from-scratch connected components over the full verified
  *     pair graph vs the shipped incremental contraction
  *     (llm_dedup_cluster_incremental's plan, stored base labels read
  *     from parquet) at the same delta fractions. Expected shape:
  *     from-scratch ≈ flat in delta (always corpus-sized), incremental =
  *     corpus-SCAN floor (one labels read per expansion) +
  *     delta-proportional loop — the crossover the r19 verdict demanded
  *     before the op counts as done (at the fixture's delta=50% the
  *     incremental op measured SLOWER, 3.12 vs 2.03 s, BENCH_r19).
  *
  * Corpus: seeded-permutation replicas (graft.util.Replicas — content-
  * disjoint across replicas, so the pair graph replicates linearly and
  * deltas share nothing with the base, the conservative case for
  * contraction). Timing: warm medians of 3 fresh-plan reps (memory:
  * re-collecting one DataFrame object measures nothing), sync+settle
  * after corpus writes (the r19 dirty-page-flush artifact).
  * Run: SPARK_DRIVER_MEM=48g sbt -batch "runMain graft.tools.MaintainProbe [sfDir]". */
object MaintainProbe {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = graft.util.EnvKnobs
      .positiveInt("SPARK_GRAFT_SHUFFLE_PARTITIONS", 64)
    val scale = graft.util.EnvKnobs
      .positiveInt("SPARK_GRAFT_MAINTAIN_SCALE", 64)
    // delta sizes in REPLICAS (fractions of the corpus = d/scale)
    val deltas = graft.util.EnvKnobs
      .positiveIntList("SPARK_GRAFT_MAINTAIN_DELTAS", Seq(scale / 2, scale / 16, scale / 64))
      .filter(d => d >= 1 && d < scale).distinct
    val sections = sys.env.getOrElse("SPARK_GRAFT_MAINTAIN_SECTIONS", "gram,emb,cc")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val gramBuckets = graft.util.EnvKnobs
      .positiveInt("SPARK_GRAFT_MAINTAIN_GRAM_BUCKETS", 2 * scale)
    val reps = graft.util.EnvKnobs.positiveInt("SPARK_GRAFT_MAINTAIN_REPS", 3)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("maintain-probe")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensure(spark)
    import graft.llm.DedupOps

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // sync + wait for the page cache to actually DRAIN (a fixed 5 s
    // sleep was not enough at ×128 volumes — graft.util.Settle's doc has
    // the numbers)
    def settle(): Unit = graft.util.Settle.drain()
    def writeTbl(df: DataFrame, tbl: String, n: Int, keys: Seq[String]): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val dir = graft.util.Scratch.dir(s"mp_$tbl")
      df.repartition(n, keys.map(col): _*)
        .write.mode("overwrite").format("parquet")
        .bucketBy(n, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
        .option("path", s"$dir/$tbl").saveAsTable(tbl)
    }
    def appendTbl(df: DataFrame, tbl: String, n: Int, keys: Seq[String]): Unit =
      df.repartition(n, keys.map(col): _*)
        .write.mode("append").format("parquet")
        .bucketBy(n, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
        .saveAsTable(tbl)

    // ---- corpus ---------------------------------------------------------
    // Replica r occupies doc_id ∈ [r·stride, r·stride + maxBaseId]; the
    // last d replicas are the delta (doc_id >= (scale-d)·stride).
    val stride = 10000000L // sf fixtures: max doc_id < 10^7 ⇒ Replicas stride
    val docsDir = graft.util.Replicas.docsDir(spark, base, scale, "maintain")
    def docs = spark.read.parquet(s"$docsDir/documents.parquet")
    settle()

    /** The shipped gramPlan projection over an arbitrary docs frame
      * (DedupOps.gramPlan is keyed to a corpus DIR; append legs need it
      * over a delta SUBSET). */
    def gramProj(d: DataFrame): DataFrame = d
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .select(col("doc_id"), (pmod(col("doc_id"), lit(2)) === 0).as("is_train"),
        explode(expr("ngram_hashes(t, 13)")).as("g"))

    if (sections("gram")) {
      // rebuild: the full bucketed write, fresh plan + fresh table per rep
      val rebuilds = (1 to reps).map { i =>
        val t = time(writeTbl(gramProj(docs), s"mp_gram_full_$i", gramBuckets, Seq("g")))
        spark.sql(s"DROP TABLE IF EXISTS mp_gram_full_$i")
        graft.util.Scratch.wipeWhere(_ == s"mp_mp_gram_full_$i")
        t
      }
      // append legs: one base table (untimed), delta-only projections appended
      writeTbl(gramProj(docs), "mp_gram_base", gramBuckets, Seq("g"))
      val appends = deltas.map { d =>
        val lo = (scale - d) * stride
        val ts = (1 to reps).map { _ =>
          time(appendTbl(gramProj(docs.filter(col("doc_id") >= lo)),
            "mp_gram_base", gramBuckets, Seq("g")))
        }
        d -> ts
      }
      println(s"""{"metric":"maintain_probe","family":"gram","scale":$scale,""" +
        s""""buckets":$gramBuckets,"rebuild_sec":${f2(median(rebuilds))},""" +
        s""""rebuild_reps":[${rebuilds.map(f2).mkString(",")}],""" +
        appends.map { case (d, ts) =>
          s""""append_${d}of${scale}_sec":${f2(median(ts))},""" +
            s""""append_${d}of${scale}_reps":[${ts.map(f2).mkString(",")}]"""
        }.mkString(",") + "}")
      spark.sql("DROP TABLE IF EXISTS mp_gram_base")
      graft.util.Scratch.wipeWhere(_.startsWith("mp_mp_gram"))
    }

    if (sections("emb")) {
      // ×scale embeddings: replica r rotated by r % 64 dims (norm-
      // preserving, direction-new — ScaleCheck's embDir recipe)
      val embDir = {
        val d = graft.util.Scratch.dir(s"maintain_emb_x$scale")
        val emb = spark.read.parquet(s"$base/embeddings.parquet")
        (0 until scale).map { r =>
          val rot = r % 64
          emb.withColumn("vec_id", col("vec_id") + lit(r * stride))
            .withColumn("embedding",
              expr(s"concat(slice(embedding, $rot + 1, 64 - $rot), " +
                s"slice(embedding, 1, $rot))"))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
        d
      }
      settle()
      // RP width from the FULL corpus count — fixed across rebuild and
      // every append leg (the soundness invariant the shipped
      // embAppendTable documents: a delta vector must land in the bucket
      // a full rebuild would give it)
      val bits = DedupOps.embBits(spark, embDir)
      val nbEmb = DedupOps.indexBuckets
      def embAll = spark.read.parquet(s"$embDir/embeddings.parquet")
      def embProj(e: DataFrame): DataFrame = e
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("label"),
          expr("cast(embedding as array<double>)").as("emb"))
        .withColumn("norm", sqrt(expr("vector_dot(emb, emb)")))
        .withColumn("bucket", DedupOps.llmRpBucket(col("emb"), bits))
      val rebuilds = (1 to reps).map { i =>
        val t = time(writeTbl(embProj(embAll), s"mp_emb_full_$i", nbEmb, Seq("bucket")))
        spark.sql(s"DROP TABLE IF EXISTS mp_emb_full_$i")
        graft.util.Scratch.wipeWhere(_ == s"mp_mp_emb_full_$i")
        t
      }
      writeTbl(embProj(embAll), "mp_emb_base", nbEmb, Seq("bucket"))
      val appends = deltas.map { d =>
        val lo = (scale - d) * stride
        val ts = (1 to reps).map { _ =>
          time(appendTbl(embProj(embAll.filter(col("vec_id") >= lo)),
            "mp_emb_base", nbEmb, Seq("bucket")))
        }
        d -> ts
      }
      println(s"""{"metric":"maintain_probe","family":"emb","scale":$scale,""" +
        s""""buckets":$nbEmb,"proj_bits":$bits,"rebuild_sec":${f2(median(rebuilds))},""" +
        s""""rebuild_reps":[${rebuilds.map(f2).mkString(",")}],""" +
        appends.map { case (d, ts) =>
          s""""append_${d}of${scale}_sec":${f2(median(ts))},""" +
            s""""append_${d}of${scale}_reps":[${ts.map(f2).mkString(",")}]"""
        }.mkString(",") + "}")
      spark.sql("DROP TABLE IF EXISTS mp_emb_base")
      graft.util.Scratch.wipeWhere(n => n.startsWith("mp_mp_emb") || n == s"maintain_emb_x$scale")
    }

    if (sections("cc")) {
      // The full verified pair graph of the ×scale corpus, staged to
      // parquet ONCE (untimed — pair generation is the shared upstream of
      // both paths; the probe times only the clustering stage). Replicas
      // are content-disjoint, so the pair graph is the fixture's ×scale.
      val ccDir = graft.util.Scratch.dir(s"maintain_cc_x$scale")
      DedupOps.verifiedPairs(spark, docsDir).select("doc_a", "doc_b")
        .write.mode("overwrite").parquet(s"$ccDir/pairs")
      docs.select("doc_id").write.mode("overwrite").parquet(s"$ccDir/docs")
      DedupOps.clearCaches() // the pair-build persists must not co-tenant the timed loop
      settle()
      def pairs = spark.read.parquet(s"$ccDir/pairs")
      def allDocs = spark.read.parquet(s"$ccDir/docs")
      val nPairs = pairs.count()
      // Probe/op parity gate (round 21, ADVICE r20 #3): this section
      // unconditionally measures the SCALE shape (forced broadcasts), which
      // matches the shipped op only when the corpus sits between
      // ClusterRestrictFloor and ContainBroadcastDocCap. SPARK_GRAFT_
      // MAINTAIN_SCALE is user-settable, so an out-of-range scale must be
      // flagged loudly instead of silently measuring a plan the op would
      // never choose.
      val ccDocCount = allDocs.count()
      if (ccDocCount < DedupOps.ClusterRestrictFloor ||
          ccDocCount >= DedupOps.ContainBroadcastDocCap)
        System.err.println(s"[maintain] WARNING: cc section corpus " +
          s"($ccDocCount docs) is OUTSIDE [ClusterRestrictFloor=" +
          s"${DedupOps.ClusterRestrictFloor}, ContainBroadcastDocCap=" +
          s"${DedupOps.ContainBroadcastDocCap}) — the shipped op would NOT " +
          "use the scale shape measured here; raise SPARK_GRAFT_MAINTAIN_SCALE")

      // from-scratch: CC over the full graph, full doc seed (the daily
      // rebuild a pipeline without stored labels pays) — delta-independent
      val scratch = (1 to reps).map { _ =>
        time(DedupOps.connectedComponents(
          allDocs.select(col("doc_id"), col("doc_id").as("label")),
          pairs).count())
      }

      val incr = deltas.map { d =>
        val lo = (scale - d) * stride
        // stored base labels: CC over the base-only subgraph, staged to
        // parquet untimed — "yesterday's" cluster table
        val basePairs = pairs.filter(col("doc_a") < lo && col("doc_b") < lo)
        val baseSeed = allDocs.filter(col("doc_id") < lo)
          .select(col("doc_id"), col("doc_id").as("label"))
        DedupOps.connectedComponents(baseSeed, basePairs)
          .write.mode("overwrite").parquet(s"$ccDir/base_$d")
        // settle INSIDE the section too: the base-labels write above is
        // corpus-sized, and its background flush bleeds into the timed
        // reps otherwise (observed at ×128: reps growing 7→56→73 s within
        // a section and the slowness carrying into the NEXT section's
        // first rep — the same dirty-page artifact the r19 build probe
        // pinned, recurring one staging level deeper)
        settle()
        val deltaPairCount = pairs
          .filter(col("doc_a") >= lo || col("doc_b") >= lo).count()
        // Probe/op parity, delta-edge side (ADVICE r21): clusterBcast in the
        // shipped op additionally gates every forced broadcast on
        // deltaPairCount <= ClusterBroadcastEdgeCap — a dense delta inside
        // the doc range would make this probe measure forced broadcasts the
        // shipped op would NOT choose. Same loud-warning treatment as the
        // doc-range gate above.
        if (deltaPairCount > DedupOps.ClusterBroadcastEdgeCap)
          System.err.println(s"[maintain] WARNING: cc delta $d/$scale has " +
            s"$deltaPairCount delta pairs > ClusterBroadcastEdgeCap=" +
            s"${DedupOps.ClusterBroadcastEdgeCap} — the shipped op would " +
            "drop to keyed shuffles; this probe's forced broadcasts measure " +
            "a plan the op would not choose at this density")
        val ts = (1 to reps).map { _ =>
          // the shipped llm_dedup_cluster_incremental plan, stored labels
          // from parquet (fresh plan per rep). Round-20 restructure
          // mirrored here for probe/op parity (the ADVICE r19 rule): the
          // stored labels are semi-join-restricted to touched endpoints
          // and every delta-sized side broadcasts — the corpus-sized
          // label table is scanned, never shuffled. Probe corpora sit
          // between ClusterRestrictFloor (≥50k docs → scale shape) and
          // ContainBroadcastDocCap (<25M docs → hints on), so the
          // unconditional scale shape here matches the shipped gates'
          // verdict for every probe scale.
          time {
            val b = spark.read.parquet(s"$ccDir/base_$d")
            val newPairs = pairs.filter(col("doc_a") >= lo || col("doc_b") >= lo)
            val ends = newPairs.select(col("doc_a").as("doc_id"))
              .unionByName(newPairs.select(col("doc_b").as("doc_id")))
              .distinct()
            val bt = b.join(broadcast(ends), Seq("doc_id"), "left_semi")
            val contracted = newPairs
              .join(broadcast(bt.select(col("doc_id").as("doc_a"), col("label").as("rep_a"))),
                Seq("doc_a"), "left")
              .join(broadcast(bt.select(col("doc_id").as("doc_b"), col("label").as("rep_b"))),
                Seq("doc_b"), "left")
              .select(coalesce(col("rep_a"), col("doc_a")).as("doc_a"),
                coalesce(col("rep_b"), col("doc_b")).as("doc_b"))
              .filter(col("doc_a") =!= col("doc_b"))
              // probe/op parity (round 21): the shipped op lazily
              // checkpoints the contracted edges so its three consumers
              // share one materialization — mirror it
              .localCheckpoint(false)
            val deltaDocs = allDocs.filter(col("doc_id") >= lo)
            val touchedSeed = contracted.select(col("doc_a").as("doc_id"))
              .unionByName(contracted.select(col("doc_b").as("doc_id")))
              .distinct()
              .select(col("doc_id"), col("doc_id").as("label"))
            val reduced = DedupOps.connectedComponents(touchedSeed, contracted)
            val baseOut = b
              .join(broadcast(reduced
                .select(col("doc_id").as("label"), col("label").as("cl"))),
                Seq("label"), "left")
              .select(col("doc_id"), coalesce(col("cl"), col("label")).as("cluster_id"))
            val deltaOut = deltaDocs
              .join(broadcast(reduced), Seq("doc_id"), "left")
              .select(col("doc_id"),
                coalesce(col("label"), col("doc_id")).as("cluster_id"))
            baseOut.unionByName(deltaOut).count()
          }
        }
        (d, deltaPairCount, ts)
      }
      println(s"""{"metric":"maintain_probe","family":"cc","scale":$scale,""" +
        s""""n_pairs":$nPairs,"scratch_sec":${f2(median(scratch))},""" +
        s""""scratch_reps":[${scratch.map(f2).mkString(",")}],""" +
        incr.map { case (d, np, ts) =>
          s""""incr_${d}of${scale}_sec":${f2(median(ts))},""" +
            s""""incr_${d}of${scale}_pairs":$np,""" +
            s""""incr_${d}of${scale}_reps":[${ts.map(f2).mkString(",")}]"""
        }.mkString(",") + "}")
      graft.util.Scratch.wipeWhere(_ == s"maintain_cc_x$scale")
    }

    graft.util.Scratch.wipeWhere(_.startsWith("scale_maintain"))
    spark.stop()
  }
}
