package graft.llm

import org.apache.spark.sql.functions._
import graft.QFn
import graft.tables.Tables

/** SURVEY.md §2.10 [north-star] — similarity search over the embeddings
  * table (array<float>, 64-dim).
  *
  * Three paths: brute-force cosine top-k (the exact baseline — O(n) per
  * query, a broadcast of the query vector against a full scan), an LSH
  * variant (random-projection buckets + multi-probe), and an IVF variant
  * (k-means coarse quantizer, probe the nearest cells) — the classic ANN
  * index shapes, each costing O(n · probed-fraction). Dot products are
  * computed with codegen'd higher-order functions (zip_with + aggregate),
  * not UDFs.
  */
object SimilarityOps {

  /** Exact cosine top-20 for query vector vec_id=0: broadcast the query,
    * scan everything once, TakeOrderedAndProject keeps only k rows per
    * partition — no global sort materialization. Norms come precomputed
    * from the persisted embedding index (DedupOps.embIndex). */
  val llmSimilarityTopk: QFn = (spark, sfDir) => {
    val e = DedupOps.embIndex(spark, sfDir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("emb").as("qv"), col("norm").as("qnorm"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        round(DedupOps.dotExpr("emb", "qv") / (col("norm") * col("qnorm")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)
  }

  // ---- Multi-probe budget: probe the query bucket plus every bucket
  // within the LARGEST Hamming radius whose cumulative bucket fraction
  // sum(C(bits,i), i<=r) / 2^bits fits the scan budget
  // max(10%, MinProbeRows/n). Small corpora may scan a big fraction
  // (probing 200 of 500 rows costs nothing), large ones are capped at 10%
  // of buckets ≈ 10% of rows — with DedupOps.projBitsFor's derived width
  // this reproduces the prior fixed policy at the 500-row tiers (radius 2
  // at 6 bits = 22/64 buckets) and tightens as n grows: ~9% of buckets at
  // ×8 (9 bits), ~3% at ×64 (11 bits) — genuinely sublinear scan growth.
  // Mirrored in SQL by radiusSqlDuck: integer binomials and one double
  // compare, so the plan and the oracle cannot disagree.
  private val MinProbeRows = 200L
  private val MaxProbeRadius = 4
  private def binom(b: Int, r: Int): Long = r match {
    case 0 => 1L
    case 1 => b.toLong
    case 2 => b.toLong * (b - 1) / 2
    case 3 => b.toLong * (b - 1) * (b - 2) / 6
    case _ => b.toLong * (b - 1) * (b - 2) * (b - 3) / 24
  }
  private[graft] def probedBuckets(bits: Int, r: Int): Long =
    (0 to r).map(binom(bits, _)).sum
  private[graft] def probeRadiusFor(bits: Int, n: Long): Int = {
    val budget = math.max(0.10, MinProbeRows.toDouble / n)
    (MaxProbeRadius to 0 by -1)
      .find(r => probedBuckets(bits, r).toDouble / math.pow(2.0, bits) <= budget)
      .getOrElse(0)
  }
  private[graft] def radiusSqlDuck(pb: String, nn: String): String = {
    def cum(r: Int): String =
      (0 to r).map {
        case 0 => "1"
        case 1 => pb
        case 2 => s"($pb*($pb-1))/2"
        case 3 => s"($pb*($pb-1)*($pb-2))/6"
        case _ => s"($pb*($pb-1)*($pb-2)*($pb-3))/24"
      }.mkString("(", " + ", ")")
    val budget = s"greatest(0.10, $MinProbeRows.0 / $nn)"
    (MaxProbeRadius to 1 by -1)
      .map(r => s"WHEN CAST(${cum(r)} AS DOUBLE) / pow(2.0, $pb) <= $budget THEN $r")
      .mkString("(CASE ", " ", " ELSE 0 END)")
  }

  /** ANN top-20: assign every vector to a random-projection bucket; probe
    * the query's bucket plus all buckets within the budget-derived Hamming
    * radius (multi-probe LSH — see the probe-budget note above), exact
    * cosine only within probed buckets. At the 500-row tiers this derives
    * radius 2 over 6 bits (the testdata embeddings are near-random: top-20
    * cosine ≈ 0.4 ⇒ ~2 expected sign flips, so the wide radius is what the
    * small corpus both needs and can afford); corpora with genuinely close
    * neighbors keep recall as the budget tightens — AnnScaleSpec plants
    * them and asserts recall ≥ 0.8 at ≤ 10% of buckets at ×8. Recall vs
    * the exact baseline is asserted in SimilaritySpec. */
  val llmSimilarityAnn: QFn = (spark, sfDir) => {
    val e = DedupOps.embIndex(spark, sfDir)
    val n = DedupOps.embCount(spark, sfDir)
    val radius = probeRadiusFor(DedupOps.projBitsFor(n), n)
    val q = e.filter(col("vec_id") === 0)
      .select(col("emb").as("qv"), col("norm").as("qnorm"),
        col("bucket").as("qbucket"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0 &&
        expr("bit_count(bucket ^ qbucket)") <= radius)
      .select(col("vec_id"), col("label"),
        round(DedupOps.dotExpr("emb", "qv") / (col("norm") * col("qnorm")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)
  }

  /** Cap on rows fed to the k-means fit — fixed regardless of corpus size. */
  private val FitSampleRows = 20000L

  // IVF geometry, DERIVED from the corpus count: nlist = sqrt(32n)
  // rounded up to a power of two — 2× finer than the classic sqrt(8n)
  // rule the r7 version used. Round-9 IvfTune measurement (50 queries,
  // 500-row tier) behind the refinement: at the SAME ~43% scanned
  // fraction, 128 cells give recall@20 0.914 vs 64 cells' 0.842 —
  // finer cells rank the scan budget better, for a centroid table that
  // is still metadata-sized (2·sqrt(32n) doubles the k-means fit cost
  // on its bounded sample and the per-query ranking, both negligible).
  // Occupancy ~ sqrt(n/32) still grows as sqrt(n); the 4096 cap (what
  // the bounded fit sample can estimate) is reached at n ≈ 524k instead
  // of 2M — past it, occupancy grows linearly as before. nprobe
  // (43.75% of cells — the r7 fixed-count policy) is retained as the
  // recorded reference point and AnnScaleSpec's report label; the probe
  // CUTOFF itself is now the IvfScanBudget row-budget prefix below.
  private[graft] def ivfGeometry(n: Long): (Int, Int) = {
    val target = math.max(16, math.ceil(math.sqrt(32.0 * n)).toInt)
    val pow2 = if (Integer.bitCount(target) == 1) target
               else Integer.highestOneBit(target) * 2
    val nlist = math.min(4096, pow2)
    val nprobe = math.max(1, math.round(nlist * 28.0 / 64).toInt)
    (nlist, nprobe)
  }

  // Probe budget as a ROW fraction (round 9, VERDICT r8 #5): the probed
  // set is the PREFIX of the cosine-ranked cell list whose cumulative
  // occupancy stays <= 40% of the corpus (always >= 1 cell). Measured
  // against the r7 fixed-28-cells policy on the near-random 500-row
  // fixture (IvfTune, 50 queries): recall@20 0.902 at 39.6% scanned vs
  // 0.842 at 43.3% — recall UP at LESS scan (both knobs moved, geometry
  // above + this cutoff). The row-budget form is also the skew-safe one
  // at 100 TB: a fixed CELL count under a skewed corpus can scan an
  // unbounded fraction (one populous cell blows the budget); a
  // cumulative-occupancy prefix is bounded by construction.
  private[graft] val IvfScanBudget = 0.40

  /** The IVF index, its metadata and the verify-pass scalars this module
    * builds once per (session, sfDir) — see [[graft.util.SessionMemo]]. */
  private val memo = new graft.util.SessionMemo

  /** Release the persisted IVF assignments and forget the cache (companion
    * to [[DedupOps.clearCaches]] for long-lived sessions). */
  def clearCaches(): Unit = memo.clear()

  /** Per-cell occupancy of the IVF index — static index METADATA (nlist
    * rows), computed once per (session, sfDir) and persisted: the probe
    * prefix consumes it per query, and recomputing it would be a full
    * corpus pass per call (review finding, round 9). */
  private[graft] def ivfCellRows(spark: org.apache.spark.sql.SparkSession,
                                 sfDir: String): org.apache.spark.sql.DataFrame =
    memo(spark, sfDir, "ivfCellRows") {
      val (assigned, _) = ivfIndex(spark, sfDir)
      memo.persist(assigned.groupBy("cell").count())
    }

  /** IVF cell assignments, computed once per (session, sfDir): k-means
    * (MLlib, seeded) as the coarse quantizer fit on a BOUNDED SAMPLE (a
    * coarse quantizer needs cluster shape, not every point — at 100 TB the
    * fit must never see the full corpus), then every vector assigned to its
    * nearest centroid cell in one linear pass — the inverted-file index
    * structure. Returns (assignments, centroid table); the centroid table
    * is nlist rows, tiny by construction. */
  private[graft] def ivfIndex(spark: org.apache.spark.sql.SparkSession, sfDir: String) =
    memo(spark, sfDir, "ivfIndex") {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val e = DedupOps.embIndex(spark, sfDir)
        .withColumn("fv", array_to_vector(col("emb")))
      val n = math.max(1L, DedupOps.embCount(spark, sfDir))
      val (nlist, _) = ivfGeometry(n)
      val frac = math.min(1.0, FitSampleRows.toDouble / n)
      val model = new KMeans().setK(nlist).setSeed(42).setMaxIter(10)
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(e.sample(frac, 42))
      val assigned = memo.persist(model.transform(e)
        .select("vec_id", "label", "emb", "norm", "cell"))
      val centers = spark.createDataFrame(
        model.clusterCenters.zipWithIndex.toIndexedSeq
          .map { case (c, i) => (i, c.toArray) })
        .toDF("cell", "centroid")
      (assigned, centers)
    }

  /** IVF ANN top-20: probe the cosine-ranked cells within the 40%
    * row-budget prefix (128 cells at the 500-row tiers → recall@20 ≈ 0.90
    * at ~40% scanned; see the ivfGeometry + IvfScanBudget notes), exact
    * cosine within probed cells. Cell ranking and the query vector both
    * flow through the plan (broadcast of 1-row query × nlist-row centroid
    * table → budget-prefix cells → semi-join on cell) — no driver
    * collect, no literal query array in the SQL. Recall vs the exact
    * baseline asserted in SimilaritySpec. */
  /** The probed cells for the vec_id-0 query: cells ranked by COSINE to
    * the query (not euclidean distance — the quantizer must use the
    * search metric: euclidean ranking favors populous cells, measured at
    * +45% scanned corpus), then cut by the [[IvfScanBudget]] row-budget
    * prefix: a window cumsum over the (nlist-row, metadata-sized) ranked
    * cell list joined to per-cell occupancy, kept while cumulative rows
    * <= budget·n. The single-partition window is over <= 4096 rows by
    * construction — never fact data. Shared with AnnScaleSpec, which
    * counts the rows these cells hold (the true scanned fraction). */
  private[graft] def ivfProbedCells(spark: org.apache.spark.sql.SparkSession,
                                    sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (assigned, centers) = ivfIndex(spark, sfDir)
    val n = math.max(1L, DedupOps.embCount(spark, sfDir))
    val cellRows = ivfCellRows(spark, sfDir)
    val q = assigned.filter(col("vec_id") === 0)
      .select(col("emb").as("qv"), col("norm").as("qnorm"))
    // the "No Partition Defined" WARN this logs is accurate and accepted:
    // the single partition holds the <=4096-row cell frame, never vectors
    val w = Window.orderBy(col("csim").desc, col("cell"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    centers.crossJoin(broadcast(q))
      .select(col("cell"),
        (expr("vector_dot(centroid, qv)") /
          (sqrt(expr("vector_dot(centroid, centroid)")) * col("qnorm"))).as("csim"))
      .join(cellRows, Seq("cell"), "left")
      .withColumn("cum", sum(coalesce(col("count"), lit(0L))).over(w))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("csim").desc, col("cell"))))
      // prefix: cumsum is monotone, so this keeps the top-ranked cells
      // whose cumulative occupancy fits the budget; rn=1 guards the
      // at-least-one-cell floor when the best cell alone exceeds it
      .filter(col("rn") === 1 || col("cum") <= lit(IvfScanBudget * n))
      .select("cell")
  }

  val llmSimilarityIvf: QFn = (spark, sfDir) => {
    val (assigned, _) = ivfIndex(spark, sfDir)
    val q = assigned.filter(col("vec_id") === 0)
      .select(col("emb").as("qv"), col("norm").as("qnorm"))
    val probedCells = ivfProbedCells(spark, sfDir)
    assigned
      .join(broadcast(probedCells), Seq("cell"), "left_semi")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(DedupOps.dotExpr("emb", "qv") / (col("norm") * col("qnorm")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)
  }

  /** Batch k-NN join — the real similarity-search workload shape: a query
    * SET (here: label-0 vectors) against the whole corpus, top-5 neighbors
    * each. Broadcast the query set, one corpus scan, per-query ranking via a
    * qid-partitioned window (partial top-k per partition, no global sort).
    * Exact (not ANN) so the DuckDB oracle can replay it; the ANN variant of
    * the same join swaps in the bucket prefilter of llm_similarity_ann. */
  val llmSimilarityKnnJoin: QFn = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val e = DedupOps.embIndex(spark, sfDir)
    val queries = e.filter(col("label") === 0 && col("vec_id") < 200)
      .select(col("vec_id").as("qid"), col("emb").as("qv"), col("norm").as("qnorm"))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("label"),
        round(DedupOps.dotExpr("emb", "qv") / (col("norm") * col("qnorm")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("qid", "rank")
  }

  /** Batch ANN k-NN join — the SCALE form of [[llmSimilarityKnnJoin]]:
    * each query probes only the RP buckets within the derived Hamming
    * radius of its own bucket, so the q×n cross join becomes a bucket
    * EQUI-join. The probe set is enumerated as XOR masks of weight ≤
    * radius (C(bits, ≤r) masks — 22 of 64 buckets at the 500-row tier,
    * ~3k of 2^24 at a 10⁹-vector corpus: a 5000× candidate cut), exploded
    * onto the broadcast query side; the corpus side never shuffles, and
    * against the bucketed [[DedupOps.embTable]] layout the join co-locates
    * with the stored files. Exact cosine + top-5 per query within probed
    * buckets; the DuckDB oracle replays the same bucket/radius derivations
    * (embIndexSqlDuck / radiusSqlDuck), so this is a full-oracle operator,
    * not a recall-bounded one — recall vs the exact join is additionally
    * pinned in SimilaritySpec. */
  val llmSimilarityKnnJoinAnn: QFn = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val e = DedupOps.embIndex(spark, sfDir)
    val n = math.max(1L, DedupOps.embCount(spark, sfDir))
    val bits = DedupOps.projBitsFor(n)
    val radius = probeRadiusFor(bits, n)
    val masks: Seq[Int] = (0 to radius).flatMap(r =>
      (0 until bits).combinations(r).map(_.foldLeft(0)((a, b) => a | (1 << b))))
    val probes = e.filter(col("label") === 0 && col("vec_id") < 200)
      .select(col("vec_id").as("qid"), col("emb").as("qv"),
        col("norm").as("qnorm"), col("bucket").as("qbucket"))
      .withColumn("m", explode(array(masks.map(lit): _*)))
      .withColumn("bucket", col("qbucket").bitwiseXOR(col("m")))
      .drop("m", "qbucket")
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    e.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("label"),
        round(DedupOps.dotExpr("emb", "qv") / (col("norm") * col("qnorm")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("qid", "rank")
  }

  /** Per-label embedding centroids via the native vector_avg aggregate
    * (graft.functions.VectorAvg): one (dim+1)-wide buffer per (group,
    * partition) crosses the shuffle — map-side combine over vectors, the
    * shape that stays linear at 100 TB (the explode-and-regroup spelling
    * shuffles dim× more rows). The result is exploded to one
    * (label, dim, value) row per centroid element — array-typed result
    * columns are unhashable for the driver's pandas-based comparator, and
    * the explode happens AFTER the aggregate, on nlabels×dim rows, so the
    * map-side-combine shape is unchanged. Values rounded so the
    * order-dependent last-bits of float summation can't flip the hash. */
  val llmEmbeddingCentroid: QFn = (spark, sfDir) => {
    val e = DedupOps.embIndex(spark, sfDir)
    e.groupBy("label")
      .agg(count(lit(1)).as("n_vectors"), expr("vector_avg(emb)").as("c"))
      .select(col("label"), col("n_vectors"), posexplode(col("c")))
      .select(col("label"), col("n_vectors"), col("pos").cast("int").as("dim"),
        round(col("col"), 6).as("value"))
      .orderBy("label", "dim")
  }

  /** kNN classification on top of the batch kNN join: each query vector is
    * labeled by the majority label of its top-5 exact-cosine neighbors
    * (ties → higher best similarity, then lower label). The expensive part
    * is the kNN join (one corpus scan); the vote is an nqueries×nlabels
    * aggregate — free at any scale. */
  val llmKnnClassify: QFn = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val votes = llmSimilarityKnnJoin(spark, sfDir)
      .groupBy("qid", "label")
      .agg(count(lit(1)).as("votes"), max(col("sim")).as("best_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("votes").desc, col("best_sim").desc, col("label"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
      .orderBy("qid")
  }

  /** Int8 scalar quantization of the embedding corpus — the storage/IO
    * step a 100 TB vector store runs before anything else (float32→int8
    * quarters the bytes every downstream scan pays). Symmetric per-vector
    * scaling: scale = 127/max|x|, q_i = round(x_i·scale), so the
    * reconstruction error is bounded by 0.5/scale per dimension — emitted
    * as max_err so a pipeline can gate on quantization loss. Stateless
    * per-row HOF arithmetic: no shuffle, no UDFs, linear at any corpus
    * size. Scalar outputs only (checksum + saturation count stand in for
    * the int8 array, which the verify comparator can't hash). An all-zero
    * vector (a real corpus has them: failed encodes) gets scale 0 and
    * zeros everywhere — unguarded, 127/0 = Inf and the ANSI BIGINT cast of
    * round(0·Inf) = NaN kills the whole job. */
  /** Embedding hygiene — the norm gate an embedding pipeline runs before
    * any similarity stage (a zero vector makes cosine undefined; an
    * un-normalized batch from a mis-configured encoder poisons every
    * dot-product ranking downstream): per-vector L2 norm via the native
    * codegen'd vector_dot (one pass, no HOF boxing) + the keep flag for
    * the 0.5-2.0 sanity band. Stateless per-row — no shuffle, linear at
    * any corpus size. Float→double widening is exact and both engines
    * sum in array order, so the full oracle hash-matches the rounded
    * norms. */
  val llmEmbeddingNormFilter: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "embeddings")
      .withColumn("l2_norm", round(sqrt(expr("vector_dot(embedding, embedding)")), 4))
      .select(col("vec_id"), col("label"), col("l2_norm"),
        (col("l2_norm").between(0.5, 2.0) && !isnan(col("l2_norm")))
          .as("keep"))
      .orderBy("vec_id")

  val llmEmbeddingQuantize: QFn = (spark, sfDir) => {
    Tables(spark, sfDir, "embeddings")
      .withColumn("max_abs",
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))"))
      .withColumn("scale",
        when(col("max_abs") === 0.0, 0.0).otherwise(lit(127.0) / col("max_abs")))
      .select(col("vec_id"), col("label"),
        round(col("scale"), 6).as("scale_q"),
        expr("aggregate(embedding, 0L, (s, x) -> s + CAST(round(CAST(x AS DOUBLE) * scale, 0) AS BIGINT))")
          .as("sum_q"),
        expr("size(filter(embedding, x -> abs(CAST(round(CAST(x AS DOUBLE) * scale, 0) AS BIGINT)) = 127))")
          .as("n_sat"),
        when(col("scale") === 0.0, 0.0)
          .otherwise(round(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), " +
            "(m, x) -> greatest(m, abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) * scale, 0) / scale)))"), 6))
          .as("max_err"))
      .orderBy("vec_id")
  }

  /** Deterministic distributed k-means over the embedding corpus — the
    * clustering step a curation pipeline runs before mixture balancing or
    * SemDeDup-style pruning (cluster first, act within clusters). Lloyd's
    * algorithm, Spark-shaped: per iteration ONE corpus pass — centroids
    * ride into the scan as literals (a k×dim broadcast, no join), each row
    * picks argmin ‖v−c‖² via the native vector_dot inside a k-element HOF
    * (‖v‖² is constant per row, so the comparison key is ‖c‖² − 2·v·c),
    * and the update is a k-group map-side-combined aggregate whose shuffle
    * carries k×(dim+1) values per map task. Unlike MLlib's KMeans (used to
    * train the IVF cells, where geometry is all that matters), every step
    * here is partitioning-INVARIANT: centroid updates accumulate through
    * the exact integer vector_sumq (micro-unit quantized), per-row
    * distances quantized to integer micro-units before the sum, argmin
    * ties break to the lowest cell index, dominant-label ties to the
    * lowest label — the same corpus on 4 or 400 executors yields the SAME
    * clusters bit-for-bit (DeterminismSpec pins it). Seeds: the k
    * lowest-vec_id vectors (a k-row driver collect of index metadata, not
    * data). KMeansSpec pins assignment-consistency (each vector sits in
    * its nearest final centroid's cell) and monotone non-increasing
    * quantized inertia across iterations. */
  val llmClusterKmeans: QFn = (spark, sfDir) => {
    val k = 8
    val iters = 4
    val e = DedupOps.embIndex(spark, sfDir)
    val seed = e.orderBy("vec_id").limit(k)
      .select("emb").collect().map(_.getSeq[Double](0).toArray)
    var cents = seed
    var assigned: org.apache.spark.sql.DataFrame = null
    for (_ <- 1 to iters) {
      assigned = assignCells(e, cents)
      val upd = assigned.groupBy("cell")
        .agg(expr("vector_sumq(emb)").as("s"), count(lit(1)).as("n"))
        .collect().map { r =>
          val s = r.getSeq[Long](1)
          r.getInt(0) -> s.map(_ / 1e6 / r.getLong(2)).toArray
        }.toMap
      // an emptied cell keeps its previous centroid (deterministic; no
      // reseeding randomness)
      cents = Array.tabulate(k)(i => upd.getOrElse(i, cents(i)))
    }
    // report against the FINAL centroids (the loop's last `assigned` is
    // one update behind them)
    assigned = assignCells(e, cents)
    val byCell = assigned
      .withColumn("dist_q", expr("CAST(floor(dist2 * 1e6 + 0.5) AS BIGINT)"))
      .groupBy("cell", "label").agg(count(lit(1)).as("nl"),
        sum(col("dist_q")).as("dq"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cell")
      .orderBy(col("nl").desc, col("label"))
    byCell
      .withColumn("rn", row_number().over(w))
      .groupBy("cell")
      .agg(sum(col("nl")).as("n_vecs"),
        max(when(col("rn") === 1, col("label"))).as("dom_label"),
        round(sum(col("dq")).cast("double") / 1e6 / sum(col("nl")), 4)
          .as("avg_dist2"))
      .orderBy("cell")
  }

  /** KMeansSpec's window into the per-iteration state. */
  private[graft] def assignCellsForTest(e: org.apache.spark.sql.DataFrame,
      cents: Array[Array[Double]]): org.apache.spark.sql.DataFrame =
    assignCells(e, cents)

  /** One Lloyd assignment pass: centroids ride into the scan as ONE
    * array-typed literal each (`typedLit`), not k×dim CreateArray nodes —
    * round 21: the per-iteration plans then differ only in the literal's
    * VALUE, so whole-stage codegen compiles the assignment class once and
    * every later iteration is a codegen-cache hit (the k×dim literal tree
    * forced a fresh ~512-node analysis + compile per iteration, the
    * dominant cost of this op at fixture scale — guide §1.2 "per-task
    * work" applied to the driver). Same arithmetic, same values: argmin
    * of ‖c‖²−2·v·c (ties → lowest index), plus the full ‖v−c‖² for
    * inertia reporting. */
  private def assignCells(e: org.apache.spark.sql.DataFrame,
      cents: Array[Array[Double]]): org.apache.spark.sql.DataFrame = {
    val centsCol = typedLit(cents.map(_.toSeq).toSeq)
    val cnorms = typedLit(cents.map(c => c.map(x => x * x).sum).toSeq)
    e.withColumn("cents", centsCol).withColumn("cnorms", cnorms)
      .withColumn("keys", expr(
        "zip_with(cnorms, transform(cents, c -> vector_dot(emb, c)), " +
          "(q, d) -> q - 2 * d)"))
      .withColumn("cell",
        (expr("array_position(keys, array_min(keys))") - 1).cast("int"))
      .withColumn("vnorm", expr("vector_dot(emb, emb)"))
      .withColumn("dist2", expr("vnorm + keys[cell]"))
      .drop("cents", "cnorms", "keys", "vnorm")
  }

  // -----------------------------------------------------------------------
  // Weak-form oracles (round 15) — verification frames Verify dumps in
  // place of the raw outputs (Bench still times the production plans).
  // -----------------------------------------------------------------------

  /** IVF-recall scalar (|IVF top-20 ∩ exact top-20|), computed once per
    * (session, sfDir) — shared by the verify frame and approxDeltas so
    * the exact scan + probe never run twice in one Verify pass. */
  private def ivfFoundOf20(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Long =
    memo(spark, sfDir, "ivfFoundOf20") {
      llmSimilarityTopk(spark, sfDir)
        .join(llmSimilarityIvf(spark, sfDir).select("vec_id"),
          Seq("vec_id"), "left_semi").count()
    }

  /** IVF verification frame: single row with k and the 20th exact cosine
    * (both DuckDB-replayed via the llm_similarity_topk machinery) plus a
    * recall bound — the IVF probe must recover ≥15 of the exact top-20
    * (measured: 19/17/18 across tiers; IvfTune's 50-query recall@20 is
    * 0.902, and returned sims are exact cosines by construction, so
    * recall IS the operator's entire approximation). */
  private val ivfVerifyFrame: QFn = (spark, sfDir) => {
    val recallOk = ivfFoundOf20(spark, sfDir) >= 15
    llmSimilarityTopk(spark, sfDir)
      .agg(count(lit(1)).as("k"), min(col("sim")).as("sim20_exact"))
      .select(col("k"), col("sim20_exact"), lit(recallOk).as("recall_ok"))
  }

  /** K-means summary (n_vectors, n_cells, clustered inertia, k=1
    * global-mean inertia), computed once per (session, sfDir): the
    * 4-iteration Lloyd loop is the expensive part and is NOT otherwise
    * cached, so the verify frame and approxDeltas share this instead of
    * each re-running it (review, round 15). */
  private def kmeansStats(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (Long, Long, Double, Double) =
    memo(spark, sfDir, "kmeansStats") {
      val cells = llmClusterKmeans(spark, sfDir).collect() // <= k rows
      val n = cells.map(_.getAs[Long]("n_vecs")).sum
      val inertia = cells
        .map(r => r.getAs[Long]("n_vecs") * r.getAs[Double]("avg_dist2")).sum
      val dims = DedupOps.embIndex(spark, sfDir)
        .select(posexplode(col("emb")).as(Seq("dim", "v")))
      val mu = dims.groupBy("dim").agg(avg(col("v")).as("mu"))
      val gi = dims.join(broadcast(mu), Seq("dim"))
        .agg(sum(pow(col("v") - col("mu"), 2))).head.getDouble(0)
      (n, cells.length.toLong, inertia, gi)
    }

  /** K-means verification frame: total assigned vectors hash-match the
    * corpus count (coverage — every vector lands in exactly one cell),
    * the cell count is bounded by (0, k] rather than pinned equal to k
    * (the trainer's emptied-cell branch legitimately yields fewer
    * non-empty cells on some corpora — review, round 15), and the
    * clustered inertia Σ n·avg_dist2 must beat the k=1 baseline (total
    * squared distance to the global mean — measured ratio 0.93-0.95
    * across tiers; Lloyd's with k=8 losing to a single centroid would
    * mean the update loop is broken). */
  private val kmeansVerifyFrame: QFn = (spark, sfDir) => {
    import spark.implicits._
    val (n, cells, inertia, gi) = kmeansStats(spark, sfDir)
    Seq((n, cells >= 1 && cells <= 8, inertia < gi))
      .toDF("n_vectors", "cells_ok", "inertia_ok")
  }

  val verifyQueries: Map[String, QFn] = Map(
    "llm_similarity_ivf" -> ivfVerifyFrame,
    "llm_cluster_kmeans" -> kmeansVerifyFrame)

  /** approx_deltas.json evidence for the two frames above: IVF recall
    * (found-of-20) and k-means inertia vs the k=1 global baseline —
    * read from the same cached scalars the frames use. */
  def approxDeltas(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      ops: Set[String]): Seq[(String, String, String, Double, Double)] = {
    val ivf = if (!ops("llm_similarity_ivf")) Nil
      else Seq(("llm_similarity_ivf", "vec0", "recall_found_of_20",
        ivfFoundOf20(spark, sfDir).toDouble, 20.0))
    val km = if (!ops("llm_cluster_kmeans")) Nil
      else {
        val (_, _, inertia, gi) = kmeansStats(spark, sfDir)
        Seq(("llm_cluster_kmeans", "all", "inertia_vs_k1", inertia, gi))
      }
    ivf ++ km
  }

  val queries: Map[String, QFn] = Map(
    "llm_cluster_kmeans" -> llmClusterKmeans,
    "llm_embedding_quantize" -> llmEmbeddingQuantize,
    "llm_embedding_norm_filter" -> llmEmbeddingNormFilter,
    "llm_embedding_centroid" -> llmEmbeddingCentroid,
    "llm_knn_classify" -> llmKnnClassify,
    "llm_similarity_topk" -> llmSimilarityTopk,
    "llm_similarity_ann" -> llmSimilarityAnn,
    "llm_similarity_ivf" -> llmSimilarityIvf,
    "llm_similarity_knn_join" -> llmSimilarityKnnJoin,
    "llm_similarity_knn_join_ann" -> llmSimilarityKnnJoinAnn,
  )

  private val cosineSql: String =
    "ROUND(list_sum(list_transform(list_zip(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])), p -> p[1] * p[2])) / " +
      "(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) * " +
      "sqrt(list_sum(list_transform(CAST(qv AS DOUBLE[]), x -> x * x)))), 6)"

  val oracleSql: Map[String, String] = Map(
    "llm_embedding_norm_filter" ->
      ("WITH n AS (SELECT vec_id, label, " +
        "ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 4) AS l2_norm " +
        "FROM embeddings) " +
        "SELECT vec_id, label, l2_norm, " +
        "(l2_norm BETWEEN 0.5 AND 2.0 AND NOT isnan(l2_norm)) AS keep " +
        "FROM n ORDER BY vec_id"),
    "llm_embedding_quantize" ->
      ("WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "m AS (SELECT vec_id, label, emb, list_max(list_transform(emb, x -> abs(x))) AS max_abs FROM e), " +
        "s AS (SELECT vec_id, label, emb, " +
        "CASE WHEN max_abs = 0 THEN 0.0 ELSE 127.0 / max_abs END AS scale FROM m) " +
        "SELECT vec_id, label, ROUND(scale, 6) AS scale_q, " +
        "CAST(list_sum(list_transform(emb, x -> CAST(round(x * scale, 0) AS BIGINT))) AS BIGINT) AS sum_q, " +
        "CAST(len(list_filter(emb, x -> abs(CAST(round(x * scale, 0) AS BIGINT)) = 127)) AS INT) AS n_sat, " +
        "CASE WHEN scale = 0 THEN 0.0 ELSE " +
        "ROUND(list_max(list_transform(emb, x -> abs(x - round(x * scale, 0) / scale))), 6) END AS max_err " +
        "FROM s ORDER BY vec_id"),
    // independent spelling: per-dimension avg via an unnested index range
    // (this DuckDB lacks WITH ORDINALITY); one row per (label, dim) to
    // keep every result column scalar/hashable for the driver comparator
    "llm_embedding_centroid" ->
      ("WITH u AS (SELECT label, CAST(idx AS INT) - 1 AS dim, emb[idx] AS e FROM " +
        "(SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "unnest(range(1, len(emb) + 1)) AS t(idx)) " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vectors, dim, " +
        "ROUND(avg(e), 6) AS value FROM u GROUP BY label, dim " +
        "ORDER BY label, dim"),
    "llm_similarity_topk" ->
      ("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) " +
        s"SELECT vec_id, label, $cosineSql AS sim FROM embeddings, q " +
        "WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 20"),
    // llm_similarity_ann IS replayable: the RP projections are seeded
    // literals, so the bucket bit-sum is plain SQL (rendered from the same
    // array — DedupOps.bucketSqlDuck), and the adaptive width/radius are
    // integer derivations from count(*) that the SQL replays verbatim
    // (projBitsSqlDuck / radiusSqlDuck); recall vs exact is additionally
    // asserted in SimilaritySpec.
    "llm_similarity_ann" ->
      (s"WITH e AS (${DedupOps.embIndexSqlDuck}), " +
        "q AS (SELECT emb AS qv, norm AS qnorm, bucket AS qbucket, pb AS qpb, nn AS qnn FROM e WHERE vec_id = 0) " +
        "SELECT vec_id, label, " +
        "ROUND(list_sum(list_transform(list_zip(emb, qv), p -> p[1] * p[2])) / (norm * qnorm), 6) AS sim " +
        "FROM e, q WHERE vec_id <> 0 AND bit_count(xor(CAST(bucket AS BIGINT), CAST(qbucket AS BIGINT))) <= " +
        radiusSqlDuck("qpb", "qnn") + " " +
        "ORDER BY sim DESC, vec_id LIMIT 20"),
    "llm_similarity_knn_join" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE label = 0 AND vec_id < 200) " +
        s"SELECT qid, vec_id, label, $cosineSql AS sim, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY " + cosineSql + " DESC, vec_id) AS INT) AS rank " +
        "FROM embeddings, q WHERE vec_id <> qid " +
        "QUALIFY rank <= 5 ORDER BY qid, rank"),
    // the ANN batch join replays the SAME derived bucket/radius chains as
    // llm_similarity_ann, per query; ranking on the rounded sim exactly as
    // the Spark window does
    "llm_similarity_knn_join_ann" ->
      (s"WITH e AS (${DedupOps.embIndexSqlDuck}), " +
        "q AS (SELECT vec_id AS qid, emb AS qv, norm AS qnorm, bucket AS qbucket, pb AS qpb, nn AS qnn " +
        "FROM e WHERE label = 0 AND vec_id < 200), " +
        "s AS (SELECT qid, vec_id, label, " +
        "ROUND(list_sum(list_transform(list_zip(emb, qv), p -> p[1] * p[2])) / (norm * qnorm), 6) AS sim " +
        "FROM e, q WHERE vec_id <> qid AND " +
        "bit_count(xor(CAST(bucket AS BIGINT), CAST(qbucket AS BIGINT))) <= " +
        radiusSqlDuck("qpb", "qnn") + ") " +
        "SELECT qid, vec_id, label, sim, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY rank <= 5 ORDER BY qid, rank"),
    // same top-5 CTE as llm_similarity_knn_join, then the majority vote
    "llm_knn_classify" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE label = 0 AND vec_id < 200), " +
        s"k AS (SELECT qid, vec_id, label, $cosineSql AS sim, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY " + cosineSql + " DESC, vec_id) AS INT) AS rank " +
        "FROM embeddings, q WHERE vec_id <> qid QUALIFY rank <= 5), " +
        "v AS (SELECT qid, label, count(*) AS votes, max(sim) AS best_sim FROM k GROUP BY 1, 2) " +
        "SELECT qid, label AS pred_label, votes FROM v " +
        "QUALIFY row_number() OVER (PARTITION BY qid ORDER BY votes DESC, best_sim DESC, label) = 1 " +
        "ORDER BY qid"),
    // weak-form oracles (round 15): these keys' Verify dumps are the
    // verification frames above. IVF: the 20th exact cosine replays the
    // llm_similarity_topk machinery; recall bound pinned TRUE.
    "llm_similarity_ivf" ->
      ("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
        s"t AS (SELECT $cosineSql AS sim, vec_id FROM embeddings, q " +
        "WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 20) " +
        "SELECT CAST(count(*) AS BIGINT) AS k, min(sim) AS sim20_exact, " +
        "TRUE AS recall_ok FROM t"),
    // cell count is bounded, not pinned: the trainer's emptied-cell
    // branch legitimately yields fewer than k non-empty cells
    "llm_cluster_kmeans" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_vectors, " +
        "TRUE AS cells_ok, TRUE AS inertia_ok FROM embeddings"),
  )
}
