package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the properties that decide 100 TB behavior
  * (SURVEY.md §4): dimension joins broadcast, scans prune columns and
  * partitions, predicates reach the parquet reader, hot paths stay inside
  * whole-stage codegen. A regression here is a silent 100× at scale even
  * when results stay correct. */
class PlanSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("customer⋈orders broadcasts the dimension side") {
    val p = plan(graft.analytics.Queries.joinInnerCustomerOrders(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), "dimension join must not sort-merge")
  }

  test("column pruning reaches the parquet scan") {
    val p = plan(graft.etl.Ingest.scanParquet(spark, sfDir))
    // 4 selected columns of 11 — ReadSchema must not include the rest
    assert(p.contains("l_quantity") && !p.contains("l_extendedprice"),
      s"scan must read only selected columns:\n$p")
  }

  test("predicate pushdown reaches the parquet scan") {
    val df = graft.tables.Tables(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "F")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"filter must be pushed to the reader:\n$p")
  }

  test("partition pruning on the partitioned-write read-back") {
    val dir = graft.util.Scratch.dir("plan_partition_pruning")
    graft.tables.Tables(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .repartition(col("o_year"))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("o_year") === 1998)
    val p = plan(df)
    assert(p.contains("PartitionFilters") && p.contains("o_year"),
      s"partition filter missing:\n$p")
    // pruned scan carries the equality predicate (attr ids vary: o_year#NN)
    val scanned = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert("""\(o_year#\d+ = 1998\)""".r.findFirstIn(scanned).isDefined,
      s"partition predicate not applied at scan:\n$scanned")
  }

  test("aggregation runs inside whole-stage codegen") {
    val df = graft.analytics.Queries.aggFunnelCounts(spark, sfDir)
    df.collect() // AQE: codegen spans only exist in the finalized plan
    val p = plan(df)
    // "*(n)" prefixes mark WholeStageCodegen spans in the compact tree form
    assert(p.contains("*(1) HashAggregate") || p.contains("*(2) HashAggregate"),
      s"hash aggregate fell out of codegen:\n$p")
  }

  test("events ns-timestamp rewrite does not block filter pushdown") {
    // Tables() rewrites events.ts (parquet ns → micros) via a projection;
    // a filter on an untouched column must still reach the reader.
    val df = graft.tables.Tables(spark, sfDir, "events")
      .filter(col("event_type") === "view")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)]"),
      s"event_type filter must push through the ts projection:\n$p")
  }

  test("jdbc extract scans a real JDBCRelation with the predicate pushed into the database") {
    val df = graft.etl.Ingest.scanJdbcExport(spark, sfDir)
    val p = plan(df)
    assert(p.contains("JDBCRelation(ORDERS)"),
      s"expected a real JDBC scan (Derby fallback must not trigger here):\n$p")
    assert(p.contains("numPartitions=4"), s"JDBC read must be range-partitioned:\n$p")
    // the WHERE must reach the database as a pushed filter (the reference
    // pushes its extract predicate into RDS the same way); the '*' prefix
    // marks a filter the database itself evaluates, so Spark never sees
    // the rows it excludes
    assert(p.contains("PushedFilters:"),
      s"JDBC scan must report pushed filters:\n$p")
    assert(p.contains("*GreaterThanOrEqual(o_totalprice,0.0)"),
      s"price predicate must be pushed into the database:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"CUSTOMER dim must broadcast:\n$p")
  }

  test("CBO star query: stats-driven reorder kills the syntactic cross join, dims broadcast") {
    val df = graft.analytics.Queries.aggSalesByCategoryStar(spark, sfDir)
    // ANALYZE-time stats must be visible to the cost model: every leaf
    // relation carries a rowCount (not just sizeInBytes)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty &&
      leaves.forall(_.stats.rowCount.isDefined),
      s"CBO needs ANALYZE row counts on every star table:\n${leaves.map(_.stats)}")
    df.collect() // AQE: broadcast decisions finalize at execution
    val p = plan(df)
    // the SQL's syntactic order starts customer⋈part — conditionless, a
    // cross join. Only the stats-driven reorder removes it.
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"join reorder must eliminate the syntactic cross join:\n$p")
    // both dimensions hash in as broadcasts against the fact chain
    assert("(?s)BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"customer and part must both broadcast:\n$p")
  }

  test("bucketed fact⋈fact join runs with zero hash exchanges") {
    val df = graft.etl.Bucketing.sinkBucketedColocated(spark, sfDir)
    df.collect() // AQE: final plan only exists after execution
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
    // bucket co-location must eliminate every shuffle below the join AND
    // under the aggregation (partitioning on o_orderkey satisfies the
    // (o_orderkey, o_orderstatus) grouping); only the final presentation
    // orderBy may range-exchange
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$p")
    assert(p.contains("Bucketed: true"), s"scan must report bucketed reads:\n$p")
  }

  test("salted skew join sort-merges on (key, salt) — broadcast must not hide the spread") {
    val df = graft.analytics.Advanced.joinSkewSalted(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), s"merge hint must hold:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"broadcast would collapse the salt spread:\n$p")
    assert("hashpartitioning\\((user_id|c_custkey)#\\d+L?, salt#".r.findFirstIn(p).isDefined,
      s"join must shuffle on (key, salt), not key alone:\n$p")
  }

  test("AQE splits the planted hot key: final adaptive plan runs a skew sort-merge join") {
    val df = graft.analytics.Advanced.joinSkewAqe(spark, sfDir)
    df.collect() // AQE: skew handling only exists in the finalized plan
    val p = plan(df)
    assert(p.contains("isFinalPlan=true"), s"expected a finalized adaptive plan:\n$p")
    // SortMergeJoinExec renders as "SortMergeJoin(skew=true)" once
    // OptimizeSkewedJoin has replaced the oversized partition with splits
    assert(p.contains("skew=true"), s"hot partition was not skew-split:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"broadcast would bypass the skewed shuffle entirely:\n$p")
  }

  test("grouping sets plan one Expand + hash aggregate, not a union of scans") {
    val df = graft.analytics.Advanced.aggGroupingSets(spark, sfDir)
    val p = plan(df)
    assert("(?s)Expand".r.findAllIn(p).size == 1, s"expected one Expand:\n$p")
    assert(!p.contains("Union"), s"grouping sets must not union scans:\n$p")
  }

  test("as-of join plans as union+window — no join node, one hash shuffle") {
    val df = graft.analytics.Temporal.joinAsofPurchase(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"), s"as-of must not plan a join node:\n$p")
    // one full-data shuffle for the carry-forward window, plus one
    // purchases-only (user_id, ts) shuffle for the timestamp-tie dedup
    val userOnly = "hashpartitioning\\(user_id#\\d+L?, \\d".r.findAllIn(p).size
    val userTs = "hashpartitioning\\(user_id#\\d+L?, ts#".r.findAllIn(p).size
    assert(userOnly == 1 && userTs == 1,
      s"expected 1 full user_id shuffle + 1 purchase-dedup shuffle, got $userOnly/$userTs:\n$p")
  }

  test("range join broadcasts the bounded band table") {
    val p = plan(graft.analytics.Temporal.joinRangeBands(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bounded-dim range join should be a broadcast nested loop:\n$p")
  }

  test("sessionize reuses one user_id shuffle across windows and aggregate") {
    val p = plan(graft.analytics.Temporal.windowSessionize(spark, sfDir))
    val shuffles = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly one user_id shuffle, got $shuffles:\n$p")
  }

  test("native session_window sessionizes over one user_id shuffle") {
    val p = plan(graft.analytics.Temporal.windowSessionNative(spark, sfDir))
    val shuffles = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly one user_id shuffle, got $shuffles:\n$p")
  }

  test("decile assignment has no single-partition sort/window — boundaries broadcast back") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    // AQE off so the executed plan is a plain traversable tree (the shape
    // assertion is about the static plan, not runtime re-optimization)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.analytics.Advanced.windowNtileDecile(spark, sfDir)
      val root = df.queryExecution.executedPlan
      assert(root.collect { case w: WindowExec => w }.isEmpty,
        s"global-rank window must be gone:\n$root")
      // the ONLY SinglePartition exchange allowed is the percentile
      // boundary aggregate (partial buffers, 9 doubles) — never fact rows
      val rowFunnels = root.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning == SinglePartition &&
            !e.child.isInstanceOf[BaseAggregateExec] => e
      }
      assert(rowFunnels.isEmpty,
        s"row data must not funnel through one partition:\n$root")
      assert(root.toString.contains("BroadcastNestedLoopJoin"),
        s"boundary array must broadcast back:\n$root")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("bucketed table prunes buckets on an equality key filter") {
    // sink_bucketed_colocated leaves orders_bkt_* registered; an equality
    // predicate on the bucket key must scan 1 of 8 buckets, not the table
    graft.etl.Bucketing.sinkBucketedColocated(spark, sfDir).count()
    val suffix = graft.util.Scratch.pathTag(sfDir)
    // autoBucketedScan "helpfully" falls back to a plain scan when no join
    // consumes the bucketing — which also discards bucket PRUNING; a real
    // point lookup on a bucketed fact wants it off
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val df = spark.table(s"orders_bkt_$suffix").filter(col("o_orderkey") === 42L)
      val p = plan(df)
      assert(p.contains("SelectedBucketsCount: 1 out of 8"),
        s"equality on the bucket key must prune to one bucket:\n$p")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("indexed decontamination consumes the bucketed gram table with no exchange on g") {
    val df = graft.llm.DedupOps.llmDecontaminateIndexed(spark, sfDir)
    df.collect() // AQE: final plan only exists after execution
    val p = plan(df)
    // both the train-distinct and the semi-join read the stored bucketed
    // index: no gram re-derivation (the xxhash64 gram pipeline ran only at
    // build time), no shuffle keyed on g anywhere — the bucketed scan's
    // HashPartitioning(g, 16) feeds the distinct AND the SMJ directly;
    // only the final per-doc aggregate (and presentation sort) may shuffle
    assert(p.contains("Bucketed: true"), s"scan must report bucketed reads:\n$p")
    assert(!p.contains("xxhash64"),
      s"grams must come from the stored index, not re-derivation:\n$p")
    assert(p.contains("SortMergeJoin"), s"merge hint must hold:\n$p")
    assert("""Exchange hashpartitioning\(g#""".r.findFirstIn(p).isEmpty,
      s"gram-keyed stages must be exchange-free:\n$p")
  }

  test("indexed containment consumes the bucketed gram table with no exchange on g") {
    // candidate generation is one groupBy(g).collect_upto pass over the
    // stored g-bucketed files (round 17/18 — replaced the df-profile +
    // semi-join + posting-self-join shape), run once per corpus when the
    // rare-gram table is written: no gram re-derivation, no shuffle keyed
    // on g; the call explodes the stored groups, and only its doc-pair-
    // keyed stages (the candidate count and the verification joins) may
    // exchange
    import graft.llm.DedupOps
    val build = DedupOps.rareGroups(
      spark.table(DedupOps.gramTable(spark, sfDir)).select("doc_id", "g"), "g")
    build.collect()
    val b = plan(build)
    assert(b.contains("Bucketed: true"), s"the build must read the gram table bucketed:\n$b")
    val df = DedupOps.llmDedupContainmentIndexed(spark, sfDir)
    df.collect() // AQE: final plan only exists after execution
    for (p <- Seq(b, plan(df))) {
      assert(!p.contains("xxhash64"),
        s"grams must come from the stored index, not re-derivation:\n$p")
      assert("""Exchange hashpartitioning\(g#""".r.findFirstIn(p).isEmpty,
        s"gram-keyed stages must be exchange-free:\n$p")
    }
  }

  test("containment and span calls explode stored rare-key groups: no collect_upto") {
    // the capped per-key aggregate runs once per corpus, when the rare-key
    // tables are written; a call only explodes their groups into pairs
    for ((op, table) <- Seq("llm_dedup_containment_indexed" -> "gram_rare_bkt",
        "llm_dedup_span_indexed" -> "span_rare_bkt")) {
      val df = SparkEntry.queries(op)(spark, sfDir)
      df.collect()
      val p = plan(df)
      assert(!p.contains("collect_upto"), s"$op re-aggregates its posting rows:\n$p")
      assert(p.split("\n").exists(l => l.contains("FileScan") && l.contains(table)),
        s"$op must read $table:\n$p")
    }
  }

  test("indexed containment reads stored per-doc sets: no set aggregate over gram rows") {
    // the per-call plan assembles no sets: no collect_set over gram rows
    // and no exchange keyed on g. With broadcasts off (the plan of a set
    // table too big to broadcast) every scan of the set table is a
    // bucketed read, so its doc_id joins shuffle only the candidate side
    val df = graft.llm.DedupOps.llmDedupContainmentIndexed(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("collect_set"), s"sets must come from the stored table:\n$p")
    assert("""Exchange hashpartitioning\(g#""".r.findFirstIn(p).isEmpty,
      s"gram-keyed stages must be exchange-free:\n$p")
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    saved.foreach { case (k, _) => spark.conf.set(k, "-1") }
    try {
      val big = graft.llm.DedupOps.llmDedupContainmentIndexed(spark, sfDir)
      big.collect()
      val q = plan(big)
      val setScans = q.split("\n").filter(l => l.contains("FileScan") && l.contains("gram_sets_bkt"))
      assert(setScans.nonEmpty && setScans.forall(_.contains("Bucketed: true")),
        s"the set table must be read bucketed on doc_id:\n$q")
      assert(!q.contains("collect_set"), s"sets must come from the stored table:\n$q")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("indexed simhash candidate join reads the bucketed table with no exchange on (chunk, cval)") {
    val df = graft.llm.DedupOps.llmDedupSimhashIndexed(spark, sfDir)
    df.collect() // AQE: final plan only exists after execution
    val p = plan(df)
    assert(p.contains("Bucketed: true"), s"scan must report bucketed reads:\n$p")
    assert(!p.contains("xxhash64"),
      s"fingerprints must come from the stored index, not re-derivation:\n$p")
    assert(p.contains("SortMergeJoin"), s"merge hint must hold:\n$p")
    // the candidate join's keys are fully covered by the bucket columns:
    // no hash exchange keyed on chunk anywhere below the pair aggregate
    assert("""Exchange hashpartitioning\(chunk#""".r.findFirstIn(p).isEmpty,
      s"chunk-keyed stages must be exchange-free:\n$p")
  }

  test("partitioned+bucketed layout prunes both directory and bucket on a point lookup") {
    graft.etl.Bucketing.sinkPartitionedBucketed(spark, sfDir).count()
    val suffix = graft.util.Scratch.pathTag(sfDir)
    // same autoBucketedScan note as the plain bucket-pruning test: no join
    // consumes the bucketing here, so keep the planner from discarding it
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val df = spark.table(s"orders_pb_$suffix")
        .filter(col("o_year") === 1997 && col("o_custkey") === 14L)
      val p = plan(df)
      assert(p.contains("SelectedBucketsCount: 1 out of 4"),
        s"equality on the bucket key must prune to one bucket:\n$p")
      assert(p.contains("PartitionFilters") && p.contains("o_year"),
        s"partition filter must prune directories:\n$p")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("indexed embedding near-dup joins bucketed scans with no exchange on bucket") {
    val df = graft.llm.DedupOps.llmDedupEmbeddingIndexed(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("Bucketed: true"), s"scan must report bucketed reads:\n$p")
    assert(p.contains("SortMergeJoin"), s"merge hint must hold:\n$p")
    assert("""Exchange hashpartitioning\(bucket#""".r.findFirstIn(p).isEmpty,
      s"bucket-keyed join must be exchange-free:\n$p")
  }

  test("runtime bloom filter lands might_contain on the fact-side scan") {
    val df = graft.analytics.Advanced.joinRuntimeBloom(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("might_contain"),
      s"InjectRuntimeFilter must plant the bloom probe on the fact side:\n$p")
    assert(p.contains("bloom_filter_agg") || p.contains("ObjectHashAggregate"),
      s"the filter must be built by the bloom aggregate:\n$p")
  }

  test("dpp join prunes fact partitions via a dynamicpruning subquery") {
    val df = graft.etl.Bucketing.joinDppPrune(spark, sfDir)
    df.collect()
    val p = plan(df)
    // the fact scan's PartitionFilters must carry the runtime subquery —
    // the partition set is only known after the dim aggregate runs, so a
    // static filter here is impossible and its absence means a full scan
    assert(p.contains("dynamicpruning"),
      s"fact scan must carry a dynamicpruning partition filter:\n$p")
    // the dim side must broadcast: DPP reuses that exchange, making the
    // pruning subquery free (reuseBroadcastOnly default)
    assert(p.contains("BroadcastHashJoin"),
      s"dim side must broadcast so the pruning filter reuses the exchange:\n$p")
  }

  test("semdedup centroid aggregate and pair join are exchange-free on bucket") {
    val df = graft.llm.DedupOps.llmDedupSemantic(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("Bucketed: true"), s"scan must report bucketed reads:\n$p")
    // both the per-bucket vector_sumq aggregate and the within-bucket
    // pair join key on bucket, which the stored layout already provides —
    // the only shuffles allowed are the dropped-id distinct + anti join
    // (keyed on vec_id) and the presentation sort
    assert("""Exchange hashpartitioning\(bucket#""".r.findFirstIn(p).isEmpty,
      s"bucket-keyed stages must be exchange-free:\n$p")
    assert(p.contains("vector_sumq"), s"centroid must use the exact native aggregate:\n$p")
  }

  test("appended two-generation sig index still joins exchange-free") {
    // the append writes a second file set per bucket under the SAME
    // bucket spec — if the appended generation broke the layout contract
    // the join would re-shuffle both sides and the maintenance pattern
    // would silently cost a full-index exchange per consume
    val df = graft.llm.DedupOps.llmSigIndexAppend(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("Bucketed: true"), s"scan must report bucketed reads:\n$p")
    assert("""Exchange hashpartitioning\((band|bhash)#""".r.findFirstIn(p).isEmpty,
      s"append must preserve the exchange-free band-hash join:\n$p")
    assert(!p.contains("xxhash64"),
      s"signatures must come from the stored index, not re-derivation:\n$p")
  }

  test("appended two-generation gram index still serves decontamination exchange-free") {
    // round 19 (VERDICT r18 #3): the gram family's generation-append —
    // the eval generation probes the train generation ACROSS the
    // generation boundary; a layout break would re-shuffle the whole
    // index on g at every consume
    val df = graft.llm.DedupOps.llmGramIndexAppend(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("Bucketed: true"), s"scan must report bucketed reads:\n$p")
    assert(!p.contains("xxhash64"),
      s"grams must come from the stored index, not re-derivation:\n$p")
    assert(p.contains("SortMergeJoin"), s"merge hint must hold:\n$p")
    assert("""Exchange hashpartitioning\(g#""".r.findFirstIn(p).isEmpty,
      s"append must preserve the exchange-free gram semi-join:\n$p")
  }

  test("appended two-generation emb index still joins exchange-free on bucket") {
    val df = graft.llm.DedupOps.llmEmbIndexAppend(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("Bucketed: true"), s"scan must report bucketed reads:\n$p")
    assert(p.contains("SortMergeJoin"), s"merge hint must hold:\n$p")
    assert("""Exchange hashpartitioning\(bucket#""".r.findFirstIn(p).isEmpty,
      s"append must preserve the exchange-free bucket join:\n$p")
  }

  test("indexed minhash candidate join is exchange-free on the band hash") {
    val df = graft.llm.DedupOps.llmDedupMinhashIndexed(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("Bucketed: true"), s"scan must report bucketed reads:\n$p")
    // bucketed on bhash, joined on (band, bhash): HashPartitioning(bhash)
    // satisfies the clustered distribution of the superset key, so neither
    // side may shuffle for the join; only the pair-dedup aggregate
    // (doc_a, doc_b) and presentation sort shuffle
    assert("""Exchange hashpartitioning\((band|bhash)#""".r.findFirstIn(p).isEmpty,
      s"band-hash-keyed join must be exchange-free:\n$p")
    assert(!p.contains("xxhash64"),
      s"signatures must come from the stored index, not re-derivation:\n$p")
  }

  test("global row numbering never funnels fact rows through one partition") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.etl.Transforms.fnGlobalRowNumber(spark, sfDir)
      val root = df.queryExecution.executedPlan
      // the ONLY SinglePartition exchange allowed is the per-partition
      // count prefix-sum (a partition-count-sized frame) — never fact rows
      def aggSized(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case _: BaseAggregateExec => true
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
            aggSized(w.child)
          case _ => false
        }
      val rowFunnels = root.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning == SinglePartition && !aggSized(e.child) => e
      }
      assert(rowFunnels.isEmpty,
        s"row data must not funnel through one partition:\n$root")
      assert(root.toString.contains("BroadcastHashJoin"),
        s"offsets must broadcast back onto the fact:\n$root")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("sequence packing windows per shard — one shard shuffle, never a global rank") {
    val p = plan(graft.llm.TextOps.llmPackSequences(spark, sfDir))
    val shardShuffles = "hashpartitioning\\(shard".r.findAllIn(p).size
    assert(shardShuffles == 1,
      s"expected exactly one shard-keyed shuffle, got $shardShuffles:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"packing must never funnel rows through one partition:\n$p")
  }

  test("AQE splits a planted skew-join partition — the engine-native complement to manual salting") {
    // join_skew_salted shows the MANUAL spread; at 100× a cluster leans on
    // AQE's OptimizeSkewedJoin first. Plant one hot key holding half the
    // fact rows, lower the skew thresholds to test scale, and assert the
    // finalized adaptive plan actually split the skewed partition.
    val confs = Map(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // sha2 payload resists shuffle compression, so the planted partition
      // sizes survive into the map-output stats AQE reads
      val big = spark.range(0, 400000)
        .select(when(col("id") % 2 === 0, lit(0L)).otherwise(col("id")).as("k"),
          sha2(col("id").cast("string"), 256).as("payload"))
      val dim = spark.range(0, 1000).select(col("id").as("k"), col("id").as("v"))
      // aggregate over payload so column pruning can't strip it from the
      // join shuffle (pruned, the hot partition is a few MB of bare longs
      // and never crosses the skew threshold)
      val df = big.join(dim, "k").groupBy("v")
        .agg(count(lit(1)).as("n"), max(col("payload")).as("mx"))
      df.collect()
      val p = plan(df)
      assert(p.contains("skew=true"),
        s"AQE must mark the skewed join split:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffled dim join") {
    // When the dimension is too big to broadcast but carries a selective
    // predicate, InjectRuntimeFilter builds a bloom filter from the
    // dimension keys and applies it to the fact scan — rows that cannot
    // join never enter the shuffle. Thresholds lowered to test scale;
    // broadcast disabled because that path would filter via the hash
    // relation instead.
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = graft.tables.Tables(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_quantity")
      val dim = graft.tables.Tables(spark, sfDir, "orders")
        .filter(col("o_orderstatus") === "P").select("o_orderkey")
      val df = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
      val p = plan(df)
      // fact side: might_contain(bloom) applied BELOW its shuffle; the
      // bloom is built by bloom_filter_agg over the filtered dim keys
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"fact side must carry the runtime bloom filter:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("chunking plan: scan → explode → project, no shuffle before the output sort") {
    val df = graft.llm.TextOps.llmChunkDocuments(spark, sfDir)
    val p = plan(df)
    // exactly one Exchange — the range partition for deterministic output
    // order; the chunking itself must stay a narrow pipeline
    val exchanges = "(?m)^\\s*[+:]?-?\\s*\\*?\\(?\\d*\\)?\\s*Exchange".r
      .findAllIn(p).size
    assert(p.contains("rangepartitioning") && exchanges == 1,
      s"chunking must not shuffle except the output sort:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"),
      s"no join/agg belongs in the chunk pipeline:\n$p")
  }

  test("tfidf plan: one text scan — df comes from the tf frame, not a rescan") {
    val df = graft.llm.TextOps.llmTfidfTopterms(spark, sfDir)
    val scans = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString)
    // documents is scanned once for tf (+ once column-less for N);
    // a second text-column scan means the shared subplan was duplicated
    assert(scans.count(_.contains("text")) == 1,
      s"df must derive from the tf frame, not a second corpus scan:\n${scans.mkString("\n")}")
    // the rank filter is group-limited map-side before the doc_id exchange
    assert(plan(df).contains("WindowGroupLimit"),
      "top-3 filter must push down as a window group limit")
  }

  test("weighted exact-k sample plans as TakeOrderedAndProject — no global sort") {
    // The A-ES weighted reservoir must keep the same distributed-reservoir
    // shape as the uniform sampler: each partition retains its local top-k
    // by the −ln(u)/w key and only k rows per partition reach the merge; a
    // Sort + GlobalLimit spelling would materialize a corpus-wide sort.
    val p = plan(graft.llm.SampleOps.llmSampleWeightedK(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample must plan as TakeOrderedAndProject:\n$p")
  }

  test("per-group top-N pushes down as a WindowGroupLimit") {
    // The rank-filter idiom must rewrite to WindowGroupLimit so each map
    // task keeps only its local top-3 per customer BEFORE the shuffle —
    // without it the exchange carries the whole fact table to be ranked
    // and discarded on the reduce side.
    val p = plan(graft.analytics.Advanced.windowTopnPerGroup(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must push down as WindowGroupLimit:\n$p")
  }

  test("OHLC resample is one hash aggregate — no window, no sort before the agg") {
    // The whole-row struct min/max idiom exists to avoid the
    // sort-per-partition a window spelling (first_value OVER day ORDER BY
    // ts) would pay; if a Window or a pre-aggregate Sort appears, the
    // idiom regressed to the two-pass shape.
    val df = graft.analytics.Temporal.windowResampleOhlc(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Window"), s"OHLC must not plan a window:\n$p")
    assert("HashAggregate|SortAggregate".r.findAllIn(p).size <= 2,
      s"OHLC must be one partial+final aggregate pair:\n$p")
  }

  test("regression fit plans one aggregate pair with no Expand") {
    // regr_* are moment sketches — if the plan grows an Expand (the
    // grouping-sets/distinct shape) or a second aggregate, the 5-numbers-
    // per-group shuffle claim is gone.
    val p = plan(graft.analytics.Advanced.aggRegressionFit(spark, sfDir))
    assert(!p.contains("Expand"), s"no Expand belongs in a moment sketch:\n$p")
    assert("HashAggregate".r.findAllIn(p).size <= 2,
      s"regression fit must be one partial+final pair:\n$p")
  }

  test("curriculum cutoffs ride a broadcast anchor, not a driver collect") {
    // The percentile bounds must join back as a broadcast (the
    // filter_last_3_months anchor pattern) — a driver-side collect of the
    // cutoffs would work at any SF but silently break plan caching and
    // retry semantics; the broadcast keeps the whole thing one lazy plan.
    val p = plan(graft.llm.TextOps.llmCurriculumOrder(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"cutoff frame must broadcast onto the scan:\n$p")
  }

  test("LATERAL top-n decorrelates: no per-row subquery, one ranked window") {
    // The whole point of join_lateral_topn's Scaladoc claim: Spark's
    // decorrelator must rewrite the correlated LIMIT subquery into the
    // same single-shuffle ranked-window shape as window_topn_per_group.
    // A plan with a nested loop / correlated subquery execution node
    // would run the subquery once per customer — the anti-pattern the
    // rewrite exists to prevent.
    val p = plan(graft.analytics.Queries.joinLateralTopn(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"lateral LIMIT must decorrelate to a window group limit:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("LocalLimit(3)"),
      s"decorrelation must remove the per-row subquery execution:\n$p")
  }

  test("per-stratum exact-k samples with a partial WindowGroupLimit") {
    // Same discipline as the top-N test but for the sampling op: the
    // per-language rank filter must group-limit map-side so the exchange
    // carries ≤ k rows per (task, stratum), not the corpus.
    val p = plan(graft.llm.SampleOps.llmSamplePerGroupK(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"per-stratum rank filter must push down as WindowGroupLimit:\n$p")
  }

  test("positional delete anti-joins the broadcast DV — fact side unshuffled") {
    // The deletion-vector read path must be a broadcast LeftAnti on
    // (file, pos): a shuffled anti-join would move the whole fact table
    // to apply a tombstone list that is O(deleted rows). The DV side's
    // content predicate must also reach the parquet reader.
    val p = plan(graft.etl.Upsert.upsertPositionalDelete(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"DV apply must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"fact side must not shuffle for the DV apply:\n$p")
    assert(p.contains("EqualTo(o_orderstatus,F)"),
      s"DV build predicate must push to the scan:\n$p")
  }

  test("fuzzy match joins on the block key with a banded levenshtein residual") {
    // Blocking is the scale property: the pair predicate must ride an
    // EQUI-join on (p_brand, p_size) — never a nested-loop over all
    // pairs — and the distance must be the banded levenshtein form
    // (threshold arg present) so each comparison is O(band·len).
    val df = graft.analytics.Advanced.joinFuzzyLevenshtein(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fuzzy match must block into an equi-join:\n$p")
    assert(p.contains("levenshtein") && p.contains("Some(3)"),
      s"distance must use the banded levenshtein:\n$p")
  }

  test("bloom decontamination probes the filter BELOW the exact semi-join") {
    // The bloom is only worth its bits if it cuts rows BEFORE the
    // semi-join's shuffle: the plan must show the BloomFilterMightContain
    // predicate in a Filter that sits under the join (on the test-side
    // input), not as a post-join residual. Both the probe expression and
    // the join must be present; ordering is checked structurally by
    // asserting no Join node appears beneath the might_contain filter's
    // subtree side — the filter's child chain reaches the scan/persisted
    // frame directly.
    val df = graft.llm.DedupOps.llmDecontaminateBloom(spark, sfDir)
    val p = df.queryExecution.optimizedPlan
    val filters = p.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.find(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]
          ).isDefined => f
    }
    assert(filters.nonEmpty, s"bloom probe not found in optimized plan:\n$p")
    assert(filters.forall(f => f.child.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty), s"bloom probe must run below the semi-join, not above it:\n$p")
    assert(p.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty, "exact semi-join must still be present (FP removal)")
  }

  test("stats-bounds histogram touches the orders parquet exactly once") {
    // VERDICT r10 #4: the exact twin pays a second fact scan for the
    // bounds reduction; the stats twin must not — its bounds come from the
    // catalog's ANALYZE column stats (a LocalTableScan of DESCRIBE rows),
    // so exactly ONE leaf may read the orders parquet. The exact twin's
    // two-scan shape is asserted alongside so the pair's cost contrast is
    // pinned, not assumed.
    // count FileScan lines in the plan STRING, not collectLeaves: under
    // AQE the root is an AdaptiveSparkPlanExec with no children, so
    // collectLeaves returns the adaptive node itself and every scan
    // "merges" into one leaf
    def ordersScans(df: org.apache.spark.sql.DataFrame): Int =
      "FileScan parquet [^\n]*orders\\.parquet".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    val approx = graft.analytics.Queries.aggHistogramApprox(spark, sfDir)
    assert(ordersScans(approx) == 1,
      s"stats-bounds histogram must scan orders once:\n${plan(approx)}")
    val exact = graft.analytics.Queries.aggHistogramPrices(spark, sfDir)
    assert(ordersScans(exact) == 2,
      s"exact histogram is the two-scan spelling by design:\n${plan(exact)}")
  }

  test("stats-median MAD twin touches the orders parquet exactly once") {
    // VERDICT r11 #5: same contract as the histogram pair — the exact
    // median+MAD pays a second fact scan to learn the median before the
    // deviation pass; the approx twin broadcasts the segment-stats
    // artifact instead, so exactly ONE leaf may read the orders parquet.
    def ordersScans(df: org.apache.spark.sql.DataFrame): Int =
      "FileScan parquet [^\n]*orders\\.parquet".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    val approx = graft.analytics.Advanced.aggMedianMadApprox(spark, sfDir)
    assert(ordersScans(approx) == 1,
      s"stats-median MAD twin must scan orders once:\n${plan(approx)}")
    val exact = graft.analytics.Advanced.aggMedianMad(spark, sfDir)
    assert(ordersScans(exact) == 2,
      s"exact median+MAD is the two-scan spelling by design:\n${plan(exact)}")
  }

  test("dynamic partition pruning: a filtered dim prunes the fact's partitions at runtime") {
    // Static pruning (test above) handles literal predicates; a star-schema
    // query filters the DIMENSION and the partition keys only emerge at
    // runtime. DPP inserts a dynamicpruning subquery into the fact scan's
    // PartitionFilters — on a 1000-executor cluster this is the difference
    // between reading 2 of 8 year-partitions and reading all of them.
    val dir = graft.util.Scratch.dir("plan_dpp")
    graft.tables.Tables(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .repartition(col("o_year"))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val fact = spark.read.parquet(dir)
    // dimension: (year, label), filtered to 2 of the 8 years — the filter
    // is on an attribute, not the join key, so static pruning can't fire
    val dim = spark.range(1992, 2000)
      .select(col("id").cast("int").as("d_year"),
        when(col("id") >= 1998, "current").otherwise("past").as("era"))
      .filter(col("era") === "current")
    val df = fact.join(dim, fact("o_year") === dim("d_year"))
      .groupBy("d_year").agg(count(lit(1)).as("n"))
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("o_year")).get
    assert(scan.contains("dynamicpruning"),
      s"fact scan must carry the runtime partition subquery:\n$scan")
    // and it actually pruned: only the 2 surviving years are aggregated
    assert(df.collect().map(_.getInt(0)).sorted.sameElements(Array(1998, 1999)))
  }

  test("upsert plan: anti-join broadcasts the staging side when small") {
    val orders = graft.tables.Tables(spark, sfDir, "orders")
    val stg = orders.filter(col("o_orderdate") >= lit("2001-01-01"))
    val p = plan(graft.etl.Upsert.upsert(orders, stg, "o_orderkey"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast anti join:\n$p")
  }

  test("stats moments aggregate partially before the exchange — buffers, not rows, cross the wire") {
    val p = plan(graft.analytics.Advanced.aggStatsMoments(spark, sfDir))
    // partial-mode HashAggregate must sit BELOW the flag exchange: the
    // shuffle then carries one moment-buffer row per (flag, partition)
    // instead of the raw fact
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(l_returnflag")
    assert(exchangeIdx >= 0, s"expected a returnflag exchange:\n$p")
    assert(p.indexOf("partial_corr", exchangeIdx) >= 0
      || p.indexOf("partial_covar_samp", exchangeIdx) >= 0,
      s"moments must partial-aggregate below the exchange:\n$p")
    // and the scan reads only the 3 needed of 11 lineitem columns
    assert(p.contains("l_quantity") && !p.contains("l_shipdate"),
      s"scan must prune to the moment inputs:\n$p")
  }

  test("zscore window computes both moments over ONE user_id exchange — no stats self-join") {
    val p = plan(graft.analytics.Advanced.windowZscoreAnomaly(spark, sfDir))
    assert(!p.contains("Join"), s"zscore must not self-join stats back:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected exactly one row-bearing hash exchange, got $hashExchanges:\n$p")
  }

  test("null-safe dim join broadcasts — the <=> predicate must not force a shuffle") {
    val p = plan(graft.analytics.Advanced.joinNullSafe(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"null-safe equality supports broadcast hashing — must not sort-merge:\n$p")
  }

  test("global export sorts via a sampled range exchange, never one partition") {
    val p = plan(graft.analytics.Queries.sortGlobalExport(spark, sfDir))
    assert(p.contains("Exchange rangepartitioning"),
      s"global sort must range-partition:\n$p")
    assert(!p.contains("SinglePartition"),
      s"no row-bearing single-partition step in a global sort:\n$p")
  }

  test("exact-k sample plans as TakeOrderedAndProject — k rows per partition, no global sort") {
    val p = plan(graft.llm.SampleOps.llmSampleExactK(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"order+limit must fuse into a per-partition top-k:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"the corpus must not be globally sorted for a k-row sample:\n$p")
  }

  test("gap fill pushes the analysis-window predicate into both parquet scans") {
    val df = graft.analytics.Temporal.fnDateGapfill(spark, sfDir)
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .filter(_.contains("o_orderdate"))
    assert(scans.nonEmpty && scans.forall(_.contains("GreaterThanOrEqual(o_orderdate")),
      s"date window must reach the readers:\n${scans.mkString("\n")}")
  }

  test("rolling distinct dedups to day grain BEFORE the x7 frame explode") {
    // The scale contract of window_rolling_distinct: the sequence-explode
    // multiplies the deduped (day, user) grain, never the raw fact — the
    // Generate's OWN child subtree must contain the day-grain distinct
    // aggregate, and the observed-days join must broadcast. Walked
    // structurally (review r10): a string-index check would also match
    // the days-branch distinct that prints after Generate even when the
    // explode wrongly consumes the raw scan.
    val df = graft.analytics.Advanced.windowRollingDistinct(spark, sfDir)
    df.collect() // finalize AQE so the checked plan is the executed one
    val executed = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val p = executed.toString
    assert(p.contains("BroadcastHashJoin"),
      s"days-horizon join must broadcast:\n$p")
    // TreeNode.collect stops at AQE stage boundaries (QueryStageExec holds
    // its subtree in .plan, not .children) — flatten through them
    def flatten(n: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = n +: (n match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        flatten(q.plan)
      case _ => n.children.flatMap(flatten)
    })
    val gens = flatten(executed).collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.nonEmpty, s"expected the frame explode:\n$p")
    assert(gens.forall(g => flatten(g.child).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec])),
      s"explode must consume the day-grain dedup aggregate, not the raw fact:\n$p")
  }

  test("interval-overlap join is an equi-join on the grid cell, never a nested loop") {
    val df = graft.analytics.Temporal.joinIntervalOverlap(spark, sfDir)
    df.collect() // finalize AQE so the checked plan is the executed one
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"grid bucketing must turn the range join into an equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"),
      s"expected a hash/merge join on the day cell:\n$p")
  }

  test("snowflake chain broadcasts all three dims — the only hash exchange is the rollup") {
    val df = graft.analytics.Queries.joinSnowflakeChain(spark, sfDir)
    df.collect()
    // AQE's executedPlan prints Final AND Initial plans — count in the
    // final section only
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") == 3,
      s"expected exactly 3 broadcast joins in the dim chain:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no fact-side shuffle join allowed:\n$p")
    // fact rows cross exactly one hash exchange (the 2-key rollup); the
    // final orderBy adds a rangepartitioning over 25 aggregated rows
    assert(p.sliding("hashpartitioning".length).count(_ == "hashpartitioning") == 1,
      s"expected one aggregation exchange:\n$p")
  }

  test("bitmap distinct aggregates map-side as an ObjectHashAggregate (no Expand)") {
    val df = graft.analytics.Advanced.aggBitmapDistinct(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("ObjectHashAggregate"),
      s"typed-imperative bitmap agg must plan as ObjectHashAggregate:\n$p")
    assert(p.toLowerCase.contains("partial_bitmap"),
      s"bitmap buffers must combine map-side (partial aggregate):\n$p")
    assert(!p.contains("Expand"),
      s"the bitmap path must not fall back to count-distinct's Expand:\n$p")
  }

  test("span dedup posting self-join is an equi-join on the fingerprint") {
    val df = SparkEntry.queries("llm_dedup_span")(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"posting join must stay an equi-join on fp:\n$p")
  }

  test("indexed span dedup consumes the bucketed fp table with no exchange on fp") {
    // the rare-fp groups are one exchange-free groupBy(fp) pass over the
    // fp-bucketed files, run once per corpus when the rare-fp table is
    // written; the call explodes the stored groups
    import graft.llm.DedupOps
    val build = DedupOps.rareGroups(
      spark.table(DedupOps.spanTable(spark, sfDir)).select("doc_id", "fp"), "fp")
    build.collect()
    val b = plan(build)
    assert(b.contains("Bucketed: true"), s"expected bucketed scans:\n$b")
    val df = DedupOps.llmDedupSpanIndexed(spark, sfDir)
    df.collect()
    for (p <- Seq(b, plan(df)))
      assert(!p.contains("hashpartitioning(fp"),
        s"no exchange may be keyed on fp — bucketing must co-locate:\n$p")
  }

  test("incremental CC scans the stored labels, never shuffles them (round 20)") {
    // The round-20 crossover measurement (BASELINE.md) exposed the old
    // shape: corpus-sized label frames shuffled twice in contraction and
    // once in expansion.
    // The restructured op restricts the labels by a broadcast semi-join
    // on the touched endpoints and broadcasts the delta-sized sides, so
    // the only shuffles keyed on `label` or landing on the label scan
    // are gone: the stored cluster table crosses no exchange.
    // the scale shape is floor-gated (fixture corpora keep the flat
    // plan), so build the scale shape directly
    import graft.llm.DedupOps.{Restricted, clusterContraction, clusterIncremental}
    // (a) the contraction stage — invisible in the op's final plan
    // because the CC loop eagerly materializes it (localCheckpoint), so
    // it is pinned on the shared builder the op calls
    val c = clusterContraction(spark, sfDir, Restricted(broadcast = true))
    c.collect() // AQE: final plan only exists after execution
    val pc = plan(c)
    assert(pc.contains("LeftSemi"),
      s"stored labels must be restricted to touched endpoints:\n$pc")
    assert(pc.contains("BroadcastExchange"),
      s"the delta-sized sides must broadcast under the size gate:\n$pc")
    assert(!pc.contains("hashpartitioning(label"),
      s"contraction must not shuffle the stored label table:\n$pc")
    // (b) the expansion — the op's visible output plan: the label scan
    // feeds broadcast left joins, never an exchange keyed on label
    val df = clusterIncremental(spark, sfDir, Restricted(broadcast = true))
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastExchange"),
      s"the reduced labels must broadcast into the expansion:\n$p")
    assert(!p.contains("hashpartitioning(label"),
      s"the expansion join must not shuffle the stored label table:\n$p")
    assert(!p.contains("hashpartitioning(rep_"),
      s"contracted endpoints must never become a shuffle key:\n$p")
  }
}
