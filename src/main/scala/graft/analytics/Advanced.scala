package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.QFn
import graft.tables.Tables
import graft.util.VerifyBounds

/** SURVEY.md §2.5/§2.6 round-3 extensions — the BI-dashboard shapes one
  * step past the reference's plain group-bys (README.md:99-102 is the
  * extent of its aggregation surface): pivoted cross-tabs, explicit
  * grouping sets, and frame-based window analytics (rolling averages,
  * lag/lead deltas). All single-shuffle plans: pivot and grouping sets are
  * one hash aggregate each; the window queries shuffle once on the
  * partition key.
  */
object Advanced {

  /** Cross-tab: order counts per priority × status, statuses pivoted to
    * columns (the dashboard matrix view of README.md:99-100's sales
    * rollup). Explicit pivot values keep the plan a single two-phase hash
    * aggregate — with values unspecified Spark runs an extra distinct scan
    * to discover them, a full pass to save six keystrokes. */
  val aggPivotStatus: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("o_orderpriority")

  /** UNPIVOT — the INVERSE of [[aggPivotStatus]] and the missing half of
    * the reshaping pair: the wide per-status count table melts back into
    * long (priority, status, n) rows. Spark's native `unpivot` (the SQL
    * `stack`) plans as an Expand — one pass, rows × |value columns|,
    * no shuffle beyond what the wide input already had: the cheap
    * direction of reshaping (pivot needs an aggregate; melt is a
    * projection). Round-trip composition is the oracle's shape: pivot
    * then unpivot must reproduce the plain GROUP BY counts. */
  val fnUnpivotLong: QFn = (spark, sfDir) => {
    val wide = Tables(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
    wide.unpivot(Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")), "o_orderstatus", "n_orders")
      .filter(col("n_orders") > 0)
      .orderBy("o_orderpriority", "o_orderstatus")
  }

  /** Ratio-to-report window — each status's share of its priority's
    * revenue (the percent-of-total column every report adds): a window
    * SUM over the group partition, then the row/total division. Numerator
    * and denominator are the SAME exact decimal aggregate (partition sums
    * of decimal), so the one double division replays identically in
    * DuckDB — the Gini discipline applied to a window. The window
    * partitions on the 5×3 aggregated report, never the fact table. */
  val windowRatioShare: QFn = (spark, sfDir) => {
    val rep = Tables(spark, sfDir, "orders")
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("o_orderpriority")
    rep.select(col("o_orderpriority"), col("o_orderstatus"),
        round(col("rev").cast("double"), 2).as("revenue"),
        round(col("rev").cast("double") / sum(col("rev")).over(w).cast("double"), 6)
          .as("share"))
      .orderBy("o_orderpriority", "o_orderstatus")
  }

  /** Explicit GROUPING SETS — the general form behind rollup/cube
    * (agg_rollup_sales/agg_cube_funnel): only the margins the dashboard
    * needs, still ONE multi-grouping hash aggregate, no union of scans.
    * Null group labels folded to 'ALL' (the rollup convention) so both
    * engines order identically. */
  val aggGroupingSets: QFn = (spark, sfDir) => {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT coalesce(status, 'ALL') AS status,
        |       coalesce(cast(o_year AS string), 'ALL') AS o_year,
        |       count(*) AS cnt
        |FROM (SELECT o_orderstatus AS status, year(o_orderdate) AS o_year
        |      FROM orders)
        |GROUP BY GROUPING SETS ((status, o_year), (status), (o_year), ())
        |ORDER BY status, o_year""".stripMargin)
  }

  /** Rolling 3-order average spend plus exact cumulative revenue per
    * customer — the trend line behind a "customer spend over time" widget.
    * ROWS frames over one (o_custkey) shuffle; the cumulative sum runs in
    * exact decimal so summation order can't smear the double. */
  val windowRollingAvg: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(avg(col("o_totalprice")).over(w.rowsBetween(-2, 0)), 4)
          .as("avg_3"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"), 2)
          .as("cum_revenue"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Rolling MEDIAN-of-5 per customer — the robust rolling smoother
    * (window_rolling_avg's mean jumps on one whale order; the median
    * rides through it, which is why monitoring smooths latencies with
    * rolling percentiles, not means). An aggregate-as-window over a
    * 5-row frame: per-row cost is the O(frame) percentile buffer —
    * constant because the frame is — and the shuffle is the same single
    * customer-key exchange as every window op here (high-cardinality
    * partitions, dimension-bounded). Exact interpolated percentile pairs
    * with DuckDB's quantile_cont over the identical frame — full
    * oracle. */
  val windowRollingMedian: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-4, 0)
    Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(expr("percentile(o_totalprice, 0.5)").over(w), 4)
          .as("med_5"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Time-RANGE rolling aggregate — the frame the row-count frames
    * (rowsBetween, [[windowRollingAvg]]) cannot express: "activity in the
    * trailing 7 DAYS" is a value-range bound, so gaps and bursts in the
    * event stream change the frame row count per row. Epoch-second ORDER
    * BY keys the range numerically on both engines (Spark cast long and
    * DuckDB floor(epoch()) truncate identically); RANGE includes ties
    * (same-second events) as peers by definition in both. Per-user
    * partitions keep the window linear — no global sort at any scale. */
  val windowRollingRange: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts_sec"))
      .rangeBetween(-604800L, 0L) // 7 days in seconds
    Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("long").as("ts_sec"), col("value"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_7d"),
        round(sum(col("value").cast("decimal(18,4)")).over(w)
          .cast("double"), 2).as("sum_7d"))
      .orderBy("event_id")
  }

  /** Per-customer order cadence: days since the previous order (lag) and
    * the next order's key (lead) — the inter-purchase-interval analysis
    * behind README.md:160's "how frequently user is buying". */
  val windowLagLeadDelta: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .as("days_since_prev"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Skew-safe JOIN via salting — the join-side companion to
    * agg_skew_salted: the big (skewed) side gets a salt from a high-card
    * column, the small side is replicated once per salt value, and the join
    * key becomes (key, salt) so one hot user spreads over nSalt reducers.
    * The merge hint disables broadcast, which would hide the pattern at
    * test scale — at 100 TB this is the shape for a dimension too big to
    * broadcast joined against a fact with hot keys AQE can't split (e.g.
    * one user with 10% of all events). Result provably equals the plain
    * join (the oracle checks exactly that). */
  val joinSkewSalted: QFn = (spark, sfDir) => {
    val nSalt = 8
    val ev = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("value"),
        pmod(col("event_id"), lit(nSalt)).as("salt"))
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        explode(array((0 until nSalt).map(i => lit(i)): _*)).as("salt"))
    ev.hint("merge")
      .join(cust, ev("user_id") === cust("c_custkey") && ev("salt") === cust("salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_value"))
      .orderBy("c_mktsegment")
  }

  /** Engine-native skew handling — the AQE pairing to [[joinSkewSalted]]
    * (manual salting), completing the manual/native pair the way
    * window_sessionize/window_session_native do for sessionization. A hot
    * key is planted at 75% of the (replicated) event stream; AQE's
    * OptimizeSkewedJoin detects the oversized shuffle partition at RUNTIME
    * from map-output statistics and splits it across many reducers — no salt
    * column, no dim replication, no query rewrite. Runs in a child session
    * (same SparkContext, own SQLConf) so the skew thresholds can be scaled
    * to test-size data without touching the shared session: at 100 TB the
    * DEFAULTS (256 MB threshold, 5× median) fire on real hot keys and this
    * operator is just the plain join. The merge hint + disabled broadcast
    * keep the small side from hiding the skew at test scale. Result
    * provably equals the plain join (the oracle replays it); PlanSpec
    * asserts `skew=true` on the final adaptive SortMergeJoin. */
  val joinSkewAqe: QFn = (spark, sfDir) => {
    val s = graft.util.ChildSession(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    // plant the hot key: 3 of 4 replicated events land on key 0, the rest
    // spread over 96 keys; ×40 replication makes the hot shuffle partition
    // big enough to trip the (lowered) threshold deterministically. The
    // repartition(8) matters: AQE splits a skewed partition at MAP-OUTPUT
    // granularity, so a single-file scan (1 map task → 1 block per reduce
    // partition) would leave the hot partition unsplittable no matter how
    // large — at 100 TB the thousands of input splits provide this for free
    val fact = Tables(s, sfDir, "events")
      .repartition(8)
      .select(col("event_id"), col("user_id"), col("value"),
        explode(expr("sequence(1, 40)")).as("rep"))
      .select(
        when(pmod(col("event_id"), lit(4)) =!= 0, lit(0L))
          .otherwise(pmod(col("user_id"), lit(97))).as("k"),
        col("value"))
    // one row per key 0..96 via a filter, NOT a groupBy: OptimizeSkewedJoin
    // pattern-matches SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) exactly —
    // an aggregate between the dim's sort and its shuffle stage would make
    // the join ineligible for skew splitting altogether
    val dim = Tables(s, sfDir, "customer")
      .filter(col("c_custkey").between(1, 97))
      .select(pmod(col("c_custkey"), lit(97)).as("k"), col("c_mktsegment"))
    fact.hint("merge").join(dim, Seq("k"))
      .groupBy(pmod(col("k"), lit(10)).as("key_band"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_value"))
      .orderBy("key_band")
  }

  /** Runtime bloom-filter pushdown — the engine-native row-level runtime
    * filter (Spark's InjectRuntimeFilter): when a shuffle join's build side
    * carries a selective predicate, the optimizer aggregates a bloom filter
    * over the build-side join keys and plants `might_contain` on the probe
    * side's SCAN, so fact rows that cannot match are dropped before the
    * shuffle instead of after it. At 100 TB this is a first-order win: a
    * 1% - selective dim predicate means ~99% of the fact shuffle bytes
    * never leave the mappers. Runs in a child session so the size
    * thresholds (defaults: creation ≤ 10 MB, probe scan ≥ 10 GB — tuned
    * for real clusters) can be opened up at test scale; broadcast is
    * disabled because a broadcast join needs no runtime filter (the probe
    * side already sees the build rows). Result provably equals the plain
    * join (the oracle replays it); PlanSpec asserts might_contain sits in
    * the probe-side scan's filters. */
  val joinRuntimeBloom: QFn = (spark, sfDir) => {
    val s = graft.util.ChildSession(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val fact = Tables(s, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    val dim = Tables(s, sfDir, "orders")
      // the selective build-side predicate the filter derives its value
      // from: high-value open orders, ~2% of the table
      .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 300000.0)
      .select(col("o_orderkey"))
    fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity").cast("decimal(18,4)")).cast("double"), 2)
          .as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Mergeable distinct-count sketches — the re-aggregation property exact
    * distinct counts lack: per-(day, event_type) HLL sketches roll up to
    * per-type estimates by sketch UNION, never re-touching the raw events.
    * At 100 TB this is the only way a dashboard serves "distinct users by
    * arbitrary dimension slice" without a full re-scan per slice.
    * Estimates aren't oracle-replayable (DuckDB's approx algorithm
    * differs) → ApproxSpec pins the estimate within 5% of exact instead. */
  val aggHllMergeable: QFn = (spark, sfDir) => {
    val ev = Tables(spark, sfDir, "events")
    ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      .groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
        count(lit(1)).as("n_days"))
      .orderBy("event_type")
  }

  /** HLL SET ALGEBRA — audience overlap from mergeable sketches: distinct
    * customers per order-status cohort, the pairwise UNION via sketch
    * merge, and the INTERSECTION by inclusion-exclusion
    * (|A∩B| = |A| + |B| − |A∪B|) — the question ("how many customers are
    * in BOTH segments?") that raw distinct counts cannot answer without
    * re-scanning the fact table per pair. At 100 TB this is the entire
    * point of sketches-as-index: the corpus is scanned ONCE into
    * per-segment HLL buffers (map-side-combined aggregate, O(2^lgK) state
    * per segment), and every pairwise overlap is then metadata-side
    * algebra on a |segments|-row sketch table — adding a segment pair
    * costs nothing. Intersection carries the compounded error of three
    * estimates (weak-form oracle bounds it at 5% of the UNION, the honest
    * inclusion-exclusion scale; the direct estimates get the usual 5%). */
  val aggHllOverlap: QFn = (spark, sfDir) => {
    val sk = Tables(spark, sfDir, "orders")
      .groupBy(col("o_orderstatus").as("st"))
      .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
    val a = sk.select(col("st").as("status_a"), col("sk").as("sk_a"))
    val b = sk.select(col("st").as("status_b"), col("sk").as("sk_b"))
    a.join(b, col("status_a") < col("status_b"))
      .select(col("status_a"), col("status_b"),
        expr("hll_sketch_estimate(sk_a)").as("users_a"),
        expr("hll_sketch_estimate(sk_b)").as("users_b"),
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b))").as("users_union"))
      .withColumn("users_intersect",
        col("users_a") + col("users_b") - col("users_union"))
      .orderBy("status_a", "status_b")
  }

  /** LISTAGG/STRING_AGG export — the "one delimited cell per group" shape
    * warehouse feeds and legacy report extracts demand (order-priority
    * codes per status, alphabetized). Spark has no string_agg; the
    * composition is collect_list → array_sort → array_join, which keeps
    * the concat ORDER deterministic (an unsorted listagg is
    * partition-order-dependent — the oracle would flap). collect_list's
    * buffer is bounded by the group's DISTINCT value count here (the
    * distinct folds in before aggregation), so the cell can't grow with
    * fact rows — the guard a 100 TB listagg needs. */
  val fnStringAggExport: QFn = (spark, sfDir) => {
    val o = Tables(spark, sfDir, "orders")
    o.select("o_orderstatus", "o_orderpriority").distinct()
      .groupBy("o_orderstatus")
      .agg(array_join(array_sort(collect_list(col("o_orderpriority"))), "|")
          .as("priorities"),
        count(lit(1)).as("n_distinct"))
      .orderBy("o_orderstatus")
  }

  /** Robust location/spread per segment: MEDIAN + MAD (median absolute
    * deviation) — the outlier-immune twin of mean/stddev (one whale order
    * moves a mean arbitrarily; it moves a median by at most one rank).
    * Two-phase by construction (MAD needs the median first): a 5-row
    * median frame broadcasts back onto the fact for the deviation pass —
    * two fact scans, like the exact histogram, and the same remedy at
    * 100 TB (approx quantiles or t-digest). Exact interpolated
    * percentiles pair with DuckDB's quantile_cont (the
    * agg_percentile_price precedent), deviations stay pure doubles. */
  val aggMedianMad: QFn = (spark, sfDir) => {
    val o = Tables(spark, sfDir, "orders")
    val cust = Tables(spark, sfDir, "customer")
    val seg = o.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
    val med = seg.groupBy("c_mktsegment")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
    seg.join(broadcast(med), Seq("c_mktsegment"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(first(col("med")), 4).as("median_price"),
        round(expr("percentile(abs(o_totalprice - med), 0.5)"), 4).as("mad"))
      .orderBy("c_mktsegment")
  }

  /** Per-flag least-squares fit of extended price on quantity — the
    * trend-line behind every scatter widget, as ONE mergeable aggregate
    * pass (regr_* are moment sketches: sums/cross-sums combine map-side,
    * so the shuffle carries 5 numbers per group at any corpus size — the
    * same scale shape as agg_stats_moments, which pins corr/covar; this
    * adds the fitted line and its R²). Rounds follow the stats-moments
    * precedent: both engines accumulate doubles in different orders, so
    * the contract is agreement at the rounded precision, which the full
    * oracle hash-checks at all tiers. */
  val aggRegressionFit: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)").as("n"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
          .as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"))
      .orderBy("l_returnflag")

  /** Per-segment median-price statistics, once per (session, sfDir) —
    * the ANALYZE-category artifact [[aggMedianMadApprox]] broadcasts.
    * Same cost class as the star catalog's column stats: one offline
    * aggregate at load time (a 5-row result — report-sized collect),
    * amortized over every dashboard refresh. approx_percentile at
    * accuracy 10000 bounds the rank error at n/10000 — indistinguishable
    * from the exact median at any group size that matters, and the
    * sketch is mergeable so the pass stays one shuffle at 100 TB. */
  private[graft] def segmentMedians(spark: SparkSession,
      sfDir: String): Seq[(String, Double)] =
    memo(spark, sfDir, "segmentMedians") {
      val o = Tables(spark, sfDir, "orders")
      val cust = Tables(spark, sfDir, "customer")
      o.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(expr("approx_percentile(o_totalprice, 0.5, 10000)").as("med"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }

  /** The stats artifacts this module computes once per (session, sfDir) —
    * see [[graft.util.SessionMemo]]. */
  private val memo = new graft.util.SessionMemo

  /** Single-scan MEDIAN+MAD twin (VERDICT r11 #5 — agg_median_mad was
    * the last two-fact-scan operator without one; the histogram pair is
    * the template): the per-segment median comes from the stats artifact
    * above instead of an in-query fact reduction, so the deviation pass
    * is the ONLY scan of orders in the plan (PlanSpec asserts it) — at
    * 100 TB that second scan is a real 2×, so this is the production
    * spelling. MAD itself is approx_percentile over the deviations at
    * the same accuracy-10000 bound. Weak-form oracle (round 15): exact
    * median/MAD columns hash-matched by DuckDB + 1% bound booleans
    * pinned TRUE; ApproxSpec additionally pins both columns in CI. */
  val aggMedianMadApprox: QFn = (spark, sfDir) => {
    import spark.implicits._
    val meds = segmentMedians(spark, sfDir).toDF("c_mktsegment", "med")
    val o = Tables(spark, sfDir, "orders")
    val cust = Tables(spark, sfDir, "customer")
    o.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
      .join(broadcast(meds), Seq("c_mktsegment"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(first(col("med")), 4).as("median_price"),
        round(expr("approx_percentile(abs(o_totalprice - med), 0.5, 10000)"), 4)
          .as("mad"))
      .orderBy("c_mktsegment")
  }

  /** Revenue-concentration (Gini) report per market segment — the
    * "how top-heavy is this segment" KPI behind whale dashboards:
    * G = 2·Σrᵢxᵢ / (n·Σxᵢ) − (n+1)/n over customers ranked ascending by
    * revenue. Everything before the final division is EXACT: per-customer
    * revenue is a decimal sum, ranks are row_number with a custkey
    * tie-break, and Σr·x accumulates decimal×int products — so the one
    * double expression at the end evaluates identically in DuckDB and the
    * full oracle hash-matches. The rank window partitions by segment
    * (customer-dimension scale, ~n_cust/5 per partition — dimension-sized,
    * never fact-sized; at 100 TB the per-segment sort is a range exchange
    * over customers, not orders). */
  val aggGiniRevenue: QFn = (spark, sfDir) => {
    val rev = Tables(spark, sfDir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
    val cust = Tables(spark, sfDir, "customer")
    val seg = rev.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_custkey"), col("rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_mktsegment").orderBy(col("rev"), col("o_custkey"))
    seg.withColumn("r", row_number().over(w))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev")).as("sx"),
        sum(col("rev") * col("r")).as("srx"))
      .select(col("c_mktsegment"), col("n_customers"),
        round(col("sx").cast("double"), 2).as("total_revenue"),
        round(lit(2.0) * col("srx").cast("double")
            / (col("n_customers") * col("sx").cast("double"))
          - (col("n_customers") + 1) / col("n_customers"), 6).as("gini"))
      .orderBy("c_mktsegment")
  }

  /** Exact distinct users per event type via the native paged-bitmap
    * aggregate (BitmapExprs.scala) — the EXACT-arithmetic sibling of
    * [[aggHllMergeable]] and the alternative physical strategy to
    * `count(DISTINCT …)`: Catalyst's distinct plan ships every distinct
    * (group, user) pair through the first exchange, while bitmap OR is
    * a mergeable map-side combine whose shuffle rows are one compressed
    * bitmap per (group, map task) — bytes ∝ distinct/8, never rows. On a
    * dense surrogate-key space (this user_id domain) that is ~1 bit per
    * distinct key; the result is exact and partitioning-invariant, so the
    * full DuckDB count(DISTINCT) oracle hash-matches. */
  val aggBitmapDistinct: QFn = (spark, sfDir) => {
    val ev = Tables(spark, sfDir, "events")
    ev.groupBy("event_type")
      .agg(expr("bitmap_distinct(user_id)").as("exact_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** Heavy-hitter point estimates from a Count-Min sketch — the third
    * classic mergeable sketch beside HLL (distinct counts, above) and the
    * percentile t-digest: per-partition sketches merge by counter
    * addition inside Spark's own `count_min_sketch` aggregate (map-side
    * combined), so the fact scan ships one eps-wide counter table per
    * partition — O(1) state regardless of key cardinality, the property
    * that lets a 100 TB scan answer per-key frequency questions without a
    * per-key shuffle. The deterministic 50-key candidate panel rides the
    * SAME single-group aggregate (collect_set over a when(), bounded by
    * the panel size), so the whole operator is ONE fact scan; the native
    * cms_estimate expression then answers the panel in one sketch
    * deserialization on the 1-row result. Re-probing new candidates
    * later costs only that metadata step — the sketch is the reusable
    * artifact. eps = 1e-4 →
    * overcount ≤ 1e-4·N w.p. ≥ 0.99 per key; estimates can never
    * undercount. No DuckDB oracle (no CMS there); ApproxSpec pins the
    * deterministic ≥-exact bound, the eps band, and mergeability
    * (per-type sketches merged == whole-column sketch). */
  val aggHeavyHittersCms: QFn = (spark, sfDir) => {
    val ev = Tables(spark, sfDir, "events")
    // sketch AND candidate panel from the SAME aggregate — one fact scan
    // (review r11: a separate filter+distinct pass paid a second full
    // scan for 50 keys of metadata). collect_set skips the nulls the
    // when() assigns to non-panel rows and its buffer is bounded by the
    // panel size, so the single-group aggregate stays map-side-partial.
    val sketchAndPanel = ev.agg(
      // eps interpolated from VerifyBounds so the verify frame's eps·N
      // band provably matches the sketch it grades (ADVICE r15)
      expr(s"count_min_sketch(user_id, cast(${VerifyBounds.CmsEps} as double), " +
        "cast(0.99 as double), 42)")
        .as("sk"),
      sort_array(collect_set(when(col("user_id") < 50, col("user_id"))))
        .as("keys"))
    sketchAndPanel
      .select(col("keys"), expr("cms_estimate(sk, keys)").as("ests"))
      .select(posexplode(col("keys")).as(Seq("i", "user_id")), col("ests"))
      .select(col("user_id"), expr("ests[i]").as("est_cnt"))
      .orderBy("user_id")
  }

  /** Week-over-week user retention — the canonical funnel-health metric one
    * step past the reference's per-stage counts (README.md:102,160): of the
    * users active in week w, how many are also active in week w+1. One
    * distinct pass builds the (week, user) activity set; the self-join back
    * onto the following week is keyed on (week, user) — shuffle bounded by
    * active users per week, never raw events. */
  val aggRetentionWeekly: QFn = (spark, sfDir) => {
    val uw = Tables(spark, sfDir, "events")
      .select(date_trunc("week", col("ts")).as("wk"), col("user_id"))
      .distinct()
    val nxt = uw.select((col("wk") - expr("interval 7 days")).as("wk"),
      col("user_id").as("u2"))
    uw.join(nxt, uw("wk") === nxt("wk") && col("user_id") === col("u2"), "left")
      .groupBy(uw("wk"))
      .agg(count(lit(1)).as("active_users"), count(col("u2")).as("retained_users"))
      .select(date_format(uw("wk"), "yyyy-MM-dd").as("week"),
        col("active_users"), col("retained_users"),
        round(col("retained_users").cast("double") / col("active_users"), 4)
          .as("retention"))
      .orderBy("week")
  }

  /** Customer spend deciles — the segmentation cut behind "top 10% of
    * customers" dashboards, in the shape that survives 100 TB: decile
    * BOUNDARIES from one percentile aggregate, broadcast back, assignment
    * by range. A `ntile(10) OVER (ORDER BY ...)` spelling forces every row
    * through ONE task for the global rank; here no row-bearing exchange is
    * single-partition — the only SinglePartition hop carries the 9-element
    * boundary array (percentile's combined partial buffers), and the fact
    * rows flow map-side-only from aggregate to assignment. Ties share a
    * decile by construction (equal spend ⇒ equal decile — arguably sounder
    * segmentation than ntile's arbitrary tie split). Exact `percentile`
    * keeps the DuckDB oracle replayable (quantile_cont, same type-7
    * interpolation); at 100 TB swap in approx_percentile — the plan shape
    * is unchanged. PlanSpec asserts no single-partition Sort/Window. */
  val windowNtileDecile: QFn = (spark, sfDir) => {
    val s = Tables(spark, sfDir, "orders")
      .groupBy("o_custkey")
      .agg(round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
        .as("total_spend"))
    val bounds = s.agg(expr(
      "percentile(total_spend, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))")
      .as("bs"))
    // decile 1 = top spenders: 10 minus the count of boundaries strictly
    // below the value (v > p90 ⇒ 9 below ⇒ decile 1; v <= p10 ⇒ decile 10)
    s.crossJoin(broadcast(bounds))
      .select(col("o_custkey"), col("total_spend"),
        (lit(10) - size(expr("filter(bs, b -> b < total_spend)"))).cast("int")
          .as("decile"))
      .orderBy("o_custkey")
  }

  /** Top-N per group — "each customer's 3 largest orders", the per-entity
    * leaderboard every BI surface ships (vs sort_topk_categories' GLOBAL
    * top-k). Spelled as the rank-filter idiom (row_number over the
    * per-customer window, keep rank <= 3) because Spark 3.5+ rewrites
    * exactly this shape into a WindowGroupLimit: each map task keeps only
    * its local top-3 per key BEFORE the shuffle, so the exchange carries
    * <= 3 rows per (task, customer) instead of the whole fact table —
    * the map-side-combine property, applied to ranking. PlanSpec asserts
    * the WindowGroupLimit is present; the o_orderkey tie-break makes the
    * kept set deterministic under equal prices. */
  val windowTopnPerGroup: QFn = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy("o_custkey", "rk")
  }

  /** Second-moment statistics per return flag — the profiling pass behind
    * price-dispersion and quantity/price-relationship dashboards: sample
    * stddev, sample covariance, and Pearson correlation in ONE hash
    * aggregate. All three are algebraic (sum / sum-of-squares / sum-of-
    * products buffers), so Spark computes them map-side-partial like any
    * sum: the shuffle carries 5 buffer rows per partition regardless of
    * fact size — the shape that holds at 100 TB. Rounded because the two
    * engines accumulate in different orders (4dp on ~1e4-magnitude
    * moments, 6dp on the unit-scale correlation). */
  val aggStatsMoments: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_qty_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"))
      .orderBy("l_returnflag")

  /** Relative rank of each order within its customer's history —
    * percent_rank (share of peer orders strictly cheaper) and cume_dist
    * (share at-or-below), the "is this purchase unusually large for THIS
    * customer" primitive. Partitioned by o_custkey — high-cardinality, so
    * unlike a global rank the sort parallelizes across customers and no
    * partition outgrows one task at 100 TB (cf. the decile-boundary
    * rewrite for the coarse/global case). o_orderkey tie-break makes both
    * rank functions deterministic under equal prices. */
  val windowPercentRank: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("o_orderkey")
  }

  /** Per-user z-score anomaly flags — each event's value standardized
    * against its OWN user's mean/stddev, |z| > 2 flagged. The whole-
    * partition (unordered) window computes both moments in one pass over a
    * single user_id shuffle — no self-join of events against a per-user
    * stats aggregate, which would scan the fact twice. Single-event users
    * have sample stddev NULL ⇒ z NULL, flagged false (coalesce) — same
    * convention both engines share. The + 0.0 normalizes IEEE -0.0 (a
    * tiny-negative z rounds to -0.0 in one engine and +0.0 in the other;
    * adding positive zero maps both to +0.0). Scale: user_id is
    * high-cardinality and the state per partition is two running sums. */
  val windowZscoreAnomaly: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("user_id")
    val z = (col("value") - avg(col("value")).over(w)) /
      stddev_samp(col("value")).over(w)
    Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        (round(z, 4) + lit(0.0)).as("z"),
        coalesce(abs(z) > 2, lit(false)).as("is_anomaly"))
      .orderBy("event_id")
  }

  /** Null-safe dimension join (`<=>` / IS NOT DISTINCT FROM) — the lookup
    * shape for dimensions that carry an explicit "unknown" member: orders
    * whose priority is folded to NULL (the 3-MEDIUM default) still match
    * the dim's NULL row instead of silently dropping out of an inner join.
    * The dim is a literal handful of rows ⇒ broadcast hash join with the
    * null-safe predicate, zero shuffle on the fact side. */
  val joinNullSafe: QFn = (spark, sfDir) => {
    val dim = spark.createDataFrame(Seq(
      (Option("1-URGENT"), "urgent"),
      (Option("2-HIGH"), "high"),
      (Option.empty[String], "unspecified"))).toDF("pri", "label")
    val o = Tables(spark, sfDir, "orders")
      .select(nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("pri_n"),
        col("o_totalprice"))
    o.join(broadcast(dim), o("pri_n") <=> dim("pri"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_price"))
      .orderBy("label")
  }

  /** Dyadic EWMA revenue smoothing — exponential smoothing as a BOUNDED
    * window kernel: a true infinite EWMA is a sequential recurrence
    * (unparallelizable within a key without prefix-scan machinery);
    * truncating the α=1/2 kernel at 8 terms loses < 2^-8 of the weight
    * mass and turns it into a fixed set of lags — pure window functions,
    * ONE customer-keyed exchange, fully codegen'd. Determinism is by
    * construction: prices become exact integer cents (decimal(18,2)
    * recovers the 2dp value both engines stored), the dyadic weights
    * 2^(7-j) keep numerator and the adjusted denominator exact integers
    * (the early-history renormalization real EWMA implementations apply),
    * and the single final division is one rational — no float summation
    * order anywhere. The weight/lag chain is generated from one Seq
    * shared with the oracle SQL (the markerWords pattern). */
  val windowEwmaSmooth: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val xc = col("xc")
    val num = Seq.tabulate(8)(j =>
      coalesce(lag(xc, j).over(w), lit(0L)) * lit(1L << (7 - j))).reduce(_ + _)
    val den = Seq.tabulate(8)(j =>
      when(lag(xc, j).over(w).isNull, lit(0L)).otherwise(lit(1L << (7 - j))))
      .reduce(_ + _)
    Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_date"), col("o_orderdate"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("xc"))
      .withColumn("ewma", round(num.cast("double") / den / 100.0, 4))
      .select("o_custkey", "o_orderkey", "o_date", "ewma")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Event-type transition matrix — the Markov flow behind funnel sankeys
    * ("after viewing, what do users do next?"): for every consecutive
    * event pair within a user's timeline, count (from_type → to_type)
    * and row-normalize into transition shares. ONE user-keyed window
    * shuffle pairs each event with its successor (the same exchange
    * every sessionize/funnel op pays — at 100 TB a user-bucketed layout
    * makes it exchange-free); the transition aggregate then collapses
    * map-side to ≤ |types|² rows, and the share window runs on that tiny
    * frame, never the fact. (ts, event_id) ordering makes the successor
    * deterministic under timestamp ties on both engines. */
  val aggTransitionMatrix: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wf = Window.partitionBy("from_type")
    Tables(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("p", round(col("n_transitions").cast("double")
        / sum(col("n_transitions")).over(wf), 4))
      .orderBy("from_type", "to_type")
  }

  /** Blocked fuzzy entity-match (classic entity resolution over a product
    * catalog with near-duplicate listings): part pairs whose names sit
    * within Levenshtein distance 3, but ONLY compared inside
    * (p_brand, p_size) blocks. Blocking is what makes fuzzy matching
    * distributable: all-pairs edit distance is O(n²) and unshardable,
    * while the blocked form is an EQUI-join on the block key — one
    * shuffle, Σ|block|² comparisons (bounded by the largest block, 28
    * rows at sf0.1, a property of the blocking-key choice that holds
    * under scale-up because block count grows with the catalog). The
    * per-pair distance uses Spark's BANDED levenshtein(l, r, 3): the DP
    * short-circuits to O(threshold·len) per comparison and returns −1
    * above the band — at the kept threshold the banded value equals the
    * exact distance, so the DuckDB oracle (full levenshtein) hashes
    * identically. The canonical a<b orientation halves the pair space
    * and makes the result set deterministic. */
  val joinFuzzyLevenshtein: QFn = (spark, sfDir) => {
    val p = Tables(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
    val a = p.select(col("p_brand"), col("p_size"),
      col("p_partkey").as("partkey_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_brand"), col("p_size"),
      col("p_partkey").as("partkey_b"), col("p_name").as("name_b"))
    val banded = levenshtein(col("name_a"), col("name_b"), 3)
    a.join(b, Seq("p_brand", "p_size"))
      .filter(col("partkey_a") < col("partkey_b") && banded >= 0)
      .select(col("p_brand"), col("p_size"), col("partkey_a"),
        col("partkey_b"), col("name_a"), col("name_b"), banded.as("dist"))
      .orderBy("partkey_a", "partkey_b")
  }

  /** Table profiling (the ANALYZE-TABLE pass): row count, null count, and
    * exact distinct count for every column of orders in ONE scan — the
    * stats collection every optimizer and data-quality monitor runs
    * first. Spark plans the multiple exact count-distincts as a single
    * Expand (×(cols+1) rows map-side, then one partial/final agg) — still
    * one pass over the table; at 100 TB swap `countDistinct` for
    * `approx_count_distinct` (HLL buffers, Expand gone, same single
    * scan). The 1-row aggregate is reshaped to a row per column AFTER
    * aggregation — the unpivot touches driver-sized data, never the
    * fact. */
  val aggTableProfile: QFn = (spark, sfDir) => {
    val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
      "o_orderpriority", "o_orderstatus", "o_totalprice")
    val o = Tables(spark, sfDir, "orders")
    val wide = o.agg(count(lit(1)).as("n_rows"),
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
        countDistinct(col(c)).as(s"dist_$c"))): _*)
    wide.select(col("n_rows"), expr(
      "explode(arrays_zip(" +
        s"array(${cols.map(c => s"'$c'").mkString(",")}), " +
        s"array(${cols.map(c => s"nulls_$c").mkString(",")}), " +
        s"array(${cols.map(c => s"dist_$c").mkString(",")})))").as("z"))
      .select(col("z.0").as("column"), col("n_rows"),
        col("z.1").as("n_nulls"), col("z.2").as("n_distinct"))
      .orderBy("column")
  }

  /** Approx-tier twin of agg_percentile_price — the spelling the same
    * query runs at 100 TB: approx_percentile (Greenwald-Khanna/KLL
    * summaries) instead of exact percentile. Exact percentile materializes
    * every group's values into one sorted buffer per group — memory grows
    * with group size, the 100 TB killer; the sketch holds a bounded
    * summary (here ε = 1/10000) per group regardless of row count, merges
    * associatively map-side, and lands within ε·n ranks of the exact order
    * statistic. Weak-form oracle (round 15): Verify dumps the
    * estimate joined to the exact twin — exact columns hash-matched by
    * DuckDB + 1% bound booleans pinned TRUE; ApproxSpec additionally pins
    * the ε-rank tolerance in CI. */
  val aggPercentileApprox: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        round(expr("approx_percentile(o_totalprice, 0.5, 10000)"), 4).as("p50"),
        round(expr("approx_percentile(o_totalprice, 0.9, 10000)"), 4).as("p90"),
        count(lit(1)).as("cnt"))
      .orderBy("o_orderstatus")

  /** Approx-tier twin of agg_table_profile: HLL sketches in place of
    * exact countDistinct. The exact plan needs an Expand that replicates
    * every row (cols+1)× before aggregating — a 7× map-side blowup on a
    * 100 TB scan; the sketches aggregate all columns in ONE un-expanded
    * pass (ApproxSpec asserts the Expand is gone from the physical plan)
    * and merge map-side like any other partial aggregate.
    *
    * DataSketches `hll_sketch_agg` (lgConfigK 12 ⇒ ~1.6% RSE), NOT
    * `approx_count_distinct(c, 0.02)`: the HLL++ ImperativeAggregate at
    * rsd 0.02 flattens a 2¹²-register buffer into ~2.3k UnsafeRow slots
    * PER COLUMN — 6 columns put ~14k slots in the codegen'd init/merge,
    * too big to JIT, and the warm twin ran 2.2× SLOWER than the exact
    * Expand at sf0.01 (caught by ContractSpec's twin gate, round 10).
    * The DataSketches agg keeps each sketch as one opaque object
    * (ObjectHashAggregate), so buffer width never touches codegen.
    * `hll_sketch_agg` ingests int/long/string/binary only and the profile
    * columns span date/decimal — sketch the xxhash64 surrogate instead
    * (distinct-preserving up to ~n²/2⁶⁴ collision odds; an HLL hashes its
    * input anyway). Null must STAY null so the sketch skips it the way
    * approx_count_distinct does — xxhash64(null) evaluates to the seed,
    * which would count null as a real value; hence the CASE guard.
    * Null counts and n_rows stay exact (they never needed the Expand).
    * Weak-form oracle (round 15): exact n_distinct columns hash-matched
    * by DuckDB + 5% bound boolean pinned TRUE; ApproxSpec additionally
    * pins the estimates in CI. */
  val aggProfileApprox: QFn = (spark, sfDir) => {
    val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
      "o_orderpriority", "o_orderstatus", "o_totalprice")
    val o = Tables(spark, sfDir, "orders")
    val wide = o.agg(count(lit(1)).as("n_rows"),
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
        expr(s"hll_sketch_estimate(hll_sketch_agg(" +
          s"CASE WHEN $c IS NULL THEN NULL ELSE xxhash64($c) END, 12))")
          .as(s"dist_$c"))): _*)
    wide.select(col("n_rows"), expr(
      "explode(arrays_zip(" +
        s"array(${cols.map(c => s"'$c'").mkString(",")}), " +
        s"array(${cols.map(c => s"nulls_$c").mkString(",")}), " +
        s"array(${cols.map(c => s"dist_$c").mkString(",")})))").as("z"))
      .select(col("z.0").as("column"), col("n_rows"),
        col("z.1").as("n_nulls"), col("z.2").as("n_distinct_approx"))
      .orderBy("column")
  }

  // -----------------------------------------------------------------------
  // Weak-form oracles for the approx twins (VERDICT r14 queue #4). The
  // sketch ESTIMATES are engine-specific (no DuckDB replay), but the claim
  // each twin makes — "within the documented bound of the exact answer" —
  // IS verifiable with DuckDB in the loop: each verify frame joins the
  // approx op's output to its exact twin and emits the exact columns
  // (hash-checked against DuckDB verbatim, the same roundings the exact
  // twins already hash-match with) plus one boolean per estimate asserting
  // the bound (ApproxSpec's tolerances: 1% for the rank sketches, 5% for
  // HLL at lgK 12). The oracle emits TRUE literals, so a drifting sketch
  // hash-fails its row instead of hiding behind no_oracle. Consumed ONLY
  // by Verify (SparkEntry.verifyQueries) — Bench times the production
  // approx plans, never these exact-joined verification shapes.
  // -----------------------------------------------------------------------

  private def percentileApproxJoined(spark: SparkSession, sfDir: String) = {
    val est = aggPercentileApprox(spark, sfDir)
      .withColumnRenamed("p50", "p50_est").withColumnRenamed("p90", "p90_est")
    val exact = Tables(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("e50"),
        expr("percentile(o_totalprice, 0.9)").as("e90"))
    est.join(exact, Seq("o_orderstatus"))
  }

  private[graft] val verifyPercentileApprox: QFn = (spark, sfDir) =>
    percentileApproxJoined(spark, sfDir)
      .select(col("o_orderstatus"), col("cnt"),
        round(col("e50"), 4).as("p50_exact"),
        round(col("e90"), 4).as("p90_exact"),
        (abs(col("p50_est") - col("e50"))
          <= lit(VerifyBounds.PctRelTol) * abs(col("e50"))).as("p50_ok"),
        (abs(col("p90_est") - col("e90"))
          <= lit(VerifyBounds.PctRelTol) * abs(col("e90"))).as("p90_ok"))
      .orderBy("o_orderstatus")

  private def medianMadApproxJoined(spark: SparkSession, sfDir: String) = {
    val est = aggMedianMadApprox(spark, sfDir)
      .select(col("c_mktsegment"), col("median_price").as("med_est"),
        col("mad").as("mad_est"))
    // Rank-slack columns: the sketch's guarantee is OBSERVED-value within
    // ε·n RANKS of the true order statistic, so the honest value bound is
    // "within 1% relative OR within the value width of ±0.5% ranks around
    // the median" (±0.5% ≥ max(1, ε·n)/n ranks for every n ≥ 200 at
    // ε = 1/10000 — covers one adjacent-rank gap at sf0.001's ~300-order
    // segments, where the gap alone exceeds 1% of the MAD, and shrinks to
    // ≪1% at driver tiers). Verify-only frames, so the two extra exact
    // scans cost nothing at bench time.
    val seg = Tables(spark, sfDir, "orders")
      .join(broadcast(Tables(spark, sfDir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
    val medRaw = seg.groupBy("c_mktsegment")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med_raw"))
    val slack = seg.join(broadcast(medRaw), Seq("c_mktsegment"))
      .groupBy("c_mktsegment")
      .agg(
        expr(s"percentile(o_totalprice, ${VerifyBounds.RankSlackHi}) - " +
          s"percentile(o_totalprice, ${VerifyBounds.RankSlackLo})").as("slack_med"),
        expr(s"percentile(abs(o_totalprice - med_raw), ${VerifyBounds.RankSlackHi}) - " +
          s"percentile(abs(o_totalprice - med_raw), ${VerifyBounds.RankSlackLo})")
          .as("slack_mad"))
    aggMedianMad(spark, sfDir)
      .join(est, Seq("c_mktsegment"))
      .join(slack, Seq("c_mktsegment"))
  }

  private[graft] val verifyMedianMadApprox: QFn = (spark, sfDir) =>
    medianMadApproxJoined(spark, sfDir)
      .select(col("c_mktsegment"), col("n_orders"),
        col("median_price").as("median_exact"),
        col("mad").as("mad_exact"),
        (abs(col("med_est") - col("median_price"))
          <= greatest(lit(VerifyBounds.PctRelTol) * abs(col("median_price")),
            col("slack_med"))).as("med_ok"),
        (abs(col("mad_est") - col("mad"))
          <= greatest(lit(VerifyBounds.PctRelTol) * abs(col("mad")),
            col("slack_mad"))).as("mad_ok"))
      .orderBy("c_mktsegment")

  private def profileApproxJoined(spark: SparkSession, sfDir: String) = {
    val est = aggProfileApprox(spark, sfDir)
      // hll_sketch_estimate is BIGINT — double here so the bound check and
      // the deltas artifact share one arithmetic type
      .select(col("column"), col("n_distinct_approx").cast("double")
        .as("n_distinct_approx"))
    aggTableProfile(spark, sfDir).join(est, Seq("column"))
  }

  private[graft] val verifyProfileApprox: QFn = (spark, sfDir) =>
    profileApproxJoined(spark, sfDir)
      .select(col("column"), col("n_rows"), col("n_nulls"), col("n_distinct"),
        (abs(col("n_distinct_approx") - col("n_distinct"))
          <= lit(VerifyBounds.HllRelErr) * col("n_distinct")).as("dist_ok"))
      .orderBy("column")

  private def hllMergeableJoined(spark: SparkSession, sfDir: String) = {
    val exact = Tables(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    aggHllMergeable(spark, sfDir).join(exact, Seq("event_type"))
  }

  private[graft] val verifyHllMergeable: QFn = (spark, sfDir) =>
    hllMergeableJoined(spark, sfDir)
      .select(col("event_type"), col("n_days"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= lit(VerifyBounds.HllRelErr) * col("exact_users")).as("hll_ok"))
      .orderBy("event_type")

  private def heavyHittersCmsJoined(spark: SparkSession, sfDir: String) = {
    val ev = Tables(spark, sfDir, "events")
    val exact = ev.filter(col("user_id") < 50)
      .groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
    // total-count scalar rides in broadcast (1 row) — the eps·N band needs N
    val n = ev.agg(count(lit(1)).as("n_total"))
    aggHeavyHittersCms(spark, sfDir)
      .join(exact, Seq("user_id")).crossJoin(broadcast(n))
  }

  private[graft] val verifyHeavyHittersCms: QFn = (spark, sfDir) =>
    heavyHittersCmsJoined(spark, sfDir)
      .select(col("user_id"), col("exact_cnt"),
        // deterministic CMS guarantee: counters only add, never undercount
        (col("est_cnt") >= col("exact_cnt")).as("lower_ok"),
        // eps·N band with the same 2× slack ApproxSpec uses (seed fixed,
        // so the w.p.-0.99 bound is deterministic for this data)
        (col("est_cnt") <= col("exact_cnt") +
          greatest(lit(1L), ceil(lit(VerifyBounds.CmsSlack * VerifyBounds.CmsEps)
            * col("n_total")).cast("long"))).as("upper_ok"))
      .orderBy("user_id")

  private def hllOverlapJoined(spark: SparkSession, sfDir: String) = {
    val o = Tables(spark, sfDir, "orders")
    val perSt = o.groupBy(col("o_orderstatus").as("st"))
      .agg(countDistinct(col("o_custkey")).as("n"))
    val pairs = perSt.select(col("st").as("status_a"), col("n").as("exact_a"))
      .join(perSt.select(col("st").as("status_b"), col("n").as("exact_b")),
        col("status_a") < col("status_b"))
    // exact per-pair union: distinct (status, custkey) against the 3-row
    // pair frame (broadcast nested loop on metadata, one fact distinct)
    val du = o.select(col("o_orderstatus").as("st"),
      col("o_custkey").as("ck")).distinct()
    val exactUnion = broadcast(pairs.select("status_a", "status_b"))
      .join(du, col("st") === col("status_a") || col("st") === col("status_b"))
      .groupBy("status_a", "status_b")
      .agg(countDistinct(col("ck")).as("exact_union"))
    aggHllOverlap(spark, sfDir)
      .join(pairs, Seq("status_a", "status_b"))
      .join(exactUnion, Seq("status_a", "status_b"))
      .withColumn("exact_intersect",
        col("exact_a") + col("exact_b") - col("exact_union"))
  }

  private[graft] val verifyHllOverlap: QFn = (spark, sfDir) =>
    hllOverlapJoined(spark, sfDir)
      .select(col("status_a"), col("status_b"),
        col("exact_a"), col("exact_b"), col("exact_union"),
        col("exact_intersect"),
        (abs(col("users_a") - col("exact_a"))
          <= lit(VerifyBounds.HllRelErr) * col("exact_a")).as("a_ok"),
        (abs(col("users_b") - col("exact_b"))
          <= lit(VerifyBounds.HllRelErr) * col("exact_b")).as("b_ok"),
        (abs(col("users_union") - col("exact_union"))
          <= lit(VerifyBounds.HllRelErr) * col("exact_union")).as("union_ok"),
        // inclusion-exclusion compounds three estimates — the honest
        // error scale is the UNION cardinality, not the intersection's
        (abs(col("users_intersect") - col("exact_intersect"))
          <= lit(VerifyBounds.HllRelErr) * col("exact_union")).as("intersect_ok"))
      .orderBy("status_a", "status_b")

  /** Verification-frame overrides, keyed by the op they verify — applied
    * by Verify in place of the raw op dump (and nowhere else). */
  val verifyQueries: Map[String, QFn] = Map(
    "agg_percentile_approx" -> verifyPercentileApprox,
    "agg_median_mad_approx" -> verifyMedianMadApprox,
    "agg_profile_approx" -> verifyProfileApprox,
    "agg_hll_mergeable" -> verifyHllMergeable,
    "agg_heavy_hitters_cms" -> verifyHeavyHittersCms,
    "agg_hll_overlap" -> verifyHllOverlap)

  /** Machine-readable estimate-vs-exact evidence for the weak-oracle rows
    * (VERDICT r14 queue #9): Verify dumps this as approx_deltas.json next
    * to the correctness parquet, so the sketch rows carry their measured
    * deltas in the artifact the driver reads rather than a bare pass.
    * Rows are (op, group, metric, estimate, exact) — report-sized
    * collects (5-6 groups per op), restricted to `ops` so a subset Verify
    * never publishes deltas for rows whose dumps it did not refresh
    * (review r15). The joined frames re-execute here rather than reusing
    * the dump pass's results — a verify-time-only double cost of seconds,
    * taken for the simpler one-shot shape. */
  def approxDeltas(spark: SparkSession, sfDir: String,
      ops: Set[String]): Seq[(String, String, String, Double, Double)] = {
    val p = if (!ops("agg_percentile_approx")) Nil
      else percentileApproxJoined(spark, sfDir).collect().toSeq.flatMap { r =>
        val g = r.getAs[String]("o_orderstatus")
        Seq(("agg_percentile_approx", g, "p50",
              r.getAs[Double]("p50_est"), r.getAs[Double]("e50")),
            ("agg_percentile_approx", g, "p90",
              r.getAs[Double]("p90_est"), r.getAs[Double]("e90")))
      }
    val m = if (!ops("agg_median_mad_approx")) Nil
      else medianMadApproxJoined(spark, sfDir).collect().toSeq.flatMap { r =>
        val g = r.getAs[String]("c_mktsegment")
        Seq(("agg_median_mad_approx", g, "median",
              r.getAs[Double]("med_est"), r.getAs[Double]("median_price")),
            ("agg_median_mad_approx", g, "mad",
              r.getAs[Double]("mad_est"), r.getAs[Double]("mad")))
      }
    val d = if (!ops("agg_profile_approx")) Nil
      else profileApproxJoined(spark, sfDir).collect().toSeq.map { r =>
        ("agg_profile_approx", r.getAs[String]("column"), "n_distinct",
          r.getAs[Double]("n_distinct_approx"),
          r.getAs[Long]("n_distinct").toDouble)
      }
    val h = if (!ops("agg_hll_mergeable")) Nil
      else hllMergeableJoined(spark, sfDir).collect().toSeq.map { r =>
        ("agg_hll_mergeable", r.getAs[String]("event_type"), "distinct_users",
          r.getAs[Long]("approx_users").toDouble,
          r.getAs[Long]("exact_users").toDouble)
      }
    val c = if (!ops("agg_heavy_hitters_cms")) Nil
      else heavyHittersCmsJoined(spark, sfDir).collect().toSeq.map { r =>
        ("agg_heavy_hitters_cms", r.getAs[Long]("user_id").toString, "count",
          r.getAs[Long]("est_cnt").toDouble,
          r.getAs[Long]("exact_cnt").toDouble)
      }
    val ov = if (!ops("agg_hll_overlap")) Nil
      else hllOverlapJoined(spark, sfDir).collect().toSeq.flatMap { r =>
        val g = s"${r.getAs[String]("status_a")}|${r.getAs[String]("status_b")}"
        Seq(("agg_hll_overlap", g, "union",
              r.getAs[Long]("users_union").toDouble,
              r.getAs[Long]("exact_union").toDouble),
            ("agg_hll_overlap", g, "intersect",
              r.getAs[Long]("users_intersect").toDouble,
              r.getAs[Long]("exact_intersect").toDouble))
      }
    p ++ m ++ d ++ h ++ c ++ ov
  }

  /** First/last order per customer carried onto every row — the
    * "first-touch / latest-state" enrichment pattern (first order date for
    * cohort assignment, latest order key for current-state lookups)
    * without a separate min/max aggregate joined back. last_value needs
    * the explicit full frame: the default frame stops at CURRENT ROW,
    * which silently yields the running last — a classic window bug, pinned
    * here with the correct unbounded spelling. One high-cardinality
    * customer shuffle, same scale behavior as the other customer windows. */
  val windowFirstLastValue: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        first(col("o_orderkey")).over(full).as("first_orderkey"),
        last(col("o_orderkey")).over(full).as("last_orderkey"),
        datediff(max(col("o_orderdate")).over(full),
          min(col("o_orderdate")).over(full)).as("history_days"))
      .orderBy("o_orderkey")
  }

  /** Deequ-style data-quality constraint suite, evaluated in ONE scan:
    * completeness (null counts), range/outlier bounds, domain membership,
    * and key uniqueness all ride the same aggregate as conditional sums
    * (the uniqueness check shares the scan via count distinct's Expand);
    * only referential integrity needs a second input — a broadcast
    * anti-join against the dimension's key column. The naive spelling is
    * one pass PER RULE, which at 100 TB turns a 6-rule suite into 6 full
    * table reads; this is the fused shape Deequ compiles to. The per-rule
    * reshape happens on the 1-row aggregate, never the fact. */
  val aggQualityConstraints: QFn = (spark, sfDir) => {
    val o = Tables(spark, sfDir, "orders")
    val wide = o.agg(
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("null_orderdate"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("price_positive"),
      // review-flag rule that actually fires, exercising nonzero counts
      sum(when(col("o_totalprice") > 400000, 1L).otherwise(0L)).as("price_outlier_400k"),
      sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
        .as("status_domain"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("unique_orderkey"))
    val rules = Seq("null_custkey", "null_orderdate", "price_positive",
      "price_outlier_400k", "status_domain", "unique_orderkey")
    val scanRules = wide.select(explode(array(rules.map(r =>
      struct(lit(r).as("rule"), col(r).as("n_violations"))): _*)).as("r"))
      .select(col("r.rule"), col("r.n_violations"))
    val fk = o.join(
      broadcast(Tables(spark, sfDir, "customer").select(col("c_custkey"))),
      col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("fk_custkey_exists").as("rule"), col("n_violations"))
    scanRules.unionByName(fk)
      .withColumn("pass", col("n_violations") === 0)
      .orderBy("rule")
  }

  /** Per-user modal event type ("what does this user mostly do") with a
    * DETERMINISTIC tie-break — the built-in `mode()` picks an arbitrary
    * winner on ties, which would make the oracle hash unstable. Spelling:
    * count per (user, type) — one shuffle with map-side partial agg over
    * the fact — then a row_number window ordered (cnt DESC, event_type ASC)
    * over the SMALL counts frame (|users × event types| ≪ |events|), so
    * the second shuffle moves only the aggregate. Both stages partition by
    * the high-cardinality user_id. */
  val aggModeFrequent: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("cnt").desc, col("event_type").asc)
    Tables(spark, sfDir, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("top_event"), col("cnt"))
      .orderBy("user_id")
  }

  /** Trailing-7-day distinct active users per day — the rolling-reach
    * metric every engagement dashboard carries. A window function cannot
    * spell this (COUNT(DISTINCT) OVER a range frame is unsupported, and a
    * collect_set frame would buffer raw users per row); the scale-right
    * spelling dedups to the (day, user) grain FIRST — the fact collapses
    * from |events| to active user-days — then each active pair
    * contributes to the ≤7 window-ends it can influence via a bounded
    * sequence-explode (×7, the frame width, NOT the data), and one
    * distinct-count per window_end finishes. Shuffle = 7×|user-days|,
    * never raw events; the inner join against the observed-days frame
    * (30 rows, broadcast) drops phantom window-ends past the horizon.
    * At 100 TB the same plan holds: the day-grain dedup is the only
    * full-fact shuffle, and map-side partial distinct collapses each
    * partition's duplicates before it. (The approx tier swaps the final
    * countDistinct for per-day HLL sketches unioned across the frame —
    * agg_hll_mergeable shows that machinery; exact kept here for the
    * oracle.) */
  val windowRollingDistinct: QFn = (spark, sfDir) => {
    val du = Tables(spark, sfDir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = du.select(col("day").as("window_end")).distinct()
    du.select(explode(sequence(col("day"), date_add(col("day"), 6)))
        .as("window_end"), col("user_id"))
      .join(broadcast(days), Seq("window_end"))
      .groupBy("window_end")
      .agg(countDistinct(col("user_id")).as("users_7d"))
      .orderBy("window_end")
  }

  val queries: Map[String, QFn] = Map(
    "window_ewma_smooth" -> windowEwmaSmooth,
    "agg_transition_matrix" -> aggTransitionMatrix,
    "join_fuzzy_levenshtein" -> joinFuzzyLevenshtein,
    "window_rolling_distinct" -> windowRollingDistinct,
    "agg_quality_constraints" -> aggQualityConstraints,
    "agg_mode_frequent" -> aggModeFrequent,
    "agg_retention_weekly" -> aggRetentionWeekly,
    "agg_stats_moments" -> aggStatsMoments,
    "agg_table_profile" -> aggTableProfile,
    "agg_percentile_approx" -> aggPercentileApprox,
    "agg_profile_approx" -> aggProfileApprox,
    "window_first_last_value" -> windowFirstLastValue,
    "window_percent_rank" -> windowPercentRank,
    "window_topn_per_group" -> windowTopnPerGroup,
    "window_zscore_anomaly" -> windowZscoreAnomaly,
    "join_null_safe" -> joinNullSafe,
    "window_ntile_decile" -> windowNtileDecile,
    "agg_pivot_status" -> aggPivotStatus,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_hll_mergeable" -> aggHllMergeable,
    "agg_hll_overlap" -> aggHllOverlap,
    "agg_bitmap_distinct" -> aggBitmapDistinct,
    "agg_gini_revenue" -> aggGiniRevenue,
    "fn_string_agg_export" -> fnStringAggExport,
    "agg_median_mad" -> aggMedianMad,
    "agg_median_mad_approx" -> aggMedianMadApprox,
    "agg_regression_fit" -> aggRegressionFit,
    "fn_unpivot_long" -> fnUnpivotLong,
    "window_ratio_share" -> windowRatioShare,
    "agg_heavy_hitters_cms" -> aggHeavyHittersCms,
    "window_rolling_avg" -> windowRollingAvg,
    "window_rolling_median" -> windowRollingMedian,
    "window_rolling_range" -> windowRollingRange,
    "window_lag_lead_delta" -> windowLagLeadDelta,
    "join_skew_salted" -> joinSkewSalted,
    "join_skew_aqe" -> joinSkewAqe,
    "join_runtime_bloom" -> joinRuntimeBloom,
  )

  // lag/weight chain shared with windowEwmaSmooth — both renderings come
  // from the same Seq.tabulate(8) so the kernel can't drift
  private val ewmaNumSql: String = Seq.tabulate(8)(j =>
    s"coalesce(lag(xc, $j) OVER w, 0) * ${1L << (7 - j)}").mkString(" + ")
  private val ewmaDenSql: String = Seq.tabulate(8)(j =>
    s"CASE WHEN lag(xc, $j) OVER w IS NULL THEN 0 ELSE ${1L << (7 - j)} END")
    .mkString(" + ")

  val oracleSql: Map[String, String] = Map(
    // pivot→unpivot round trip ≡ the plain GROUP BY (zero-count cells
    // introduced by the pivot are filtered back out)
    "fn_unpivot_long" ->
      ("SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders " +
        "FROM orders GROUP BY 1, 2 HAVING count(*) > 0 ORDER BY 1, 2"),
    "window_ratio_share" ->
      ("WITH rep AS (SELECT o_orderpriority, o_orderstatus, " +
        "sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev " +
        "FROM orders GROUP BY 1, 2) " +
        "SELECT o_orderpriority, o_orderstatus, " +
        "ROUND(CAST(rev AS DOUBLE), 2) AS revenue, " +
        "ROUND(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER " +
        "(PARTITION BY o_orderpriority) AS DOUBLE), 6) AS share " +
        "FROM rep ORDER BY 1, 2"),
    "fn_string_agg_export" ->
      ("SELECT o_orderstatus, string_agg(o_orderpriority, '|' ORDER BY o_orderpriority) " +
        "AS priorities, CAST(count(*) AS BIGINT) AS n_distinct " +
        "FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders) " +
        "GROUP BY 1 ORDER BY 1"),
    "window_rolling_median" ->
      ("SELECT o_custkey, o_orderkey, o_orderdate, " +
        "ROUND(quantile_cont(o_totalprice, 0.5) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS med_5 " +
        "FROM orders ORDER BY o_custkey, o_orderkey"),
    "agg_regression_fit" ->
      ("SELECT l_returnflag, CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n, " +
        "ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope, " +
        "ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept, " +
        "ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2 " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),
    "agg_median_mad" ->
      ("WITH seg AS (SELECT c_mktsegment, o_totalprice FROM orders " +
        "JOIN customer ON o_custkey = c_custkey), " +
        "med AS (SELECT c_mktsegment, quantile_cont(o_totalprice, 0.5) AS med " +
        "FROM seg GROUP BY 1) " +
        "SELECT seg.c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, " +
        "ROUND(min(med), 4) AS median_price, " +
        "ROUND(quantile_cont(abs(o_totalprice - med), 0.5), 4) AS mad " +
        "FROM seg JOIN med ON seg.c_mktsegment = med.c_mktsegment " +
        "GROUP BY 1 ORDER BY 1"),
    // exact decimal rank-sums; the single double division replays in DuckDB
    "agg_gini_revenue" ->
      ("WITH rev AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev " +
        "FROM orders GROUP BY 1), " +
        "seg AS (SELECT c_mktsegment, o_custkey, rev, CAST(row_number() OVER " +
        "(PARTITION BY c_mktsegment ORDER BY rev, o_custkey) AS BIGINT) AS r " +
        "FROM rev JOIN customer ON o_custkey = c_custkey) " +
        "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers, " +
        "ROUND(CAST(sum(rev) AS DOUBLE), 2) AS total_revenue, " +
        "ROUND(2.0 * CAST(sum(rev * r) AS DOUBLE) / (count(*) * CAST(sum(rev) AS DOUBLE)) " +
        "- (count(*) + 1) / count(*), 6) AS gini " +
        "FROM seg GROUP BY 1 ORDER BY 1"),
    // bitmap OR is exact, so the plain distinct-count oracle hash-matches
    "agg_bitmap_distinct" ->
      ("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, " +
        "CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1 ORDER BY 1"),
    "window_ewma_smooth" ->
      ("WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc FROM orders), " +
        "l AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date, " +
        s"($ewmaNumSql) AS num, ($ewmaDenSql) AS den " +
        "FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) " +
        "SELECT o_custkey, o_orderkey, o_date, " +
        "ROUND(CAST(num AS DOUBLE) / den / 100, 4) AS ewma " +
        "FROM l ORDER BY o_custkey, o_orderkey"),
    "agg_transition_matrix" ->
      ("WITH s AS (SELECT event_type, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events) " +
        "SELECT event_type AS from_type, next_type AS to_type, " +
        "CAST(count(*) AS BIGINT) AS n_transitions, " +
        "ROUND(CAST(count(*) AS DOUBLE) / " +
        "CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE), 4) AS p " +
        "FROM s WHERE next_type IS NOT NULL " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "join_fuzzy_levenshtein" ->
      ("SELECT a.p_brand, a.p_size, a.p_partkey AS partkey_a, " +
        "b.p_partkey AS partkey_b, a.p_name AS name_a, b.p_name AS name_b, " +
        "CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist " +
        "FROM part a JOIN part b ON a.p_brand = b.p_brand " +
        "AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey " +
        "WHERE levenshtein(a.p_name, b.p_name) <= 3 " +
        "ORDER BY partkey_a, partkey_b"),
    "window_rolling_distinct" ->
      ("WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id " +
        "FROM events), days AS (SELECT DISTINCT day FROM du) " +
        "SELECT d.day AS window_end, count(DISTINCT u.user_id) AS users_7d " +
        "FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day " +
        "GROUP BY 1 ORDER BY 1"),
    "agg_quality_constraints" ->
      ("WITH w AS (SELECT " +
        "sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_custkey, " +
        "sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS null_orderdate, " +
        "sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS price_positive, " +
        "sum(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END) AS price_outlier_400k, " +
        "sum(CASE WHEN NOT (o_orderstatus IN ('F', 'O', 'P')) THEN 1 ELSE 0 END) AS status_domain, " +
        "count(*) - count(DISTINCT o_orderkey) AS unique_orderkey FROM orders) " +
        "SELECT rule, CAST(n_violations AS BIGINT) AS n_violations, " +
        "n_violations = 0 AS pass FROM (" +
        "SELECT 'null_custkey' AS rule, null_custkey AS n_violations FROM w " +
        "UNION ALL SELECT 'null_orderdate', null_orderdate FROM w " +
        "UNION ALL SELECT 'price_positive', price_positive FROM w " +
        "UNION ALL SELECT 'price_outlier_400k', price_outlier_400k FROM w " +
        "UNION ALL SELECT 'status_domain', status_domain FROM w " +
        "UNION ALL SELECT 'unique_orderkey', unique_orderkey FROM w " +
        "UNION ALL SELECT 'fk_custkey_exists', (SELECT count(*) FROM orders o " +
        "LEFT JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)) " +
        "ORDER BY rule"),
    "agg_mode_frequent" ->
      ("WITH c AS (SELECT user_id, event_type, count(*) AS cnt " +
        "FROM events GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY user_id " +
        "ORDER BY cnt DESC, event_type ASC) AS rn FROM c) " +
        "SELECT user_id, event_type AS top_event, cnt FROM r WHERE rn = 1 " +
        "ORDER BY user_id"),
    "agg_stats_moments" ->
      ("SELECT l_returnflag, count(*) AS n, " +
        "ROUND(avg(l_extendedprice), 4) AS avg_price, " +
        "ROUND(stddev_samp(l_extendedprice), 4) AS sd_price, " +
        "ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price, " +
        "ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "window_topn_per_group" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk " +
        "FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk"),
    "window_percent_rank" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice, " +
        "ROUND(percent_rank() OVER w, 6) AS pct_rank, " +
        "ROUND(cume_dist() OVER w, 6) AS cume " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice, o_orderkey) ORDER BY o_orderkey"),
    "agg_table_profile" ->
      (Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
        .map(c => s"SELECT '$c' AS \"column\", count(*) AS n_rows, " +
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct FROM orders")
        .mkString(" UNION ALL ") + " ORDER BY \"column\""),
    "window_first_last_value" ->
      ("SELECT o_orderkey, o_custkey, o_orderdate, " +
        "first_value(o_orderkey) OVER w AS first_orderkey, " +
        "last_value(o_orderkey) OVER w AS last_orderkey, " +
        "CAST(date_diff('day', CAST(min(o_orderdate) OVER w AS DATE), " +
        "CAST(max(o_orderdate) OVER w AS DATE)) AS INT) AS history_days " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY o_orderkey"),
    "window_zscore_anomaly" ->
      ("SELECT event_id, user_id, value, " +
        "ROUND((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) + 0.0 AS z, " +
        "coalesce(abs((value - avg(value) OVER w) / stddev_samp(value) OVER w) > 2, " +
        "false) AS is_anomaly " +
        "FROM events WINDOW w AS (PARTITION BY user_id) ORDER BY event_id"),
    "join_null_safe" ->
      ("SELECT label, count(*) AS n_orders, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_price " +
        "FROM (SELECT nullif(o_orderpriority, '3-MEDIUM') AS pri_n, o_totalprice " +
        "FROM orders) o " +
        "JOIN (VALUES ('1-URGENT', 'urgent'), ('2-HIGH', 'high'), " +
        "(NULL, 'unspecified')) d(pri, label) " +
        "ON o.pri_n IS NOT DISTINCT FROM d.pri " +
        "GROUP BY label ORDER BY label"),
    "agg_pivot_status" ->
      ("SELECT o_orderpriority, " +
        "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, " +
        "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o, " +
        "count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "agg_grouping_sets" ->
      ("SELECT coalesce(status, 'ALL') AS status, " +
        "coalesce(CAST(o_year AS VARCHAR), 'ALL') AS o_year, count(*) AS cnt " +
        "FROM (SELECT o_orderstatus AS status, year(o_orderdate) AS o_year FROM orders) " +
        "GROUP BY GROUPING SETS ((status, o_year), (status), (o_year), ()) " +
        "ORDER BY status, o_year"),
    "window_rolling_avg" ->
      ("SELECT o_custkey, o_orderkey, o_orderdate, " +
        "ROUND(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg_3, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS DOUBLE), 2) AS cum_revenue " +
        "FROM orders ORDER BY o_custkey, o_orderkey"),
    "window_lag_lead_delta" ->
      ("SELECT o_custkey, o_orderkey, o_orderdate, " +
        "CAST(date_diff('day', CAST(lag(o_orderdate, 1) OVER w AS DATE), " +
        "CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev, " +
        "lead(o_orderkey, 1) OVER w AS next_orderkey " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey"),
    "agg_retention_weekly" ->
      ("WITH uw AS (SELECT DISTINCT date_trunc('week', ts) AS wk, user_id FROM events) " +
        "SELECT strftime(a.wk, '%Y-%m-%d') AS week, count(*) AS active_users, " +
        "count(b.user_id) AS retained_users, " +
        "ROUND(CAST(count(b.user_id) AS DOUBLE) / count(*), 4) AS retention " +
        "FROM uw a LEFT JOIN uw b ON b.wk = a.wk + INTERVAL 7 DAY AND b.user_id = a.user_id " +
        "GROUP BY a.wk ORDER BY week"),
    // same boundary-range semantics as the Spark side: type-7 interpolated
    // deciles (quantile_cont == Spark's exact percentile), count of
    // boundaries strictly below the value
    "window_ntile_decile" ->
      ("WITH s AS (SELECT o_custkey, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_spend " +
        "FROM orders GROUP BY o_custkey), " +
        "b AS (SELECT quantile_cont(total_spend, " +
        "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs FROM s) " +
        "SELECT o_custkey, total_spend, " +
        "CAST(10 - len(list_filter(bs, x -> x < total_spend)) AS INT) AS decile " +
        "FROM s, b ORDER BY o_custkey"),
    // join_skew_salted: salting must be invisible in the result — the
    // oracle is the UNSALTED join
    "join_skew_salted" ->
      ("SELECT c_mktsegment, count(*) AS n_events, " +
        "ROUND(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // join_skew_aqe: the runtime split must be invisible in the result —
    // the oracle replays the plain planted-hot-key join with no AQE
    "join_skew_aqe" ->
      ("WITH f AS (SELECT CASE WHEN event_id % 4 <> 0 THEN 0 ELSE user_id % 97 END AS k, value " +
        "FROM events, unnest(range(1, 41)) AS r(i)), " +
        "d AS (SELECT c_custkey % 97 AS k FROM customer WHERE c_custkey BETWEEN 1 AND 97) " +
        "SELECT f.k % 10 AS key_band, count(*) AS n_rows, " +
        "ROUND(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value " +
        "FROM f JOIN d ON f.k = d.k GROUP BY 1 ORDER BY key_band"),
    // window_rolling_range: RANGE peers (same-second events) are included
    // by definition in both engines; decimal sum keeps it exact
    "window_rolling_range" ->
      ("SELECT event_id, user_id, count(*) OVER w AS n_7d, " +
        "ROUND(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE), 2) AS sum_7d " +
        "FROM (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value FROM events) " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec " +
        "RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id"),
    // join_runtime_bloom: the runtime filter must be invisible in the
    // result — the oracle replays the plain selective join
    "join_runtime_bloom" ->
      ("SELECT l_returnflag, count(*) AS n_lines, " +
        "ROUND(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty " +
        "FROM lineitem JOIN (SELECT o_orderkey FROM orders " +
        "WHERE o_orderstatus = 'O' AND o_totalprice > 300000.0) o " +
        "ON l_orderkey = o_orderkey " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // Weak-form oracles (VERDICT r14 queue #4, extended to the HLL/CMS
    // sketches in round 15): Verify dumps the verifyQueries frame for
    // these five keys — exact columns (DuckDB replays them verbatim) +
    // bound booleans the oracle pins to TRUE.
    "agg_percentile_approx" ->
      ("SELECT o_orderstatus, count(*) AS cnt, " +
        "ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact, " +
        "ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_exact, " +
        "TRUE AS p50_ok, TRUE AS p90_ok " +
        "FROM orders GROUP BY 1 ORDER BY 1"),
    "agg_median_mad_approx" ->
      ("WITH seg AS (SELECT c_mktsegment, o_totalprice FROM orders " +
        "JOIN customer ON o_custkey = c_custkey), " +
        "med AS (SELECT c_mktsegment, quantile_cont(o_totalprice, 0.5) AS med " +
        "FROM seg GROUP BY 1) " +
        "SELECT seg.c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, " +
        "ROUND(min(med), 4) AS median_exact, " +
        "ROUND(quantile_cont(abs(o_totalprice - med), 0.5), 4) AS mad_exact, " +
        "TRUE AS med_ok, TRUE AS mad_ok " +
        "FROM seg JOIN med ON seg.c_mktsegment = med.c_mktsegment " +
        "GROUP BY 1 ORDER BY 1"),
    "agg_profile_approx" ->
      (Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
        .map(c => s"SELECT '$c' AS \"column\", count(*) AS n_rows, " +
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct, TRUE AS dist_ok FROM orders")
        .mkString(" UNION ALL ") + " ORDER BY \"column\""),
    "agg_hll_mergeable" ->
      ("SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_days, " +
        "count(DISTINCT user_id) AS exact_users, TRUE AS hll_ok " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    "agg_heavy_hitters_cms" ->
      ("SELECT user_id, count(*) AS exact_cnt, " +
        "TRUE AS lower_ok, TRUE AS upper_ok " +
        "FROM events WHERE user_id < 50 GROUP BY 1 ORDER BY 1"),
    // weak-form (round 15): exact per-cohort / per-pair distinct counts
    // replay verbatim; the estimate bounds are TRUE-pinned booleans
    "agg_hll_overlap" ->
      ("WITH s AS (SELECT DISTINCT o_orderstatus AS st FROM orders), " +
        "n AS (SELECT o_orderstatus AS st, count(DISTINCT o_custkey) AS n " +
        "FROM orders GROUP BY 1), " +
        "p AS (SELECT a.st AS status_a, b.st AS status_b " +
        "FROM s a JOIN s b ON a.st < b.st), " +
        "u AS (SELECT p.status_a, p.status_b, " +
        "count(DISTINCT o.o_custkey) AS exact_union FROM p JOIN orders o " +
        "ON o.o_orderstatus IN (p.status_a, p.status_b) GROUP BY 1, 2) " +
        "SELECT p.status_a, p.status_b, na.n AS exact_a, nb.n AS exact_b, " +
        "u.exact_union, na.n + nb.n - u.exact_union AS exact_intersect, " +
        "TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok, TRUE AS intersect_ok " +
        "FROM p JOIN n na ON na.st = p.status_a " +
        "JOIN n nb ON nb.st = p.status_b " +
        "JOIN u ON u.status_a = p.status_a AND u.status_b = p.status_b " +
        "ORDER BY p.status_a, p.status_b"),
  )
}
