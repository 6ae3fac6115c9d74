package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QFn
import graft.tables.Tables
import graft.util.Scratch

/** SURVEY.md §2.3 (joins), §2.5 (aggregations), §2.6 (windows),
  * §2.7 (sorts/limits/set ops) — the reference's BI surface.
  *
  * Scale notes: all joins are equi-joins on long keys — Catalyst
  * broadcast-hashes the dimension sides (customer/part) and sort-merge/
  * shuffled-hash joins fact⋈fact; AQE converts to broadcast at runtime when
  * a filtered side shrinks. Aggregates are hash aggregates with map-side
  * partial rows (no extra code needed — SURVEY.md §4).
  */
object Queries {

  /** 1:1 customer⋈orders equi-join — the reference pre-materializes this
    * into a wide Redshift table to "reduce the load on CPU"
    * (README.md:29,113,141); in Spark it's a broadcast-hash join. */
  val joinInnerCustomerOrders: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val cust = Tables(spark, sfDir, "customer")
    orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** orders⋈product via the lineitem bridge (README.md:114). */
  val joinInnerOrdersProduct: QFn = (spark, sfDir) => {
    val li = Tables(spark, sfDir, "lineitem")
    val part = Tables(spark, sfDir, "part")
    val orders = Tables(spark, sfDir, "orders")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .join(orders, li("l_orderkey") === orders("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "p_brand", "p_type")
      // order by all projected cols: (orderkey, linenumber) is non-unique
      .orderBy("l_orderkey", "l_linenumber", "p_brand", "p_type")
  }

  /** Behavioral events ⋈ customer dimension (README.md:102 funnel BI). */
  val joinFunnelCustomer: QFn = (spark, sfDir) => {
    val ev = Tables(spark, sfDir, "events")
    val cust = Tables(spark, sfDir, "customer")
    ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment", "event_type")
  }

  /** Spectrum-style federated join: CSV "lake" table ⋈ parquet "warehouse"
    * table in one session (README.md:92-94,170) — federation is free in
    * Spark, no external-schema plumbing. */
  val joinFederatedSpectrum: QFn = (spark, sfDir) => {
    val cust = Tables(spark, sfDir, "customer")
    val lakeDir = Scratch.dir("join_federated_lake")
    cust.write.mode("overwrite").option("header", true).csv(lakeDir)
    val lakeCust = spark.read.schema(cust.schema)
      .option("header", true).csv(lakeDir)
    Tables(spark, sfDir, "orders")
      .join(broadcast(lakeCust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("sum_price"))
      .orderBy("c_mktsegment")
  }

  /** DELETE-matching = left anti join (README.md:67,151 "delete all data
    * from final area where ORDER ID of staging matches final"). */
  val joinDeleteMatching: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val stg = orders.filter(col("o_orderdate") >= lit("2001-01-01"))
      .select("o_orderkey")
    orders.join(stg, Seq("o_orderkey"), "left_anti")
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** Dual of the delete: rows of final that ARE in staging (left semi). */
  val joinSemiExists: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val stg = orders.filter(col("o_orderdate") >= lit("2001-01-01"))
      .select("o_orderkey")
    orders.join(stg, Seq("o_orderkey"), "left_semi")
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** "Viewing but not buying" (README.md:102): (user, day) pairs with a
    * view but no purchase — left join + IS NULL filter (anti formulation).
    * Day granularity: every user in the testdata eventually buys, so the
    * user-level set is empty; the session-level question is the real BI one. */
  val joinLeftBehavior: QFn = (spark, sfDir) => {
    val ev = Tables(spark, sfDir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("bought", lit(1))
    views.join(buys, Seq("user_id", "day"), "left")
      .filter(col("bought").isNull)
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"))
      .orderBy("user_id", "day")
  }

  /** Snowflake dimension chain: orders → customer → nation → region —
    * the normalized-dim shape the reference flattens into its wide
    * Redshift table (README.md:29,113,141). Spark keeps the dims
    * normalized and broadcast-hash-joins the whole chain: region (5) and
    * nation (25) fold into customer (150) without a shuffle, customer
    * broadcasts onto the fact, so the ONLY exchange in the plan is the
    * final 2-level rollup agg. At 100 TB the chain joins cost map-side
    * hash probes per row — the flattening the reference pays a nightly
    * ETL for is free at read time. */
  val joinSnowflakeChain: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val cust = Tables(spark, sfDir, "customer")
    val nation = Tables(spark, sfDir, "nation")
    val region = Tables(spark, sfDir, "region")
    orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(28,4)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("r_name", "n_name")
  }

  /** The dashboard's headline view: "product category of each year and the
    * number of times it got sold" (README.md:99-100). */
  def salesByCategoryYear(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val part = Tables(spark, sfDir, "part")
    val orders = Tables(spark, sfDir, "orders")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .join(orders, li("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("p_type"), year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("sold_cnt"))
  }

  val aggSalesByCategoryYear: QFn = (spark, sfDir) =>
    salesByCategoryYear(spark, sfDir).orderBy("p_type", "o_year")

  /** Catalog tables + statistics for the CBO star query, created once per
    * (session, sfDir). EXTERNAL tables (LOCATION) over the driver parquet —
    * DROP never touches the read-only testdata. The name tag is a sha-256
    * prefix of the corpus dir (not hashCode — collision-safe across
    * tiers). */
  private[graft] def starStatsTag(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "starStatsTag") {
      Seq("lineitem", "orders", "customer", "part").foreach { t =>
        val name = Tables.externalTable(spark, sfDir, t, "star")
        // row counts + per-column NDV/min/max — what the cost model's
        // join-cardinality estimates (and thus the reorder) feed on
        spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      Scratch.pathTag(sfDir)
    }

  /** The catalog tables, statistics and views this module registers once
    * per (session, sfDir) — see [[graft.util.SessionMemo]]. */
  private val memo = new graft.util.SessionMemo

  /** The Spectrum lake⋈DW star behind the sales dashboard
    * (README.md:92-94,99-102), planned by the COST MODEL instead of by
    * hand: statistics (ANALYZE above) + `spark.sql.cbo.enabled` +
    * stats-driven join reordering decide the join order and broadcast
    * choices. The SQL deliberately leads with the two dimension tables in
    * the worst order (customer⋈part would be a cross join) — a syntactic
    * planner would die on it; the reorder pulls the fact table in first.
    * CBO confs live on a child session (graft.util.ChildSession: same
    * catalog and SparkContext, private conf) so the cost-model switch
    * cannot leak into other queries' plans mid-session. At 100 TB this is
    * the difference between hand-tuning every dashboard query and letting
    * ANALYZE-time stats pick the order as dimensions grow. */
  val aggSalesByCategoryStar: QFn = (spark, sfDir) => {
    val tag = starStatsTag(spark, sfDir)
    val s2 = graft.util.ChildSession(spark,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    s2.sql(
      s"""SELECT p.p_type, c.c_mktsegment, CAST(year(o.o_orderdate) AS INT) AS o_year,
         |       count(*) AS sold_cnt,
         |       round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
         |FROM star_customer_$tag c
         |JOIN star_part_$tag p
         |JOIN star_orders_$tag o ON o.o_custkey = c.c_custkey
         |JOIN star_lineitem_$tag l
         |  ON l.l_orderkey = o.o_orderkey AND l.l_partkey = p.p_partkey
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin)
  }

  /** Funnel stage counts (README.md:102,160). */
  val aggFunnelCounts: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** "How frequently user is buying" (README.md:160). */
  val aggPurchaseFrequency: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
      .orderBy("user_id")

  /** Revenue rollup behind the sales view (README.md:99-100,113).
    * Exact-decimal sum ⇒ order-independent ⇒ oracle-stable. */
  val aggSumRevenue: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double"), 2).as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Distinct users per funnel stage (README.md:102). At 100 TB swap
    * countDistinct for approx_count_distinct (HLL) — exact kept here for
    * the oracle. */
  val aggDistinctUsers: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("users"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** Last-write-wins dedup as a window (§2.6; README.md:67,151): latest
    * order per customer. */
  val windowDedupLatest: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .orderBy("o_custkey")

  /** Per-user funnel sequencing (§2.6; README.md:102 "viewing but not
    * buying" needs the per-user event order): lag + row_number over a
    * user-partitioned window. Ordered by event_id (unique) so both engines
    * agree without timestamp-precision hazards. */
  val windowFunnelOrder: QFn = (spark, sfDir) => {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        row_number().over(w).as("seq"))
      .orderBy("event_id")
  }

  /** Strict ordered conversion funnel view → click → purchase
    * (README.md:102's "viewing but not buying" as the conversion metric
    * BI actually plots): a user advances a stage only if the first-touch
    * timestamps are in order (first click AFTER first view, first
    * purchase AFTER first click). One map-side-combinable aggregate per
    * user (conditional min per stage) collapses the fact to |users| rows;
    * the ordering comparison and the stage counts then ride driver-bound
    * frames. The naive spelling is a per-stage self-join chain (events ⋈
    * events ⋈ events on user + time predicates) — three fact-sized
    * shuffles and a skew trap on hot users; this is one shuffle, and the
    * whole-row min pattern keeps it exact for first-touch ordering.
    * Ties (same timestamp) do NOT advance — strictly-after keeps both
    * engines' comparisons identical. */
  val aggFunnelOrdered: QFn = (spark, sfDir) => {
    val firsts = Tables(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    firsts.agg(
      sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("users_view"),
      sum(when(col("t_view").isNotNull && col("t_click") > col("t_view"),
        1L).otherwise(0L)).as("users_view_click"),
      sum(when(col("t_view").isNotNull && col("t_click") > col("t_view") &&
        col("t_purchase") > col("t_click"), 1L).otherwise(0L))
        .as("users_view_click_purchase"))
  }

  /** Fixed-bin price histogram — the distribution widget behind every
    * dashboard (README.md:97-102): 20 equal-width bins with the bounds
    * computed IN-PLAN (scalar min/max aggregate broadcast onto the scan,
    * the same 1-row-cross-join anchor pattern as filter_last_3_months —
    * no driver collect, no hardcoded bounds that rot as data grows). Two
    * fact scans (a column-pruned full reduction for bounds, then the
    * binning pass) and the final shuffle carries exactly 20 rows; the
    * single-scan twin below (agg_histogram_approx) swaps the bounds
    * reduction for ANALYZE-time catalog stats — at 100 TB that second
    * scan is a real 2×, so the twin is the production spelling. The max
    * row clamps into the last bin (least(…, 19)); all arithmetic is
    * double-IEEE identical on both engines, so the DuckDB oracle
    * hash-matches bin edges too. */
  val aggHistogramPrices: QFn = (spark, sfDir) => {
    val o = Tables(spark, sfDir, "orders")
    val bounds = o.agg(min(col("o_totalprice")).as("lo"),
      max(col("o_totalprice")).as("hi"))
    histogramFromBounds(o, bounds)
  }

  /** Shared binning tail for the histogram twins: 20 equal-width bins from
    * a 1-row (lo, hi) bounds frame broadcast onto the fact scan. All
    * arithmetic is pure IEEE double with the SAME expression tree as the
    * DuckDB oracle — no round() anywhere (ADVICE r10: Spark's
    * round(double, 4) is BigDecimal HALF_UP on the exact binary value,
    * DuckDB's is scaled-multiply; they can disagree by 1 ulp at the 4th
    * decimal, and the raw doubles are bit-identical without it). The
    * greatest(…, 1e-12) floor keeps a degenerate hi == lo corpus from
    * dividing by zero (every row then lands in bin 0 at bin_lo = lo on
    * both engines, instead of riding NaN-ordering coincidences). */
  private[graft] def histogramFromBounds(o: DataFrame, bounds: DataFrame): DataFrame =
    o.crossJoin(broadcast(bounds))
      .select(least(floor((col("o_totalprice") - col("lo")) /
          greatest((col("hi") - col("lo")) / 20.0, lit(1e-12))), lit(19.0))
          .cast("int").as("bin"),
        col("lo"), col("hi"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        (first(col("lo")) + col("bin") * (first(col("hi")) - first(col("lo"))) / 20.0)
          .as("bin_lo"))
      .select("bin", "bin_lo", "n")
      .orderBy("bin")

  /** Single-scan histogram twin (VERDICT r10 #4): identical bins to
    * agg_histogram_prices, but the bounds come from the catalog's
    * ANALYZE-time column statistics (the same star_orders stats table the
    * CBO query feeds on) instead of a second fact reduction — DESCRIBE
    * EXTENDED's min/max rows pivot into the 1-row bounds frame, so the
    * plan touches the orders parquet exactly ONCE (PlanSpec asserts it).
    * ANALYZE stores the exact min/max as round-trippable strings, so the
    * bins — and the full DuckDB oracle — match the exact twin bit-for-bit.
    * At 100 TB this is the difference between one 100 TB scan and two:
    * stats are computed once at load time (the reference's crawler pass,
    * README.md:10,163) and amortized over every dashboard refresh. */
  val aggHistogramApprox: QFn = (spark, sfDir) => {
    val tag = starStatsTag(spark, sfDir)
    val bounds = spark.sql(s"DESCRIBE EXTENDED star_orders_$tag o_totalprice")
      .groupBy().pivot("info_name", Seq("min", "max")).agg(first(col("info_value")))
      .select(col("min").cast("double").as("lo"), col("max").cast("double").as("hi"))
    histogramFromBounds(Tables(spark, sfDir, "orders"), bounds)
  }

  /** Top-k sold categories (README.md:100 dashboard ordering). */
  val sortTopkCategories: QFn = (spark, sfDir) =>
    salesByCategoryYear(spark, sfDir)
      .orderBy(col("sold_cnt").desc, col("p_type"), col("o_year"))
      .limit(10)

  /** historical ∪ current with a missing column in the current feed
    * (§2.7; README.md:54-56,141). */
  val unionHistCurrent: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val hist = orders.filter(col("o_orderdate") < lit("2000-01-01"))
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val curr = orders.filter(col("o_orderdate") >= lit("2000-01-01"))
      .select("o_orderkey", "o_totalprice") // o_orderstatus missing
    hist.unionByName(curr, allowMissingColumns = true)
      .orderBy("o_orderkey")
  }

  /** Sales rollup with subtotal rows — (year, status) → year → grand total
    * (§2.5 extension; Spark `rollup` is a single multi-grouping hash agg,
    * no extra shuffle vs the plain groupBy). Rollup nulls are folded to
    * 'ALL' so both engines order identically. */
  val aggRollupSales: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .rollup(year(col("o_orderdate")).as("o_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        coalesce(col("o_year").cast("string"), lit("ALL")).as("o_year"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        col("cnt"))
      .orderBy("o_year", "o_orderstatus")

  /** Funnel cube — all (event_type × year) margins in one pass (§2.5
    * extension). */
  val aggCubeFunnel: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .cube(col("event_type"), year(col("ts")).as("y"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("user_id")).as("users"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("y").cast("string"), lit("ALL")).as("y"),
        col("cnt"), col("users"))
      .orderBy("event_type", "y")

  /** Exact order-statistics per status (§2.5 extension): median and p90 of
    * order totals. Exact `percentile` (deterministic order statistic) so the
    * DuckDB quantile_cont oracle agrees; at 100 TB swap for
    * percentile_approx (t-digest) and drop the hash-match to rows-only. */
  val aggPercentilePrice: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("cnt"))
      .orderBy("o_orderstatus")

  /** Athena-style SQL entry point (§3.3; README.md:78-83): the reference's
    * BI queries are SQL text against the Data Catalog; here the catalog is
    * temp views and the engine is spark.sql — parser → analyzer → Catalyst,
    * same plan as the DataFrame form. */
  /** 2-D histogram (quantity × price, 8×8 bins) — the heatmap widget's
    * data, one step past the 1-D distribution: both bounds come from ONE
    * column-pruned min/max reduction broadcast onto the binning scan
    * (the histogramFromBounds anchor pattern in both dimensions), the
    * final shuffle carries ≤64 rows, and the arithmetic is the same
    * pure-IEEE closed form as the 1-D twins — so the full DuckDB oracle
    * hash-matches cell for cell. Two fact scans like the exact 1-D
    * histogram; the stats-bounds remedy applies identically at 100 TB. */
  val aggHistogram2d: QFn = (spark, sfDir) => {
    val li = Tables(spark, sfDir, "lineitem")
    val bounds = li.agg(
      min(col("l_quantity")).as("lo_q"), max(col("l_quantity")).as("hi_q"),
      min(col("l_extendedprice")).as("lo_p"), max(col("l_extendedprice")).as("hi_p"))
    def bin(v: String, lo: String, hi: String) =
      least(floor((col(v) - col(lo)) /
        greatest((col(hi) - col(lo)) / 8.0, lit(1e-12))), lit(7.0)).cast("int")
    li.crossJoin(broadcast(bounds))
      .select(bin("l_quantity", "lo_q", "hi_q").as("bin_q"),
        bin("l_extendedprice", "lo_p", "hi_p").as("bin_p"))
      .groupBy("bin_q", "bin_p")
      .agg(count(lit(1)).as("n"))
      .orderBy("bin_q", "bin_p")
  }

  /** Catalog VIEW + second-session consumer — the exact QuickSight flow
    * the reference documents (README.md:98-99: "create a schema in
    * Redshift … provide the view name (sales by category)"): the BI
    * layer never sees tables, it connects to a NAMED VIEW the warehouse
    * team maintains. Here: external parquet tables + a persistent
    * catalog view over the star join, then a SECOND SparkSession
    * (a [[graft.util.ChildSession]] — own SessionState, shared external
    * catalog, the scan_catalog_second_session boundary) runs the
    * dashboard slice by view name alone. The view body expands at plan
    * time, so the consumer's WHERE composes with the view's aggregate and
    * Catalyst optimizes the WHOLE tree — a view is free abstraction, not a
    * materialization boundary (at 100 TB that means dashboards inherit
    * every pushdown/pruning win without knowing the physical layout).
    * View + tables are created once per (session, corpus); the oracle
    * replays the expanded SQL over the raw tables. */
  val sqlViewSalesByCategory: QFn = (spark, sfDir) => {
    val view = memo(spark, sfDir, "salesByCategoryView") {
      val li = Tables.externalTable(spark, sfDir, "lineitem", "vw")
      val part = Tables.externalTable(spark, sfDir, "part", "vw")
      val ord = Tables.externalTable(spark, sfDir, "orders", "vw")
      val v = s"sales_by_category_${Scratch.pathTag(sfDir)}"
      spark.sql(
        s"""CREATE OR REPLACE VIEW $v AS
           |SELECT p.p_type, CAST(year(o.o_orderdate) AS INT) AS o_year,
           |       count(*) AS sold_cnt
           |FROM $li l
           |JOIN $part p ON l.l_partkey = p.p_partkey
           |JOIN $ord o ON l.l_orderkey = o.o_orderkey
           |GROUP BY p.p_type, year(o.o_orderdate)""".stripMargin)
      v
    }
    val s2 = graft.util.ChildSession(spark,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    s2.sql(s"SELECT p_type, o_year, sold_cnt FROM $view " +
      "WHERE o_year >= 1996 ORDER BY p_type, o_year")
  }

  /** LATERAL correlated subquery — the SQL-surface spelling of
    * top-n-per-group (every BI tool's "top 3 orders per customer" drill):
    * a per-row subquery with ORDER BY + LIMIT, the shape analysts write
    * when they don't know window functions. Spark's decorrelator rewrites
    * it — no per-customer subquery execution ever happens; the plan is
    * the same single-shuffle ranked-window shape as window_topn_per_group
    * (at 100 TB the difference between "runs the subquery n_customers
    * times" and "one shuffle" is the whole feature). Same SQL text runs
    * verbatim in DuckDB — full oracle. */
  val joinLateralTopn: QFn = (spark, sfDir) => {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
  }

  val sqlAthenaStyle: QFn = (spark, sfDir) => {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT c_mktsegment, year(o_orderdate) AS o_year,
        |       count(*) AS n_orders,
        |       round(cast(sum(cast(o_totalprice AS decimal(18,4))) AS double), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus <> 'P'
        |GROUP BY c_mktsegment, year(o_orderdate)
        |ORDER BY c_mktsegment, o_year""".stripMargin)
  }

  /** Skew-safe two-phase aggregation (SURVEY.md §7.3 salting): partial agg
    * on (key, salt) spreads a hot key over N reducers, final agg merges the
    * partials. Result is provably identical to the direct groupBy (counts
    * and exact-decimal sums are associative) — the DuckDB oracle checks
    * exactly that. At 100 TB this is the pattern for keys too hot for AQE's
    * skew-join splitting to save. */
  val aggSkewSalted: QFn = (spark, sfDir) => {
    val salted = Tables(spark, sfDir, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey") + col("l_linenumber"), lit(16)))
      .groupBy("l_returnflag", "salt")
      .agg(count(lit(1)).as("pc"),
        sum(col("l_quantity").cast("decimal(18,4)")).as("pq"))
    salted.groupBy("l_returnflag")
      .agg(sum(col("pc")).as("cnt"),
        round(sum(col("pq")).cast("double"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** DELETE as whole-row set difference (§2.7; README.md:67,151). */
  val exceptDeleteSemantics: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val all = orders.select("o_orderkey", "o_orderstatus")
    val gone = orders.filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderstatus")
    all.exceptAll(gone).orderBy("o_orderkey")
  }

  /** INTERSECT (distinct set semantics): customers present in BOTH halves
    * of a date-split order log — completes the set-op family (UNION ALL =
    * hist∪current, EXCEPT ALL = delete semantics). Spark plans INTERSECT
    * as a left-semi aggregate join: one shuffle per side on the full row
    * key, distinct folded into the join — no separate dedup pass. */
  val intersectSemantics: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val early = orders.filter(col("o_orderdate") < lit("2000-01-01"))
      .select("o_custkey", "o_orderstatus")
    val late = orders.filter(col("o_orderdate") >= lit("2000-01-01"))
      .select("o_custkey", "o_orderstatus")
    early.intersect(late).orderBy("o_custkey", "o_orderstatus")
  }

  /** Globally ORDERED export — the "hand the warehouse a sorted extract"
    * op (sorted-by-date file feeds, ordered pagination snapshots). The
    * point is HOW Spark sorts globally: a sampled range exchange gives
    * every task a key interval to sort independently — parallel across
    * the cluster, unlike a rank/ntile window whose global ORDER BY
    * funnels all rows through one task (the decile trap). The only
    * single-partition step is the driver-side boundary sampling, which
    * moves O(partitions) sampled keys, not data. PlanSpec asserts the
    * rangepartitioning exchange and the absence of SinglePartition. */
  val sortGlobalExport: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .orderBy(col("o_orderdate"), col("o_orderkey"))

  val queries: Map[String, QFn] = Map(
    "sort_global_export" -> sortGlobalExport,
    "intersect_semantics" -> intersectSemantics,
    "join_inner_customer_orders" -> joinInnerCustomerOrders,
    "join_inner_orders_product" -> joinInnerOrdersProduct,
    "join_funnel_customer" -> joinFunnelCustomer,
    "join_federated_spectrum" -> joinFederatedSpectrum,
    "join_delete_matching" -> joinDeleteMatching,
    "join_snowflake_chain" -> joinSnowflakeChain,
    "join_semi_exists" -> joinSemiExists,
    "join_left_behavior" -> joinLeftBehavior,
    "agg_sales_by_category_year" -> aggSalesByCategoryYear,
    "agg_sales_by_category_star" -> aggSalesByCategoryStar,
    "agg_funnel_counts" -> aggFunnelCounts,
    "agg_funnel_ordered" -> aggFunnelOrdered,
    "agg_histogram_prices" -> aggHistogramPrices,
    "agg_histogram_approx" -> aggHistogramApprox,
    "agg_purchase_frequency" -> aggPurchaseFrequency,
    "agg_sum_revenue" -> aggSumRevenue,
    "agg_distinct_users" -> aggDistinctUsers,
    "agg_rollup_sales" -> aggRollupSales,
    "agg_cube_funnel" -> aggCubeFunnel,
    "agg_percentile_price" -> aggPercentilePrice,
    "sql_athena_style" -> sqlAthenaStyle,
    "join_lateral_topn" -> joinLateralTopn,
    "sql_view_sales_by_category" -> sqlViewSalesByCategory,
    "agg_histogram_2d" -> aggHistogram2d,
    "agg_skew_salted" -> aggSkewSalted,
    "window_dedup_latest" -> windowDedupLatest,
    "window_funnel_order" -> windowFunnelOrder,
    "sort_topk_categories" -> sortTopkCategories,
    "union_hist_current" -> unionHistCurrent,
    "except_delete_semantics" -> exceptDeleteSemantics,
  )

  // Shared by both histogram twins — same expression tree as
  // histogramFromBounds (pure IEEE double, no round, greatest() floor on
  // the width), so the doubles are bit-identical across engines.
  private val histogramOracleSql: String =
    "WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi " +
      "FROM orders) " +
      "SELECT CAST(least(floor((o_totalprice - lo) / greatest((hi - lo) / 20.0, 1e-12)), 19.0) AS INT) AS bin, " +
      "lo + CAST(least(floor((o_totalprice - lo) / greatest((hi - lo) / 20.0, 1e-12)), 19.0) AS INT) * (hi - lo) / 20.0 AS bin_lo, " +
      "count(*) AS n FROM orders CROSS JOIN b GROUP BY 1, 2 ORDER BY 1"

  val oracleSql: Map[String, String] = Map(
    "join_inner_customer_orders" ->
      ("SELECT o_orderkey, c_name, c_mktsegment, o_totalprice FROM orders " +
        "JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey"),
    "join_inner_orders_product" ->
      ("SELECT l_orderkey, l_linenumber, p_brand, p_type FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey " +
        "ORDER BY 1, 2, 3, 4"),
    "join_funnel_customer" ->
      ("SELECT c_mktsegment, event_type, count(*) AS cnt FROM events " +
        "JOIN customer ON user_id = c_custkey GROUP BY 1, 2 ORDER BY 1, 2"),
    "join_federated_spectrum" ->
      ("SELECT c_mktsegment, count(*) AS cnt, " +
        "ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1"),
    "join_delete_matching" ->
      ("SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey NOT IN " +
        "(SELECT o_orderkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01') " +
        "ORDER BY o_orderkey"),
    "join_snowflake_chain" ->
      ("SELECT r_name, n_name, count(*) AS n_orders, " +
        "ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "join_semi_exists" ->
      ("SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01') " +
        "ORDER BY o_orderkey"),
    "join_left_behavior" ->
      ("SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day FROM events WHERE event_type = 'view' " +
        "EXCEPT SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') FROM events WHERE event_type = 'purchase' " +
        "ORDER BY user_id, day"),
    "agg_sales_by_category_year" ->
      ("SELECT p_type, CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS sold_cnt " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2 ORDER BY 1, 2"),
    "agg_sales_by_category_star" ->
      ("SELECT p_type, c_mktsegment, CAST(year(o_orderdate) AS INT) AS o_year, " +
        "count(*) AS sold_cnt, " +
        "ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN part ON l_partkey = p_partkey " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    "agg_funnel_counts" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1",
    "agg_funnel_ordered" ->
      ("WITH f AS (SELECT user_id, " +
        "min(CASE WHEN event_type = 'view' THEN ts END) AS t_view, " +
        "min(CASE WHEN event_type = 'click' THEN ts END) AS t_click, " +
        "min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase " +
        "FROM events GROUP BY 1) " +
        "SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS users_view, " +
        "CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS users_view_click, " +
        "CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view " +
        "AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS users_view_click_purchase " +
        "FROM f"),
    "agg_histogram_prices" -> histogramOracleSql,
    // identical SQL: the twin's stats-sourced bounds are the exact
    // ANALYZE-time min/max, so the oracle recomputing them from the table
    // is the same ground truth — the twin earns a FULL oracle, not a
    // rows-only waiver
    "agg_histogram_approx" -> histogramOracleSql,
    "agg_purchase_frequency" ->
      ("SELECT user_id, count(*) AS n_purchases, " +
        "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts, " +
        "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"),
    "agg_sum_revenue" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue, " +
        "count(*) AS cnt FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),
    "agg_distinct_users" ->
      ("SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS cnt " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    "agg_rollup_sales" ->
      ("SELECT COALESCE(CAST(CAST(year(o_orderdate) AS INT) AS VARCHAR), 'ALL') AS o_year, " +
        "COALESCE(o_orderstatus, 'ALL') AS o_orderstatus, count(*) AS cnt " +
        "FROM orders GROUP BY ROLLUP(CAST(year(o_orderdate) AS INT), o_orderstatus) " +
        "ORDER BY o_year, o_orderstatus"),
    "agg_cube_funnel" ->
      ("SELECT COALESCE(event_type, 'ALL') AS event_type, " +
        "COALESCE(CAST(CAST(year(ts) AS INT) AS VARCHAR), 'ALL') AS y, " +
        "count(*) AS cnt, count(DISTINCT user_id) AS users " +
        "FROM events GROUP BY CUBE(event_type, CAST(year(ts) AS INT)) " +
        "ORDER BY event_type, y"),
    "agg_percentile_price" ->
      ("SELECT o_orderstatus, ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50, " +
        "ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90, count(*) AS cnt " +
        "FROM orders GROUP BY 1 ORDER BY 1"),
    "agg_histogram_2d" ->
      ("WITH b AS (SELECT min(l_quantity) AS lo_q, max(l_quantity) AS hi_q, " +
        "min(l_extendedprice) AS lo_p, max(l_extendedprice) AS hi_p FROM lineitem) " +
        "SELECT CAST(least(floor((l_quantity - lo_q) / greatest((hi_q - lo_q) / 8.0, 1e-12)), 7.0) AS INT) AS bin_q, " +
        "CAST(least(floor((l_extendedprice - lo_p) / greatest((hi_p - lo_p) / 8.0, 1e-12)), 7.0) AS INT) AS bin_p, " +
        "count(*) AS n FROM lineitem, b GROUP BY 1, 2 ORDER BY 1, 2"),
    "sql_view_sales_by_category" ->
      ("SELECT p_type, CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS sold_cnt " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE year(o_orderdate) >= 1996 GROUP BY 1, 2 ORDER BY 1, 2"),
    "join_lateral_topn" ->
      ("SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice " +
        "FROM customer c, " +
        "LATERAL (SELECT o_orderkey, o_totalprice FROM orders o " +
        "WHERE o.o_custkey = c.c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t " +
        "ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey"),
    "sql_athena_style" ->
      ("SELECT c_mktsegment, CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n_orders, " +
        "ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderstatus <> 'P' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "agg_skew_salted" ->
      ("SELECT l_returnflag, count(*) AS cnt, " +
        "ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),
    "window_dedup_latest" ->
      ("SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date FROM orders " +
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1 " +
        "ORDER BY o_custkey"),
    "window_funnel_order" ->
      ("SELECT user_id, event_id, event_type, " +
        "lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type, " +
        "CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS seq " +
        "FROM events ORDER BY event_id"),
    "sort_topk_categories" ->
      ("SELECT p_type, CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS sold_cnt " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2 " +
        "ORDER BY sold_cnt DESC, p_type, o_year LIMIT 10"),
    "union_hist_current" ->
      ("SELECT * FROM (" +
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01' " +
        "UNION ALL SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus " +
        "FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01') ORDER BY o_orderkey"),
    "except_delete_semantics" ->
      ("SELECT * FROM (" +
        "SELECT o_orderkey, o_orderstatus FROM orders " +
        "EXCEPT ALL SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F') " +
        "ORDER BY o_orderkey"),
    "intersect_semantics" ->
      ("SELECT * FROM (" +
        "SELECT o_custkey, o_orderstatus FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01' " +
        "INTERSECT SELECT o_custkey, o_orderstatus FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01') " +
        "ORDER BY o_custkey, o_orderstatus"),
    "sort_global_export" ->
      ("SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice " +
        "FROM orders ORDER BY o_orderdate, o_orderkey"),
  )
}
