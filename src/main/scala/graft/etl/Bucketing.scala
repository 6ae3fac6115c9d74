package graft.etl

import org.apache.spark.sql.functions._
import graft.QFn
import graft.tables.Tables
import graft.util.Scratch

/** SURVEY.md §2.1/§2.3 round-3 extension — bucketed storage + co-located
  * join. The reference avoids warehouse-time joins by denormalizing at ETL
  * time (README.md:29,113-114 "to avoid joining ... reduce the load on
  * CPU"); bucketing is the engine-native way to buy the same win WITHOUT
  * materializing the wide table: write both tables hash-bucketed on the
  * join key once, and every subsequent join on that key reads bucket i
  * against bucket i with NO shuffle on either side. At 100 TB this turns
  * the fact⋈fact join from the dominant network cost into a local merge —
  * the single highest-leverage layout decision a Spark warehouse makes.
  */
object Bucketing {

  /** Write orders + lineitem bucketed by order key (8 buckets; at scale:
    * pick buckets so each is a few hundred MB), then join them WITHOUT any
    * exchange: both sides report the same HashPartitioning(orderkey, 8) from
    * the bucketed scan, so only per-bucket sorts (the files are sortBy'd,
    * but multi-file buckets still re-sort) feed the merge join. The merge
    * hint keeps AQE from "helpfully" broadcasting the small test-scale side
    * — at production scale both sides are facts and SMJ is the real plan.
    * PlanSpec asserts the no-Exchange property. */
  val sinkBucketedColocated: QFn = (spark, sfDir) => {
    val suffix = graft.util.Scratch.pathTag(sfDir)
    val dir = Scratch.dir(s"bucketed_$suffix")
    val oT = s"orders_bkt_$suffix"
    val lT = s"lineitem_bkt_$suffix"
    // repartition(8, key) uses the same pmod(hash(key), 8) as the bucket
    // assignment, so each task holds exactly one bucket → ONE file per
    // bucket (instead of up to 32×8 fragments) and the sortBy order is a
    // whole-bucket property the scan can reuse
    Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .repartition(8, col("o_orderkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/$oT").saveAsTable(oT)
    Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .repartition(8, col("l_orderkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/$lT").saveAsTable(lT)
    spark.table(oT).hint("merge")
      .join(spark.table(lT), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity").cast("decimal(18,4)")).cast("double"), 2)
          .as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** Z-order clustered sink: orders laid out along a Morton curve over
    * (o_custkey, o_totalprice) so that a 2-D box predicate — the
    * "customer segment × price band" slice every BI tool issues — touches
    * FEW files instead of all of them. A single-column sort clusters only
    * its leading dimension; bit-interleaving 8-bit ranks of BOTH columns
    * into one z-value and range-partitioning + sorting on it gives every
    * file a tight min/max envelope in both dimensions at once, which is
    * exactly what parquet row-group stats + partition-level skipping prune
    * on. This is the layout decision behind Delta/Iceberg OPTIMIZE ZORDER,
    * built from plain engine primitives: one tiny min/max aggregate
    * (broadcast back — never collected), codegen'd bit arithmetic, one
    * range exchange, one write. The z-value affects LAYOUT only — results
    * of the read-back box query are byte-identical to scanning the raw
    * table, which is what the oracle checks. ZOrderSpec measures the
    * locality win (box rows live in a strict subset of files vs all files
    * under a round-robin layout). */
  /** 1-D sort-on-write — the simpler sibling of [[sinkZorderCluster]] and
    * the single most common lakehouse layout decision (Delta's OPTIMIZE
    * ... ZORDER collapses to exactly this for one column; "liquid
    * clustering" at one key): `repartitionByRange(date)` +
    * `sortWithinPartitions(date)` makes every output file cover a
    * disjoint date run, so parquet min/max footer stats let a date-range
    * scan skip every non-overlapping file — data skipping bought at
    * write time with zero read-side machinery. The range exchange samples
    * boundaries, so files stay size-balanced even when dates skew (unlike
    * partitionBy(day)'s one-dir-per-day smallfile spray — the layout trap
    * this op exists to replace; at 100 TB the file count is chosen, not
    * data-dependent). SortedRunsSpec measures the locality: the Q1 query
    * touches a strict subset of sorted files vs nearly all round-robin
    * files. Output = the read-back quarterly report (layout-invariant;
    * full DuckDB oracle). */
  val sinkSortedRuns: QFn = (spark, sfDir) => {
    val dir = Scratch.dir(s"sorted_runs_${graft.util.Scratch.pathTag(sfDir)}")
    Tables(spark, sfDir, "orders")
      .repartitionByRange(8, col("o_orderdate"))
      // o_orderkey (unique) breaks date ties, so a file's row order does
      // not depend on the order shuffle blocks arrive in
      .sortWithinPartitions("o_orderdate", "o_orderkey")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .filter(col("o_orderdate") >= lit("1996-01-01")
        && col("o_orderdate") < lit("1996-04-01"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(28,4)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("o_orderstatus")
  }

  val sinkZorderCluster: QFn = (spark, sfDir) => {
    val dir = Scratch.dir(s"zorder_${graft.util.Scratch.pathTag(sfDir)}")
    val o = Tables(spark, sfDir, "orders")
    val bounds = o.agg(
      min(col("o_custkey")).as("ck_min"), max(col("o_custkey")).as("ck_max"),
      min(col("o_totalprice")).as("tp_min"), max(col("o_totalprice")).as("tp_max"))
    val bx = ((col("o_custkey") - col("ck_min")) * 256L /
      (col("ck_max") - col("ck_min") + 1L)).cast("long")
    // greatest(..., tiny) guards a constant column: tp_max = tp_min would
    // make the divisor 0 and every by NaN → null z — the layout would
    // silently degrade to whatever the write order was; with the guard a
    // degenerate dimension ranks everything 0 and z falls back to a clean
    // 1-D custkey clustering (the right answer for a constant column)
    val by = least(floor((col("o_totalprice") - col("tp_min")) /
      greatest((col("tp_max") - col("tp_min")) / 256.0, lit(1e-12))), lit(255L))
      .cast("long")
    val z = (0 until 8).map { i =>
      shiftleft(shiftright(bx, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(by, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
    o.crossJoin(broadcast(bounds))
      .withColumn("z", z)
      .repartitionByRange(8, col("z"))
      .sortWithinPartitions("z", "o_orderkey") // unique tie-break, as in sinkSortedRuns
      .drop("z", "ck_min", "ck_max", "tp_min", "tp_max")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .filter(col("o_custkey").between(40, 110)
        && col("o_totalprice").between(100000, 150000))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Hive-partitioned AND bucketed layout — the full lakehouse pruning
    * matrix in one table: partitionBy(o_year) prunes directories,
    * bucketBy(4, o_custkey) prunes files within the surviving directory,
    * so the canonical BI point lookup (year = Y AND custkey = K) reads ONE
    * bucket file of ONE partition — at 100 TB the difference between a
    * full scan and a few MB, with zero index structures beyond the layout
    * itself. The registered read-back slices a customer band within one
    * year (non-empty at every SF tier, so the oracle has rows to hash);
    * PlanSpec runs the equality point lookup and asserts BOTH
    * PartitionFilters and SelectedBucketsCount: 1 out of 4. Results are
    * layout-invariant — the oracle replays on the raw table. */
  val sinkPartitionedBucketed: QFn = (spark, sfDir) => {
    val suffix = graft.util.Scratch.pathTag(sfDir)
    val tbl = s"orders_pb_$suffix"
    val dir = Scratch.dir(s"part_bucket_$suffix")
    Tables(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      // Shuffle on (partition dir, BUCKET ID) — pmod(hash(k), n) is the
      // same Murmur3-based bucket-id expression the bucketed writer
      // applies — so each task holds whole (year, bucket) output groups
      // and writes exactly ONE file per group: 7 years × 4 buckets = 28
      // files total (verified on disk). The previous
      // repartition(o_year, o_custkey) scattered every bucket's rows
      // across all 32 tasks, so each task kept up to years × buckets
      // parquet writers open and the layout landed as up to ~28 files
      // PER TASK. At sf0.1 wall-clock is saveAsTable-overhead-dominated
      // and unchanged (~2.4 s either way); the point is the 100 TB
      // shape — bounded open writers per task and full-size bucket
      // files instead of a small-file explosion the next reader pays
      // for.
      .repartition(col("o_year"), pmod(hash(col("o_custkey")), lit(4)))
      .write.mode("overwrite").format("parquet")
      .partitionBy("o_year")
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .option("path", s"$dir/$tbl").saveAsTable(tbl)
    spark.table(tbl)
      .filter(col("o_year") === 1997 && col("o_custkey").between(0, 50))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Dynamic partition pruning — the runtime counterpart to static
    * partition pruning, and the engine-native form of the reference's
    * Spectrum pattern (README.md:92-94: the lake table is partitioned, the
    * DW dim carries the predicate). The fact (lineitem, hive-partitioned on
    * ship year) joins a dim whose predicate is NOT expressible on the
    * partition column statically: "years whose order revenue ran below the
    * cross-year average" — an aggregate property only known at runtime.
    * Catalyst's PartitionPruning rule turns the dim's broadcast exchange
    * into a `dynamicpruning` subquery on the fact scan's PartitionFilters,
    * so non-qualifying partitions are never even listed. At 100 TB this is
    * the partition-level sibling of join_runtime_bloom's row-level filter:
    * a 1-of-N-years dim selection reads 1/N of the fact BYTES with zero
    * extra passes (the broadcast is reused, so the filter is free).
    * Constraint propagation canNOT do this statically — the predicate
    * lives on an aggregate column, not on the join key. The oracle replays
    * the same join on the raw table (layout-invariance); PlanSpec asserts
    * `dynamicpruning` sits in the fact scan's partition filters and that
    * the dim side broadcast. At sf0.01 the dim selects 1 of 7 years (the
    * trailing partial year), so the pruned scan reads ~14% of the fact. */
  val joinDppPrune: QFn = (spark, sfDir) => {
    val suffix = graft.util.Scratch.pathTag(sfDir)
    val tbl = s"lineitem_dpp_$suffix"
    val dir = Scratch.dir(s"dpp_$suffix")
    // repartition on (year, spreader): repartition(l_year) alone would
    // funnel each year through ONE task — invisible at fixture scale, a
    // serialization point when a year holds terabytes. The pmod spreader
    // gives every partition directory up to WriteSpread.n parallel writers
    // (files per dir stay bounded at n, not one-per-shuffle-task); at
    // 100 TB the n becomes executor-count-sized (see WriteSpread).
    Tables(spark, sfDir, "lineitem")
      .withColumn("l_year", year(col("l_shipdate")))
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_year")
      .repartition(col("l_year"), pmod(col("l_orderkey"), lit(WriteSpread.n)))
      .write.mode("overwrite").format("parquet")
      .partitionBy("l_year")
      .option("path", s"$dir/$tbl").saveAsTable(tbl)
    val yr = Tables(spark, sfDir, "orders")
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("yr_total"))
    // the cross-year average via an unpartitioned window over the YEARS
    // frame (a handful of rows at any fact scale — the single partition is
    // harmless here, unlike on fact data). Deliberately NOT the
    // crossJoin(broadcast(avg)) scalar pattern: that filter gets rewritten
    // into a join condition, and Catalyst's PartitionPruning rule only
    // recognizes the dim side as "filtering" if a literal Filter node with
    // a selective predicate survives in its subtree — above a window it
    // does, so the DPP subquery actually plants.
    // the "No Partition Defined" WARN this logs is accurate and accepted:
    // the single partition holds the 7-row YEAR frame, never fact data
    val dim = yr
      .withColumn("avg_total",
        avg(col("yr_total")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .filter(col("yr_total") < col("avg_total"))
      .select("y")
    // broadcast the DIM explicitly: its post-aggregate size estimate is
    // huge (unknown stats), so the planner would otherwise broadcast the
    // small test-scale FACT (BuildLeft) — and a broadcast fact can't be
    // partition-pruned. At 100 TB the fact is never the build side anyway;
    // the hint makes the test-scale plan match the production shape, and
    // PartitionPruning reuses this broadcast for the pruning subquery.
    spark.table(tbl)
      .join(broadcast(dim), col("l_year") === col("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("sum_rev"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, QFn] = Map(
    "sink_bucketed_colocated" -> sinkBucketedColocated,
    "sink_zorder_cluster" -> sinkZorderCluster,
    "sink_sorted_runs" -> sinkSortedRuns,
    "sink_partitioned_bucketed" -> sinkPartitionedBucketed,
    "join_dpp_prune" -> joinDppPrune,
  )

  val oracleSql: Map[String, String] = Map(
    // layout-invariance: the sorted-run read-back must equal the raw slice
    "sink_sorted_runs" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2) AS revenue " +
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01' " +
        "GROUP BY 1 ORDER BY 1"),
    "sink_bucketed_colocated" ->
      ("SELECT o_orderkey, o_orderstatus, count(*) AS n_lines, " +
        "ROUND(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY o_orderkey, o_orderstatus ORDER BY o_orderkey"),
    // layout-invariance again: the partitioned+bucketed read-back must
    // equal the raw-table slice
    "sink_partitioned_bucketed" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price " +
        "FROM orders WHERE year(o_orderdate) = 1997 " +
        "AND o_custkey BETWEEN 0 AND 50 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // layout-invariance: the DPP-pruned partitioned read-back must equal
    // the raw-table join; the below-average year selection replays as a
    // scalar subquery over the same CTE
    "join_dpp_prune" ->
      ("WITH yr AS (SELECT year(o_orderdate) AS y, " +
        "SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS yr_total " +
        "FROM orders GROUP BY 1) " +
        "SELECT l_returnflag, count(*) AS n_lines, " +
        "ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_rev " +
        "FROM lineitem JOIN yr ON year(l_shipdate) = yr.y " +
        "WHERE yr_total < (SELECT AVG(yr_total) FROM yr) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the oracle scans the RAW table: a correct clustering rewrite must be
    // invisible to query results
    "sink_zorder_cluster" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price " +
        "FROM orders WHERE o_custkey BETWEEN 40 AND 110 " +
        "AND o_totalprice BETWEEN 100000 AND 150000 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
  )
}
