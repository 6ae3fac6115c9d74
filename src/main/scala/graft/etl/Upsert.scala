package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QFn
import graft.tables.Tables

/** SURVEY.md §2.4 — the reference's signature operator: the staging→final
  * incremental upsert (README.md:65-72,149-154): COPY to staging, DELETE
  * rows of final matching staging's ORDER ID, INSERT staging, TRUNCATE.
  * Net semantics = last-write-wins upsert keyed on o_orderkey.
  *
  * Spark-first design: DELETE-matching + INSERT is exactly
  * `final LEFT ANTI JOIN staging` ∪ staging — one shuffle on the key (or
  * zero when staging broadcasts, the common case: an hourly batch is tiny
  * next to the accumulated table). At warehouse scale the same plan backs a
  * partition-overwrite (replaceWhere) or a Delta/Iceberg MERGE; the join
  * shape is identical.
  */
object Upsert {

  /** Last-write-wins merge of `staging` into `current` on `key`
    * (README.md:67-70,151-154's 4 SQL statements as one plan). */
  def upsert(current: DataFrame, staging: DataFrame, key: String): DataFrame =
    current.join(staging, Seq(key), "left_anti").unionByName(staging)

  /** Window-based dedup: newest row per key wins (README.md:67,120,151
    * "so that we don't have to worry about the duplicacy"). */
  def dedupLatest(df: DataFrame, key: String, order: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(key).orderBy(order: _*)))
      .filter(col("rn") === 1)
      .drop("rn")

  /** The upsert as an oracle-checkable query: full orders = "final";
    * staging = re-delivered recent orders with doubled price (so staging
    * winning is observable). */
  val incrementalUpsert: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val fin = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    val stg = orders.filter(col("o_orderdate") >= lit("2001-01-01"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    upsert(fin, stg, "o_orderkey").orderBy("o_orderkey")
  }

  /** Dedup-by-business-key, newest wins (README.md:67,120,151): highest
    * line number per order stands in for "latest batch". */
  val dedupByKey: QFn = (spark, sfDir) =>
    // l_quantity desc tie-break: the synthetic data has duplicate
    // (l_orderkey, l_linenumber) pairs, so linenumber alone is ambiguous.
    dedupLatest(Tables(spark, sfDir, "lineitem"),
      "l_orderkey", Seq(col("l_linenumber").desc, col("l_quantity").desc))
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey")

  /** Schema-drift merge: the staging feed grew a column the accumulated
    * table lacks (an upstream producer shipped a new field — the exact
    * situation the reference's crawler re-inference handles between runs,
    * README.md:10,163). The merge is the same anti-join ∪ staging as
    * [[incrementalUpsert]], but the union is `unionByName(allowMissing
    * Columns = true)`: surviving old rows take NULL for the new column,
    * staging rows carry it — no rewrite of the accumulated table, no
    * blocking migration. At 100 TB this is the only affordable spelling:
    * the historical petabytes are untouched (parquet readers fill missing
    * columns with null at scan time, same as scan_parquet_schema_evolution)
    * and only the delta carries the wider schema. */
  val upsertMergeSchemaDrift: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val fin = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    val stg = orders.filter(col("o_orderdate") >= lit("2001-01-01"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("o_channel",
        when(col("o_orderkey") % 2 === 0, lit("online")).otherwise(lit("store")))
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_channel")
    fin.join(stg, Seq("o_orderkey"), "left_anti")
      .unionByName(stg, allowMissingColumns = true)
      .orderBy("o_orderkey")
  }

  /** Historical one-time load ∪ rolling current loads (README.md:54-56,63,
    * 141 — `table/historical` and `table/current` S3 folders). */
  val historicalPlusCurrentUnion: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val hist = orders.filter(col("o_orderdate") < lit("2000-01-01"))
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val curr = orders.filter(col("o_orderdate") >= lit("2000-01-01"))
      .select("o_orderstatus", "o_orderkey", "o_totalprice") // different order
    hist.unionByName(curr)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Partition-overwrite upsert — the 100 TB path (SURVEY.md §2.4 "at
    * scale"): the accumulated table is partitioned by year; a staging batch
    * only touches recent partitions, so only THOSE are rebuilt
    * (anti-join ∪ staging within touched partitions) and rewritten via
    * dynamic partition overwrite. Untouched partitions are never read or
    * written — the unit of work scales with the batch, not the table.
    * localCheckpoint breaks the read-from/overwrite-to-same-path cycle the
    * way a snapshot dir or Delta/Iceberg commit would in production. */
  val upsertPartitionOverwrite: QFn = (spark, sfDir) => {
    import graft.util.Scratch
    val dir = Scratch.dir("upsert_partition_overwrite")
    val orders = Tables(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_year")
    // (o_year, spreader): repartition(o_year) alone would write each year
    // through ONE task — a serialization point when a year holds
    // terabytes; the pmod spreader gives every partition dir up to
    // WriteSpread.n parallel writers with files/dir bounded at n (same
    // rationale as Bucketing.joinDppPrune)
    orders.repartition(col("o_year"), pmod(col("o_orderkey"), lit(WriteSpread.n)))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir) // accumulated state
    val stg = Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("o_year", year(col("o_orderdate")))
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_year")
    val touched = stg.select("o_year").distinct()
    val refreshed = spark.read.parquet(dir)
      .join(broadcast(touched), Seq("o_year")) // partition-prunes the scan
      .join(stg.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(stg)
      .localCheckpoint()
    // dynamic overwrite as a per-write option: the caller's session conf
    // stays untouched, so a query planned beside this one never sees it
    refreshed.repartition(col("o_year"), pmod(col("o_orderkey"), lit(WriteSpread.n)))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_year").parquet(dir)
    spark.read.parquet(dir)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** SCD Type-2 dimension merge — the history-keeping upsert the plain
    * last-write-wins merge (above) can't express: a changed customer
    * segment CLOSES the current version (valid_to = effective date) and
    * APPENDS a new open version, untouched customers pass through. Two
    * semi/anti joins against the (small) staging key set — both broadcast
    * at warehouse scale, the accumulated dimension never shuffles. Every
    * 10th customer changes segment so all three branches are exercised. */
  val upsertScd2: QFn = (spark, sfDir) => {
    val eff = "2001-06-01"
    val dim = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        lit("1995-01-01").as("valid_from"), lit("9999-12-31").as("valid_to"))
    val stg = Tables(spark, sfDir, "customer")
      .filter(pmod(col("c_custkey"), lit(10)) === 0)
      .select(col("c_custkey"),
        concat(lit("NEW-"), col("c_mktsegment")).as("c_mktsegment"))
    val stgKeys = stg.select("c_custkey")
    val untouched = dim.join(stgKeys, Seq("c_custkey"), "left_anti")
    val closed = dim.join(stgKeys, Seq("c_custkey"), "left_semi")
      .withColumn("valid_to", lit(eff))
    val opened = stg
      .withColumn("valid_from", lit(eff))
      .withColumn("valid_to", lit("9999-12-31"))
    untouched.unionByName(closed).unionByName(opened)
      .orderBy("c_custkey", "valid_from")
  }

  /** Three-way MERGE — the full `MERGE INTO` a lakehouse runs (WHEN MATCHED
    * UPDATE / WHEN MATCHED AND cond DELETE / WHEN NOT MATCHED INSERT),
    * expressed as ONE join plan: target LEFT JOIN the U/D staging rows
    * (drop D matches, take the update value on U matches, pass everything
    * else through) ∪ the inserts. One shuffle on the key — or zero when
    * staging broadcasts, the hourly-batch case — same cost as the plain
    * anti-join upsert; this is what Delta/Iceberg compile MERGE to before
    * their write-side file replacement, which here pairs with the
    * partition-overwrite operator. Staging ops are derived deterministically
    * (orderkey mod 7: <2 update, =2 delete, =3 insert under shifted keys)
    * so the oracle can replay them. */
  val upsertMergeThreeWay: QFn = (spark, sfDir) => {
    val orders = Tables(spark, sfDir, "orders")
    val target = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    val recent = orders.filter(col("o_orderdate") >= lit("2001-01-01"))
    val updates = recent.filter(pmod(col("o_orderkey"), lit(7)) < 2)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("n_price"),
        lit("U").as("op"))
    val deletes = recent.filter(pmod(col("o_orderkey"), lit(7)) === 2)
      .select(col("o_orderkey"), lit(null).cast("double").as("n_price"),
        lit("D").as("op"))
    val inserts = recent.filter(pmod(col("o_orderkey"), lit(7)) === 3)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_totalprice").as("n_price"), lit("I").as("op"))
    target
      .join(updates.unionByName(deletes), Seq("o_orderkey"), "left")
      .filter(col("op").isNull || col("op") === "U")
      .select(col("o_orderkey"),
        coalesce(col("n_price"), col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
      .unionByName(inserts.select(col("o_orderkey"),
        col("n_price").as("o_totalprice"), lit("NEW").as("o_orderstatus")))
      .orderBy("o_orderkey")
  }

  /** CDC changelog apply — the replication-consumer shape `MERGE` can't
    * express directly: a stream of (key, op ∈ I/U/D, seq) change records,
    * possibly SEVERAL per key, folded onto a snapshot. Step 1 is the CDC
    * compaction: row_number over (key ORDER BY seq DESC) keeps each key's
    * latest change — the shuffle is on the changelog (the small side),
    * never the snapshot. Step 2 is one left join applying the compacted
    * verdicts (U rewrites, D drops, untouched keys pass with op 'K') plus
    * a union of the I rows — the merge_three_way plan downstream of the
    * compaction window. The changelog here is derived deterministically
    * from orders (D for key%10=0, U@seq1 for %10∈{1,2}, a second U@seq2
    * for %10=1 proving last-seq-wins, I with shifted keys for %10=3) so
    * the DuckDB oracle replays the identical fold. */
  val upsertCdcApply: QFn = (spark, sfDir) => {
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val k = col("o_orderkey")
    val del = o.filter(pmod(k, lit(10)) === 0)
      .select(k.as("o_orderkey"), lit("D").as("op"), lit(1L).as("seq"),
        lit(null).cast("double").as("new_price"))
    val u1 = o.filter(pmod(k, lit(10)).isin(1, 2))
      .select(k.as("o_orderkey"), lit("U").as("op"), lit(1L).as("seq"),
        (col("o_totalprice") * 1.1).as("new_price"))
    val u2 = o.filter(pmod(k, lit(10)) === 1)
      .select(k.as("o_orderkey"), lit("U").as("op"), lit(2L).as("seq"),
        (col("o_totalprice") * 1.25).as("new_price"))
    val ins = o.filter(pmod(k, lit(10)) === 3)
      .select((k + 10000000L).as("o_orderkey"), lit("I").as("op"),
        lit(1L).as("seq"), (col("o_totalprice") + 5).as("new_price"))
    val last = del.unionByName(u1).unionByName(u2).unionByName(ins)
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_orderkey").orderBy(col("seq").desc)))
      .filter(col("rn") === 1).drop("rn", "seq")
    val kept = o.join(last, Seq("o_orderkey"), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("o_orderkey"),
        when(col("op") === "U", col("new_price")).otherwise(col("o_totalprice"))
          .as("o_totalprice"),
        col("o_orderstatus"), coalesce(col("op"), lit("K")).as("last_op"))
    kept.unionByName(
      last.filter(col("op") === "I")
        .select(col("o_orderkey"), col("new_price").as("o_totalprice"),
          lit("O").as("o_orderstatus"), lit("I").as("last_op")))
      .orderBy("o_orderkey")
  }

  /** Snapshot diff — the INVERSE of cdc_apply: given yesterday's and
    * today's snapshots of a table with no changelog (the replication
    * scenario the reference's full-reload Data Pipeline drops actually
    * produce, README.md:52-63), emit the I/U/D change records that turn
    * one into the other. One full-outer join on the key classifies every
    * row (right-only → I, left-only → D, both-but-different → U,
    * identical → dropped); at warehouse scale both snapshots bucket on the
    * key and the join is exchange-free — this is how lakehouses derive
    * CDC feeds from table versions. The new snapshot is derived
    * deterministically (deletes: key%97=0; updates: 2001+ prices doubled;
    * inserts: shifted keys for key%101=0) so the oracle replays it. */
  val upsertSnapshotDiff: QFn = (spark, sfDir) => {
    val oldSnap = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val base = Tables(spark, sfDir, "orders")
    val newSnap = base.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(col("o_orderdate") >= lit("2001-01-01"), col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .unionByName(base.filter(pmod(col("o_orderkey"), lit(101)) === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_orderstatus"), (col("o_totalprice") + 1.0).as("o_totalprice")))
    oldSnap.as("o")
      .join(newSnap.as("n"), col("o.o_orderkey") === col("n.o_orderkey"),
        "full_outer")
      .withColumn("op",
        when(col("n.o_orderkey").isNull, "D")
          .when(col("o.o_orderkey").isNull, "I")
          .when(col("o.o_totalprice") =!= col("n.o_totalprice")
            || col("o.o_orderstatus") =!= col("n.o_orderstatus"), "U"))
      .filter(col("op").isNotNull)
      .select(coalesce(col("o.o_orderkey"), col("n.o_orderkey")).as("o_orderkey"),
        col("op"), col("o.o_totalprice").as("old_price"),
        col("n.o_totalprice").as("new_price"))
      .orderBy("o_orderkey")
  }

  /** Point-in-time (as-of) lookup against the SCD2 dimension — the read
    * side of upsert_scd2: every order joined to the customer version that
    * was valid ON ITS ORDER DATE, so pre-change orders report the old
    * segment and post-change orders the NEW- one. The validity predicate
    * ([valid_from, valid_to) half-open) rides as a residual on a plain
    * equi-join keyed on the customer key — versions don't overlap, so each
    * order matches exactly one row and the join stays hash/merge on the
    * high-cardinality key (broadcast when the dimension fits, the usual
    * case). This pairing is why SCD2 beats snapshot-per-day at 100 TB: one
    * dimension table answers every historical date. */
  val joinScd2Asof: QFn = (spark, sfDir) => {
    val dim = upsertScd2(spark, sfDir)
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_date"))
      .join(dim, col("o_custkey") === col("c_custkey")
        && col("o_date") >= to_date(col("valid_from"))
        && col("o_date") < to_date(col("valid_to")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
        col("c_mktsegment").as("segment_at_order"))
      .orderBy("o_orderkey")
  }

  /** Incremental materialized-aggregate maintenance — the refresh pattern
    * behind the reference's staged→final→dashboard chain (README.md:
    * 65-72,97-102): the BI-facing aggregate table is NOT recomputed from
    * the fact history on each load; the new batch's PARTIAL aggregates
    * merge into the stored ones. Works because count/sum are associative:
    * re-aggregating the union of (stored partials ∪ delta partials) by
    * key equals the full aggregate over all rows ever seen — the DuckDB
    * oracle checks exactly that equivalence. Refresh cost is
    * O(delta + |agg table|), never O(fact history): at 100 TB the fact
    * scan happens once per batch over the batch, and the merge shuffles
    * only aggregate rows (|status × years|, KBs). The decimal sum is
    * widened once at partial time so the merge's re-sum cannot overflow
    * or drift; avg-style metrics would store (sum, count) pairs the same
    * way. Each refresh commits to a NEW version dir (v1 → v2, round 21),
    * the snapshot idiom of a real table format — so the refresh never
    * reads from and overwrites the same live path and needs no
    * self-overwrite checkpoint guard. */
  val upsertIncrementalAgg: QFn = (spark, sfDir) => {
    import graft.util.Scratch
    val dir = Scratch.dir("upsert_incremental_agg")
    val orders = Tables(spark, sfDir, "orders")
    def partial(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderstatus"), year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(28,4)")).as("rev"))
    // stored aggregate = everything before the current load window
    partial(orders.filter(col("o_orderdate") < lit("2001-01-01")))
      .write.mode("overwrite").parquet(s"$dir/v1")
    // incremental refresh: delta partials ∪ stored partials, re-summed.
    // Written to a NEW version dir (round 21) — the old in-place overwrite
    // of the dir being read forced an eager localCheckpoint (a whole extra
    // materialization job) purely as a self-overwrite guard; versioned
    // commits are also what a real table format does (a snapshot dir /
    // Delta commit, never a read-modify-overwrite of live files).
    val delta = partial(orders.filter(col("o_orderdate") >= lit("2001-01-01")))
    spark.read.parquet(s"$dir/v1").unionByName(delta)
      .groupBy("o_orderstatus", "o_year")
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("rev")).as("rev"))
      .write.mode("overwrite").parquet(s"$dir/v2")
    spark.read.parquet(s"$dir/v2")
      .select(col("o_orderstatus"), col("o_year"), col("n_orders"),
        round(col("rev").cast("double"), 2).as("revenue"))
      .orderBy("o_orderstatus", "o_year")
  }

  /** Positional deletion vectors — the Iceberg v2 / Delta
    * deletion-vector merge-on-read shape, which is how a 100 TB lake
    * applies a 0.01% delete without rewriting a single data file: the
    * delete phase emits only (file, row position) tombstones, and every
    * subsequent read anti-joins the scan against that tiny side. Here the
    * DV is built from the same scan's `_metadata.file_path` / `row_index`
    * hidden columns (Spark's file-source row lineage — no content column
    * participates in the delete key, so duplicate business keys can't
    * alias), then the read path re-derives positions and drops tombstoned
    * rows with a BROADCAST left-anti join: the DV is O(deleted rows) and
    * ships to every executor; the fact side is never shuffled. In
    * production the DV persists beside the data files and compaction
    * folds it in once it crosses a size threshold; the read-path plan is
    * exactly this one. The oracle replays the delete PREDICATE over raw
    * content — passing proves the positional round-trip (position built →
    * position matched) dropped precisely the predicate's rows. */
  val upsertPositionalDelete: QFn = (spark, sfDir) => {
    val withPos = Tables(spark, sfDir, "orders")
      .select(col("_metadata.file_path").as("f"),
        col("_metadata.row_index").as("pos"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // the MERGE's match phase: tombstone finished orders in a key residue
    // class — in production this frame is persisted as the DV sidecar
    val dv = withPos
      .filter(col("o_orderstatus") === "F" && pmod(col("o_orderkey"), lit(7)) === 3)
      .select("f", "pos")
    withPos.join(broadcast(dv), Seq("f", "pos"), "left_anti")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(28,4)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("o_orderstatus")
  }

  val queries: Map[String, QFn] = Map(
    "upsert_positional_delete" -> upsertPositionalDelete,
    "upsert_incremental_agg" -> upsertIncrementalAgg,
    "join_scd2_asof" -> joinScd2Asof,
    "upsert_snapshot_diff" -> upsertSnapshotDiff,
    "upsert_cdc_apply" -> upsertCdcApply,
    "upsert_merge_three_way" -> upsertMergeThreeWay,
    "upsert_scd2" -> upsertScd2,
    "incremental_upsert" -> incrementalUpsert,
    "upsert_merge_schema_drift" -> upsertMergeSchemaDrift,
    "dedup_by_key" -> dedupByKey,
    "historical_plus_current_union" -> historicalPlusCurrentUnion,
    "upsert_partition_overwrite" -> upsertPartitionOverwrite,
  )

  val oracleSql: Map[String, String] = Map(
    // content-predicate replay of the positional tombstones: equality
    // proves the (file, row_index) round-trip dropped exactly these rows
    "upsert_positional_delete" ->
      ("SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2) AS revenue " +
        "FROM orders WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 3) " +
        "GROUP BY 1 ORDER BY 1"),
    // merged partials must equal the full aggregate over all rows
    "upsert_incremental_agg" ->
      ("SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS o_year, " +
        "CAST(count(*) AS BIGINT) AS n_orders, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2) AS revenue " +
        "FROM orders GROUP BY 1, 2 ORDER BY 1, 2"),
    "upsert_snapshot_diff" ->
      ("WITH oldsnap AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders), " +
        "newsnap AS (SELECT o_orderkey, o_orderstatus, " +
        "CASE WHEN o_orderdate >= TIMESTAMP '2001-01-01' THEN o_totalprice * 2 " +
        "ELSE o_totalprice END AS o_totalprice FROM orders WHERE o_orderkey % 97 <> 0 " +
        "UNION ALL SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice + 1 " +
        "FROM orders WHERE o_orderkey % 101 = 0) " +
        "SELECT * FROM (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey, " +
        "CASE WHEN n.o_orderkey IS NULL THEN 'D' WHEN o.o_orderkey IS NULL THEN 'I' " +
        "WHEN o.o_totalprice <> n.o_totalprice OR o.o_orderstatus <> n.o_orderstatus THEN 'U' END AS op, " +
        "o.o_totalprice AS old_price, n.o_totalprice AS new_price " +
        "FROM oldsnap o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey) " +
        "WHERE op IS NOT NULL ORDER BY o_orderkey"),
    "join_scd2_asof" ->
      ("WITH dim AS (SELECT c_custkey, c_mktsegment, '1995-01-01' AS valid_from, " +
        "CASE WHEN c_custkey % 10 = 0 THEN '2001-06-01' ELSE '9999-12-31' END AS valid_to " +
        "FROM customer " +
        "UNION ALL SELECT c_custkey, 'NEW-' || c_mktsegment, '2001-06-01', '9999-12-31' " +
        "FROM customer WHERE c_custkey % 10 = 0) " +
        "SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date, " +
        "d.c_mktsegment AS segment_at_order " +
        "FROM orders JOIN dim d ON o_custkey = d.c_custkey " +
        "AND CAST(o_orderdate AS DATE) >= CAST(valid_from AS DATE) " +
        "AND CAST(o_orderdate AS DATE) < CAST(valid_to AS DATE) " +
        "ORDER BY o_orderkey"),
    "upsert_cdc_apply" ->
      ("WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders), " +
        "c AS (" +
        "SELECT o_orderkey, 'D' AS op, 1 AS seq, CAST(NULL AS DOUBLE) AS new_price " +
        "FROM o WHERE o_orderkey % 10 = 0 " +
        "UNION ALL SELECT o_orderkey, 'U', 1, o_totalprice * 1.1 FROM o WHERE o_orderkey % 10 IN (1, 2) " +
        "UNION ALL SELECT o_orderkey, 'U', 2, o_totalprice * 1.25 FROM o WHERE o_orderkey % 10 = 1 " +
        "UNION ALL SELECT o_orderkey + 10000000, 'I', 1, o_totalprice + 5 FROM o WHERE o_orderkey % 10 = 3), " +
        "last AS (SELECT o_orderkey, op, new_price FROM " +
        "(SELECT c.*, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM c) " +
        "WHERE rn = 1) " +
        "SELECT o.o_orderkey, " +
        "CASE WHEN l.op = 'U' THEN l.new_price ELSE o.o_totalprice END AS o_totalprice, " +
        "o.o_orderstatus, coalesce(l.op, 'K') AS last_op " +
        "FROM o LEFT JOIN last l ON o.o_orderkey = l.o_orderkey " +
        "WHERE l.op IS NULL OR l.op <> 'D' " +
        "UNION ALL SELECT o_orderkey, new_price, 'O', 'I' FROM last WHERE op = 'I' " +
        "ORDER BY o_orderkey"),
    "upsert_merge_three_way" ->
      ("WITH recent AS (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'), " +
        "u AS (SELECT o_orderkey, o_totalprice * 2 AS n_price FROM recent WHERE o_orderkey % 7 < 2), " +
        "d AS (SELECT o_orderkey FROM recent WHERE o_orderkey % 7 = 2), " +
        "i AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice FROM recent WHERE o_orderkey % 7 = 3) " +
        "SELECT t.o_orderkey, COALESCE(u.n_price, t.o_totalprice) AS o_totalprice, t.o_orderstatus " +
        "FROM orders t LEFT JOIN u USING (o_orderkey) " +
        "WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM d) " +
        "UNION ALL SELECT o_orderkey, o_totalprice, 'NEW' FROM i " +
        "ORDER BY o_orderkey"),
    "upsert_scd2" ->
      ("SELECT c_custkey, c_mktsegment, '1995-01-01' AS valid_from, " +
        "CASE WHEN c_custkey % 10 = 0 THEN '2001-06-01' ELSE '9999-12-31' END AS valid_to " +
        "FROM customer " +
        "UNION ALL " +
        "SELECT c_custkey, 'NEW-' || c_mktsegment, '2001-06-01', '9999-12-31' " +
        "FROM customer WHERE c_custkey % 10 = 0 " +
        "ORDER BY c_custkey, valid_from"),
    "incremental_upsert" ->
      ("WITH stg AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01') " +
        "SELECT * FROM (" +
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM stg) " +
        "UNION ALL SELECT * FROM stg) ORDER BY o_orderkey"),
    "upsert_merge_schema_drift" ->
      ("WITH stg AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, " +
        "o_orderstatus, CASE WHEN o_orderkey % 2 = 0 THEN 'online' ELSE 'store' END " +
        "AS o_channel FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01') " +
        "SELECT * FROM (" +
        "SELECT o_orderkey, o_totalprice, o_orderstatus, CAST(NULL AS VARCHAR) AS o_channel " +
        "FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM stg) " +
        "UNION ALL SELECT * FROM stg) ORDER BY o_orderkey"),
    "dedup_by_key" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC, l_quantity DESC) = 1 " +
        "ORDER BY l_orderkey"),
    "historical_plus_current_union" ->
      ("SELECT o_orderstatus, count(*) AS cnt, " +
        "ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price " +
        "FROM orders GROUP BY 1 ORDER BY 1"),
    "upsert_partition_overwrite" ->
      ("SELECT o_orderkey, CASE WHEN o_orderdate >= TIMESTAMP '2001-01-01' " +
        "THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice, o_orderstatus " +
        "FROM orders ORDER BY o_orderkey"),
  )
}
