package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loads the driver-generated parquet tables (TESTDATA.md) and stands in
  * for the reference's three catalogs — RDS MySQL, Redshift, and the Glue
  * Data Catalog (reference README.md:9-10,23). In Spark all three collapse
  * into one SparkSession; federation is a same-session join (SURVEY.md §1.4).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Round 21 (guide §1.2/§6 — driver-side fixed cost): `spark.read.parquet`
  // resolves the schema from the parquet footer and builds a fresh
  // InMemoryFileIndex on EVERY call, and nearly every one of the 225 timed
  // operators loads 1-3 tables through here — tens of ms of driver work per
  // timed row for files that are immutable for the life of the session.
  //
  // Round 22 (ADVICE r21 medium): round 21 memoized the resolved DataFrame
  // per (session, sfDir, name) in a WeakHashMap keyed on the session — but
  // a Dataset strongly references its SparkSession, so the VALUE map
  // strongly referenced the KEY and no entry was ever collectable: every
  // short-lived spec session and per-op cloned stream session stayed
  // pinned for the JVM's life, accumulating SessionStates. Redesigned in
  // two measured layers (BASELINE.md round 22, fixed-cost floor):
  //
  //  1. SESSION-INDEPENDENT schema cache per (sfDir, name): the expensive,
  //     immutable part of a load is parquet SCHEMA RESOLUTION — measured
  //     at ~60-77 ms/call (footer read + inference + the events
  //     inference-flag dance) vs ~5-10 ms for a schema-supplied
  //     `read.schema(s).parquet(path)` rebuild. A StructType holds no
  //     session reference, so this layer can never pin anything.
  //  2. BOUNDED per-session DataFrame memo: the ~5-10 ms rebuild is still
  //     real money across the ~300+ loads of a bench session, so resolved
  //     DataFrames stay memoized per session — but in a size-capped LRU
  //     ([[MaxCachedSessions]] sessions, identity-keyed) instead of the
  //     never-collectable WeakHashMap: the long-lived bench/Verify session
  //     keeps its ~0 ms hits, while short-lived spec sessions and per-op
  //     stream clones churn through the LRU and can pin at most
  //     MaxCachedSessions SessionStates at any time — bounded by design,
  //     which is what the ADVICE finding was actually about.
  //
  // Still plans only, never data or results. The adjacent `registered`
  // map stays weak-keyed and safe because its value is a String.
  //
  // Layer 1 builds once per key (SessionMemo): two concurrent first loads
  // of `events` run ONE schema resolution and one conf-flag dance, since
  // two interleaved dances can restore each other's flags wrongly and
  // leak them into the session (ADVICE r22). Layer 2 keeps its own LRU:
  // its lifetime is per session, not per key.
  private case class ResolvedTable(schema: org.apache.spark.sql.types.StructType,
                                   tsNanosAsLong: Boolean)

  private val resolved = new graft.util.SessionMemo

  /** Upper bound on sessions whose resolved DataFrames stay memoized. */
  private[graft] val MaxCachedSessions = 4

  // access-ordered LRU; identity semantics are SparkSession's default
  // equals/hashCode. All access goes through loaded.synchronized.
  private val loaded =
    new java.util.LinkedHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[(String, String), DataFrame]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession,
            scala.collection.concurrent.TrieMap[(String, String), DataFrame]]): Boolean =
        size() > MaxCachedSessions
    }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every operator loads its inputs here, so this is the one chokepoint
    // where the session reliably picks up the graft native functions
    graft.functions.GraftFunctions.ensure(spark)
    val perSession = loaded.synchronized {
      val m = loaded.get(spark)
      if (m != null) m
      else {
        val fresh = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
        loaded.put(spark, fresh)
        fresh
      }
    }
    perSession.getOrElseUpdate((sfDir, name), build(spark, sfDir, name))
  }

  /** Cheap per-session relation build over the cached schema — no footer
    * read, no inference, no flag dance. */
  private def build(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val r = resolved.once(s"$sfDir|$name")(resolve(spark, sfDir, name))
    val df = spark.read.schema(r.schema).parquet(s"$sfDir/$name.parquet")
    if (r.tsNanosAsLong)
      // generation (a): ts stored as TIMESTAMP(NANOS), read as raw long
      // (the cached schema says LongType) and truncated to micros in-plan —
      // the same truncation DuckDB applies for ns→µs
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** One-time schema resolution per (sfDir, name) — the only step that
    * reads parquet footers or needs the events inference-flag dance. The
    * result is session-independent: a StructType plus the ts-generation
    * verdict. Execution-time behavior is unchanged from the round-21 shape:
    * the relation's catalyst schema (what `resolve` captured) is what
    * drives the scan — the inference flags were ALREADY restored before any
    * action ran (see the scope note below), so skipping inference via
    * read.schema() executes the identical plan. */
  private def resolve(spark: SparkSession, sfDir: String, name: String): ResolvedTable = {
    if (name == "events") {
      // events.ts has shipped in two parquet generations:
      //   (a) TIMESTAMP(NANOS), which Spark 4 refuses to read natively —
      //       read the raw nanos as long (legacy flag) and truncate to
      //       micros in-plan (the same truncation DuckDB applies for ns→µs);
      //   (b) TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 infers
      //       as TIMESTAMP_NTZ by default — disable that inference so the
      //       stored micros map verbatim onto TimestampType's UTC instant,
      //       bit-identical to what (a)'s div-1000 produced and independent
      //       of the session time zone (an NTZ→LTZ cast would shift by it).
      // Scope of the set/restore (ADVICE r8 correction): nanosAsLong is
      // consulted ONLY while the relation's schema is resolved (the eager
      // part of read.parquet), but inferTimestampNTZ is ALSO re-read from
      // the session conf at physical-planning time (ParquetFileFormat
      // copies it into the executor hadoopConf) — i.e. after the finally
      // below restores it. That divergence is benign here because the
      // analysis-time catalyst schema (TimestampType) drives the vectorized
      // updater and an NTZ-file→LTZ-catalyst read is permitted; it would
      // bite if mergeSchema or executor-side schema conversion were added
      // to this read. A per-read parquet option would remove the divergence
      // entirely, but Spark 4.1.2's ParquetOptions has no inferTimestampNTZ
      // read option (verified against the jar — the option string is
      // silently ignored and inference runs anyway), so the session-conf
      // dance is the only spelling available. Restore both immediately:
      // leaving them set would silently change how OTHER timestamp parquet
      // reads behave for the rest of the session.
      // synchronized: the set/restore races if two threads resolve reads on
      // the same session concurrently (conf is session-global mutable
      // state). The memo already runs one resolution per (sfDir, name);
      // this lock also serializes the events dances of DIFFERENT corpus
      // dirs. Any other read.parquet on this session during the window
      // also sees NTZ inference off; the window is schema-resolution-short.
      this.synchronized {
        val flags = Seq(
          "spark.sql.legacy.parquet.nanosAsLong" -> "true",
          "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
        val prev = flags.map { case (k, _) => k -> spark.conf.getOption(k) }
        flags.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          val schema = spark.read.parquet(s"$sfDir/$name.parquet").schema
          // generation (a) iff ts resolved as raw nanos-long; the micros
          // truncation is applied per-call in apply() above
          ResolvedTable(schema,
            schema("ts").dataType == org.apache.spark.sql.types.LongType)
        } finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    } else ResolvedTable(spark.read.parquet(s"$sfDir/$name.parquet").schema, false)
  }

  // Memoization for registerAll (VERDICT r10 #2): registering all ten views
  // costs ten parquet schema resolutions, and the two SQL-text operators
  // (sql_athena_style, agg_grouping_sets) call registerAll inside their
  // query body — whichever runs first in a bench absorbed the whole catalog
  // churn into its timed row (sql_athena_style read 4.3× its band median in
  // the round-10 driver capture). The views are immutable per (session,
  // sfDir), so a repeat call is a pure no-op; keyed weakly on the session so
  // short-lived spec sessions don't pin their SessionState. If the SAME
  // session is re-pointed at a DIFFERENT sfDir (specs do this across SF
  // tiers), the views are re-registered and the key updated.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register one driver parquet table as an EXTERNAL catalog table named
    * `<prefix>_<table>_<pathTag>` and return that name. EXTERNAL
    * (LOCATION over the read-only testdata) so the DROP-first re-register
    * never touches data. Shared by the CBO stats tables (star_*) and the
    * cross-session catalog op (cat_*) — review r11: the two had grown
    * parallel copies of this DROP/CREATE machinery. Callers own their own
    * memoization (they cache different things: the stats builder also
    * runs ANALYZE). */
  def externalTable(spark: SparkSession, sfDir: String, table: String,
      prefix: String): String = {
    val name = s"${prefix}_${table}_${graft.util.Scratch.pathTag(sfDir)}"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$sfDir/$table.parquet'")
    name
  }

  /** Register every table as a temp view (Glue-Data-Catalog analog).
    * Idempotent and memoized per (session, sfDir) — callers may invoke it
    * defensively (each SQL-text operator still does, so Verify works on a
    * cold session) without paying re-registration. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    if (registered.get(spark) != sfDir) {
      names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
      registered.put(spark, sfDir)
    }
}
