package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DateType, DoubleType, LongType, StringType, StructField, StructType}
import graft.QFn
import graft.tables.Tables
import graft.util.Scratch

/** SURVEY.md §2.1 — scans, sources, sinks.
  *
  * The reference ingests CSV into MySQL with header-skip + quoting
  * (README.md:17-19,136-139), tolerates invalid chars on Redshift COPY
  * (README.md:32-35,143-146), infers lake schemas with Glue Crawlers
  * (README.md:10,163), converts CSV→partitioned+compressed parquet
  * (README.md:83-87,165-166), and processes "ALL the files present in S3"
  * parameterized by filename (README.md:90,168). Each op here round-trips
  * through a real file sink/source so the option handling is actually
  * exercised, then returns a deterministic DataFrame for the DuckDB oracle.
  *
  * Scale notes (100 TB): all writes are plain distributed df.write (no
  * coalesce/collect); partitioned writes shuffle by partition cols only;
  * reads rely on Spark's parallel file listing + split planning.
  */
object Ingest {

  /** CSV load with header + quote handling (README.md:17-19 LOAD DATA ...
    * ENCLOSED BY '"' IGNORE 1 LINES). */
  val scanCsvHeaderQuoted: QFn = (spark, sfDir) => {
    val cust = Tables(spark, sfDir, "customer")
    val dir = Scratch.dir("scan_csv_header_quoted")
    cust.write.mode("overwrite")
      .option("header", true).option("quoteAll", true).csv(dir)
    spark.read.schema(cust.schema)
      .option("header", true).option("quote", "\"").option("sep", ",")
      .csv(dir)
      .orderBy("c_custkey")
  }

  /** Invalid/special-char-tolerant CSV ingest + sanitization
    * (README.md:32-35,143-146 `acceptinvchars`): non-printable/non-ASCII
    * chars are replaced with '?' exactly like Redshift's acceptinvchars. */
  val scanCsvInvalidChars: QFn = (spark, sfDir) => {
    val nation = Tables(spark, sfDir, "nation")
      // inject a Latin-1 and a CJK char so the sanitizer has work to do
      .withColumn("n_name", concat(col("n_name"), lit("é中")))
    val dir = Scratch.dir("scan_csv_invalid_chars")
    nation.write.mode("overwrite").option("header", true).csv(dir)
    spark.read.schema(Tables(spark, sfDir, "nation").schema)
      .option("header", true).option("mode", "PERMISSIVE")
      .csv(dir)
      .withColumn("n_name", regexp_replace(col("n_name"), "[^\\x20-\\x7E]", "?"))
      .orderBy("n_nationkey")
  }

  /** Crawler-style schema inference from raw CSV (README.md:10,163). */
  val scanCsvInferSchema: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("scan_csv_infer_schema")
    Tables(spark, sfDir, "region").write.mode("overwrite")
      .option("header", true).csv(dir)
    spark.read.option("header", true).option("inferSchema", true).csv(dir)
      .orderBy("r_regionkey")
  }

  /** Plain parquet scan of a lake table (README.md:83,127). Ordered by ALL
    * projected columns: (l_orderkey, l_linenumber) is not unique in the
    * synthetic data, and a tie with differing other columns would make the
    * row order engine-dependent. */
  val scanParquet: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  /** Hive-partitioned parquet read with automatic partition discovery
    * (README.md:83,166,168 — crawler re-run picks up year/month partitions;
    * in Spark discovery is free). Partition pruning then applies to any
    * filter on o_year/o_month — the reference's Athena cost win. */
  val scanParquetPartitioned: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("scan_parquet_partitioned")
    Tables(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("o_month", month(col("o_orderdate")))
      // cluster rows by partition key before the write: one file per
      // (year, month) instead of tasks × partitions small files
      .repartition(col("o_year"), col("o_month"))
      .write.mode("overwrite").partitionBy("o_year", "o_month").parquet(dir)
    spark.read.parquet(dir)
      .groupBy("o_year", "o_month")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("o_year", "o_month")
  }

  /** Per-session embedded-Derby OLTP stand-in, seeded once through Spark's
    * own JDBC sink. `None` = Derby unavailable on this classpath → the
    * parquet fallback below. Keyed by (appId, sfDir) so concurrent suites
    * sharing the JVM never fight over one database directory. */
  private[graft] def derbyUrl(spark: SparkSession, sfDir: String): Option[String] =
    memo(spark, sfDir, "derbyUrl") {
      try {
        // keep derby.log inside the repo's scratch space (never wiped —
        // Derby holds it open for the life of the JVM)
        System.setProperty("derby.system.home", Scratch.keep("derby-home"))
        // one database directory PER (session, sfDir): the cache is keyed
        // by both, so the path must be too — an appId-only path would be
        // re-seeded (mode overwrite) by a second scale factor and the first
        // sfDir's cached URL would silently serve the other tier's rows
        val db = Scratch.dir(
          "derby_" + spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_-]", "_") +
            "_" + graft.util.Scratch.pathTag(sfDir)) + "/oltp"
        val url = s"jdbc:derby:$db;create=true"
        Tables(spark, sfDir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").format("jdbc")
          .option("url", url).option("dbtable", "ORDERS").save()
        Tables(spark, sfDir, "customer")
          .select("c_custkey", "c_name", "c_mktsegment")
          .write.mode("overwrite").format("jdbc")
          .option("url", url).option("dbtable", "CUSTOMER").save()
        Some(url)
      } catch { case e: Throwable =>
        System.err.println("[ingest] embedded Derby unavailable " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}); scan_jdbc_export falls back to parquet")
        None
      }
    }

  /** The OLTP store and catalog registrations this module builds once per
    * (session, sfDir) — see [[graft.util.SessionMemo]]. */
  private val memo = new graft.util.SessionMemo

  /** Data-Pipeline-style extract: a SELECT against the OLTP store over real
    * JDBC (README.md:52-56,113,141 — the reference's extract is a SQL query
    * on RDS MySQL). Spark ships Derby, so the OLTP side is an in-process
    * Derby database seeded through the JDBC sink; the read is a genuine
    * `format("jdbc")` scan — partitioned on the numeric key (4 stride
    * ranges; at scale derive lower/upperBound from a min/max probe query
    * first) with the price predicate pushed INTO the database
    * (PushedFilters on the JDBCRelation — asserted in PlanSpec), then a
    * broadcast join against the small CUSTOMER dimension. Falls back to the
    * equivalent parquet join if the Derby driver cannot boot. */
  val scanJdbcExport: QFn = (spark, sfDir) =>
    derbyUrl(spark, sfDir) match {
      case Some(url) =>
        val orders = spark.read.format("jdbc")
          .option("url", url).option("dbtable", "ORDERS")
          .option("partitionColumn", "O_ORDERKEY")
          .option("lowerBound", "1").option("upperBound", "1000000")
          .option("numPartitions", "4")
          .load()
          .filter(col("O_TOTALPRICE") >= 0) // pushed down to Derby
        val cust = spark.read.format("jdbc")
          .option("url", url).option("dbtable", "CUSTOMER").load()
        orders.join(broadcast(cust), col("O_CUSTKEY") === col("C_CUSTKEY"))
          .select(col("O_ORDERKEY").as("o_orderkey"), col("C_NAME").as("c_name"),
            col("C_MKTSEGMENT").as("c_mktsegment"),
            col("O_TOTALPRICE").as("o_totalprice"))
          .orderBy("o_orderkey")
      case None =>
        val orders = Tables(spark, sfDir, "orders")
          .filter(col("o_totalprice") >= 0)
        val cust = Tables(spark, sfDir, "customer")
        orders.join(cust, orders("o_custkey") === cust("c_custkey"))
          .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
          .orderBy("o_orderkey")
    }

  /** Process ALL files in a bucket, parameterized by filename
    * (README.md:90,168): every *.csv under the bucket + input_file_name()
    * dispatch. The read names the bucket dir itself, not a `*_files`
    * glob: Spark stats a glob path for a streaming-sink metadata dir and
    * logs a FileNotFoundException trace at WARN on every run. */
  val scanGlobDynamic: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("scan_glob_dynamic")
    val ev = Tables(spark, sfDir, "events")
    Seq("click", "error", "purchase", "signup", "view").foreach { t =>
      ev.filter(col("event_type") === t).select("event_id", "user_id")
        .write.mode("overwrite").option("header", true).csv(s"$dir/${t}_files")
    }
    spark.read.schema("event_id LONG, user_id LONG")
      .option("header", true).option("recursiveFileLookup", true)
      .option("pathGlobFilter", "*.csv").csv(dir)
      .withColumn("src_type",
        regexp_extract(input_file_name(), "([a-z]+)_files", 1))
      .groupBy("src_type").agg(count(lit(1)).as("cnt"))
      .orderBy("src_type")
  }

  /** JSON-lines lake round-trip (§2.1 extension — the third bread-and-butter
    * lake format next to CSV and parquet): write documents as jsonl, read
    * back with an explicit schema (schema-on-read), prove fidelity. */
  val scanJsonl: QFn = (spark, sfDir) => {
    val docs = Tables(spark, sfDir, "documents")
    val dir = Scratch.dir("scan_jsonl")
    docs.select("doc_id", "lang", "source", "n_chars")
      .write.mode("overwrite").json(dir)
    spark.read.schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
      .json(dir)
      .orderBy("doc_id")
  }

  /** Raw text-lines lake scan (§2.1 extension — the line-oriented corpus
    * format every raw-text crawl lands in before parquet conversion): export
    * documents as TSV-ish lines through the `text` sink (one string column,
    * no row-level framing), read back with the `text` source, re-split. The
    * tab/newline sanitize applied before the write is mirrored verbatim in
    * the oracle so the round-trip is provable from the source table. At
    * 100 TB the text source splits files on line boundaries per
    * maxPartitionBytes — a plain distributed scan, no listing bottleneck. */
  val scanTextLines: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("scan_text_lines")
    val clean = regexp_replace(col("text"), "[\\t\\n\\r]", " ")
    Tables(spark, sfDir, "documents")
      .select(concat(col("doc_id").cast("string"), lit("\t"), clean).as("value"))
      .write.mode("overwrite").text(dir)
    spark.read.text(dir)
      .select(split(col("value"), "\t", 2).as("parts"))
      .select(element_at(col("parts"), 1).cast("long").as("doc_id"),
        element_at(col("parts"), 2).as("text_clean"))
      .withColumn("n_chars_clean", length(col("text_clean")))
      .orderBy("doc_id")
  }

  /** Raw-file ingest through the `binaryFile` source (§2.1 extension — the
    * door multimodal assets walk in through: image/audio files land as
    * (path, length, content) rows, exactly what llm_multimodal_decode
    * consumes downstream). Stages the corpus as shard-partitioned text
    * files, reads them back as opaque binaries, and proves BOTH the
    * filesystem length column and the fetched content agree with the
    * source table's byte accounting (each line = utf8 bytes + '\n').
    * At 100 TB: binaryFile splits per FILE (content is one row), so shard
    * file sizes must be bounded by the writer — here the shard key does
    * that; production adds maxRecordsPerFile. */
  val scanBinaryFile: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("scan_binaryfile")
    val clean = regexp_replace(col("text"), "[\\t\\n\\r]", " ")
    Tables(spark, sfDir, "documents")
      .select(pmod(col("doc_id"), lit(8)).cast("int").as("shard"),
        clean.as("value"))
      .repartition(8, col("shard"))
      .write.mode("overwrite").partitionBy("shard").text(dir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .load(dir) // partition discovery turns shard=K dirs into the shard col
      .select(col("shard").cast("int").as("shard"),
        col("length"), length(col("content")).as("content_bytes"))
      .groupBy("shard")
      .agg(sum(col("length")).as("total_bytes"),
        sum(col("content_bytes")).as("fetched_bytes"))
      .orderBy("shard")
  }

  /** CSV export of a query result (README.md:54-56,141 Data Pipeline → S3
    * CSV), read back to prove fidelity. */
  /** Gzip-compressed CSV interchange round-trip — the format most lake
    * drops actually arrive in (every export tool gzips text by default;
    * the reference's CSV arrows all carry .gz in practice). Write the
    * summary gzipped, read it back through Spark's transparent codec
    * detection (by extension — no reader option needed), prove fidelity
    * against the source aggregate. Scale note: gzip is NOT splittable —
    * one .gz file = one read task, which is why this op writes one file
    * per shuffle partition (the writer's natural sharding) and why the
    * first hop at 100 TB converts to parquet (the reference's own
    * pipeline, and ours: scan_csv → sink_parquet). */
  val sinkCsvGzip: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("sink_csv_gzip")
    Tables(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("sum_price"),
        count(lit(1)).as("cnt"))
      .write.mode("overwrite").option("header", true)
      .option("compression", "gzip").csv(dir)
    spark.read.schema("o_orderpriority STRING, sum_price DOUBLE, cnt LONG")
      .option("header", true).csv(dir)
      .orderBy("o_orderpriority")
  }

  val sinkCsv: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("sink_csv")
    Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("sum_price"),
        count(lit(1)).as("cnt"))
      .write.mode("overwrite").option("header", true).csv(dir)
    spark.read.schema("l_returnflag STRING, sum_price DOUBLE, cnt LONG")
      .option("header", true).csv(dir)
      .orderBy("l_returnflag")
  }

  /** Parquet sink with compression + partitioning by derived cols
    * (README.md:86-87,127,165-166 — the reference's "major performance
    * difference" conversion). zstd + partitionBy(year, month). */
  val sinkParquetPartitionedCompressed: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("sink_parquet_partitioned_compressed")
    Tables(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("o_month", month(col("o_orderdate")))
      // avoid the tasks × partitions small-file explosion (see
      // scan_parquet_partitioned): one file per (o_year, o_month) dir. The
      // explicit count keeps AQE from coalescing the ~84 dirs into one
      // writer task; at 100 TB add a salt column to this repartition when
      // single partitions exceed one task's write budget
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("o_year"), col("o_month"))
      .write.mode("overwrite")
      .partitionBy("o_year", "o_month")
      .option("compression", "zstd")
      .parquet(dir)
    spark.read.parquet(dir)
      .select("o_orderkey", "o_year", "o_month")
      .orderBy("o_orderkey")
  }

  /** ORC sink + scan roundtrip — the other columnar format a warehouse
    * offload targets (Spark bundles the ORC reader/writer; predicate
    * pushdown and column pruning work the same as parquet). Writes orders
    * as zlib ORC partitioned by status, reads it back with partition
    * discovery, and aggregates — the result must equal the same aggregate
    * over the parquet source, proving write/read fidelity. */
  val sinkOrcRoundtrip: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("sink_orc_roundtrip")
    // (status, spreader): repartition(o_orderstatus) alone is a 3-task
    // write (one per status) — the worst funnel of this class; the pmod
    // spreader gives each status dir up to WriteSpread.n parallel writers
    // with files/dir bounded at n (same rationale as Bucketing.joinDppPrune)
    Tables(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .repartition(col("o_orderstatus"), pmod(col("o_orderkey"), lit(WriteSpread.n)))
      .write.mode("overwrite")
      .partitionBy("o_orderstatus")
      .option("compression", "zlib")
      .orc(dir)
    spark.read.orc(dir)
      .groupBy("o_orderstatus", "o_year")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("o_orderstatus", "o_year")
  }

  /** Positional column binding on load (README.md:29,142 "Order of the
    * columns in SQL query and order of columns in table should be same").
    * Emulates `insertInto` semantics: the source's columns are bound to the
    * target schema BY POSITION, so the caller must align them first. */
  // (misalignment trap exercised in ContractSpec)
  val sinkTablePositional: QFn = (spark, sfDir) => {
    val cust = Tables(spark, sfDir, "customer")
    val target = cust.schema.fieldNames
    // source arrives with columns shuffled (as from an ad-hoc SELECT) ...
    val shuffled = cust.select("c_mktsegment", "c_custkey", "c_name",
      "c_nationkey", "c_acctbal")
    // ... correct positional load = reorder to target order, bind by position
    val bound = insertPositional(shuffled.select(target.map(col): _*), target)
    val dir = Scratch.dir("sink_table_positional")
    bound.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).orderBy("c_custkey")
  }

  /** insertInto-style positional bind: names are taken from the target, not
    * the source. Misaligned sources silently produce garbage — see the
    * ContractSpec "positional bind" test. */
  def insertPositional(source: DataFrame, targetCols: Seq[String]): DataFrame =
    source.toDF(targetCols: _*)

  /** Schema evolution on the lake (the crawler-re-run scenario,
    * README.md:83,168: the catalog picks up NEW columns as files evolve):
    * an early drop without o_orderstatus and a later drop with it live in
    * the same directory; `mergeSchema` reconciles the footers and the old
    * rows surface the new column as null. At scale mergeSchema costs a
    * footer read per file — enable it on the first read after an evolution,
    * then pin the merged schema explicitly (as a catalog would). */
  val scanParquetSchemaEvolution: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("scan_parquet_schema_evolution")
    val orders = Tables(spark, sfDir, "orders")
    orders.filter(col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_totalprice")
      .write.mode("append").parquet(dir)
    orders.filter(col("o_orderdate") >= lit("1998-01-01"))
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("append").parquet(dir)
    spark.read.option("mergeSchema", "true").parquet(dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        coalesce(col("o_orderstatus"), lit("?")).as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Small-file compaction — the lake-maintenance pass every streaming/
    * hourly ingest eventually needs (the reference's hourly drops,
    * README.md:58-60, produce exactly this fragmentation): an
    * over-parallel write leaves 64 tiny files; compaction rewrites to
    * ceil(bytes / 128 MB) files. At 100 TB file count is a real query-time
    * cost (task scheduling + footer reads + row-group fragmentation), and
    * the byte-targeted repartition keeps output files at the size the
    * scanner wants. CompactionSpec pins the file-count reduction; the
    * oracle pins content preservation. */
  val sinkCompactSmallFiles: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("sink_compact_small_files")
    Tables(spark, sfDir, "events")
      .repartition(64).write.mode("overwrite").parquet(s"$dir/small")
    val small = spark.read.parquet(s"$dir/small")
    val totalBytes = Scratch.dataFiles(s"$dir/small").map(_.length).sum
    val target = math.max(1, math.ceil(totalBytes / (128.0 * 1024 * 1024)).toInt)
    small.repartition(target).write.mode("overwrite").parquet(s"$dir/compacted")
    spark.read.parquet(s"$dir/compacted")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("event_id")).as("n_ids"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_value"))
      .orderBy("event_type")
  }

  /** Warehouse load over JDBC — the write half of the reference's
    * Redshift flow (README.md:65-72: the pipeline's terminal step is
    * loading aggregates INTO the warehouse; scan_jdbc_export is the read
    * half). A BI summary is written to the embedded Derby warehouse via
    * Spark's JDBC sink (overwrite = drop + recreate, the staging-table
    * pattern) and read back through a fresh JDBC scan, so the values the
    * oracle checks actually round-tripped through the database. At scale
    * the same plan fans out over numPartitions writer connections. Falls
    * back to the in-memory aggregate if Derby can't boot. */
  val sinkJdbcLoad: QFn = (spark, sfDir) => {
    val agg = Tables(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("revenue"))
    derbyUrl(spark, sfDir) match {
      case Some(url) =>
        agg.write.mode("overwrite").format("jdbc")
          .option("url", url).option("dbtable", "SALES_SUMMARY").save()
        spark.read.format("jdbc")
          .option("url", url).option("dbtable", "SALES_SUMMARY").load()
          .select(col("O_ORDERSTATUS").as("o_orderstatus"),
            col("N_ORDERS").as("n_orders"), col("REVENUE").as("revenue"))
          .orderBy("o_orderstatus")
      case None => agg.orderBy("o_orderstatus")
    }
  }

  /** Corrupt-tolerant JSONL scan — the JSON twin of
    * scan_csv_invalid_chars (README.md:32-35's MAXERROR tolerance): a
    * lake drop mixes valid JSONL part-files with a file of malformed
    * lines; the PERMISSIVE read routes every unparseable line into
    * `_corrupt_record` instead of failing the job, and the result
    * reports good rows, quarantined rows, and the revenue over the good
    * subset. The corrupt-row COUNT is deterministic by construction (the
    * poison file is written by this op), so the DuckDB oracle can assert
    * it as a constant while replaying the good-subset aggregate from the
    * source table. Schema is explicit — inference over a corrupt lake
    * both costs a scan and can silently widen types from bad rows. At
    * 100 TB the same plan holds: per-file parallel parse, malformed
    * lines cost one string copy each, and the quarantine column feeds
    * the dead-letter audit instead of killing the load. */
  val scanJsonlCorrupt: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("scan_jsonl_corrupt")
    val good = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    good.write.mode("overwrite").json(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-corrupt.json"),
      Seq("{\"o_orderkey\": 1, \"o_orderstatus\"",
        "[1, 2",
        "not json at all",
        "{\"o_orderkey\": }",
        "}{").mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = StructType(good.schema.fields :+
      StructField("_corrupt_record", StringType))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .agg(
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("good_rows"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("corrupt_rows"),
        round(sum(when(col("_corrupt_record").isNull,
          col("o_totalprice").cast("decimal(18,4)"))).cast("double"), 2)
          .as("revenue"))
  }

  /** XML lake round-trip (Spark 4's built-in XML source — the remaining
    * text format after CSV/JSON/text): writes an orders projection as
    * row-tagged XML, reads it back under an EXPLICIT schema, and
    * aggregates — the result must equal the same aggregate over the
    * parquet source, proving type fidelity through the string format
    * (dates and doubles round-trip via their canonical text forms).
    * Scale notes: the writer emits one file per partition and the reader
    * parses row-tags per file split in parallel, but XML has NO predicate
    * pushdown or column pruning — the projection happens at WRITE time
    * (only the 4 needed columns are serialized), which is the honest
    * 100 TB shape for a format kept only for interchange: convert to
    * parquet at the lake boundary, never query XML in place (the same
    * argument the reference's CSV→parquet conversion makes,
    * README.md:49-56). Schema explicit on read: inference would re-scan
    * the files once just to guess types the writer already knew. */
  val sinkXmlRoundtrip: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("sink_xml_roundtrip")
    // o_orderdate ships as a midnight TIMESTAMP — cast to DATE at write
    // (the interchange type this column means) and pin dateFormat on
    // BOTH sides: left as timestamp the writer renders
    // 1998-10-03T00:00:00.000, which a DateType read rejects into null —
    // the classic string-format round-trip trap this op exists to pin
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("o_orderdate"))
      // round 22 (guide §2.6; BASELINE.md round 22, sink stage split):
      // the single-file parquet input yields ONE scan partition, so the
      // XML serialization — the op's dominant cost — ran as ONE task
      // (4 tasks, Σtask ≈ wall, zero parallelism). The writer's declared design is one file per
      // partition with parallel serialization; spread it like the other
      // sink funnels (WriteSpread) so the fixture actually exercises that
      // shape. Results are the read-back AGGREGATE — file count invisible.
      .repartition(WriteSpread.n)
      .write.mode("overwrite")
      .option("rowTag", "order").option("rootTag", "orders")
      .option("dateFormat", "yyyy-MM-dd")
      .format("xml").save(dir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", DateType)))
    spark.read.format("xml")
      .option("rowTag", "order").option("dateFormat", "yyyy-MM-dd")
      .schema(schema).load(dir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2)
          .as("revenue"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_date"))
      .orderBy("o_orderstatus")
  }

  /** JSON-lines sink round-trip — the export leg of the reference's S3
    * interchange (every downstream consumer that is NOT a SQL engine
    * reads JSONL, not parquet): write events with a NESTED struct, an
    * array column, and a pre-formatted timestamp string, read back with
    * a PINNED schema, and prove fidelity by source-replayed aggregate.
    * The traps this pins: (a) timestamps are written as formatted
    * strings — JSON has no timestamp type and an inferred read would
    * come back as a string anyway, so the plan makes the interchange
    * contract explicit instead of relying on session-zone parsing;
    * (b) the read uses an explicit schema — schema inference costs a
    * second full pass at 100 TB and can widen types on dirty data;
    * (c) doubles survive exactly (shortest-repr JSON serialization
    * parses back bit-identical). Writers are per-partition parallel;
    * at 100 TB the lake keeps parquet (the reference's own conversion)
    * and pays JSONL only at the consumer boundary. */
  val sinkJsonlRoundtrip: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("sink_jsonl_roundtrip")
    Tables(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"),
        struct(col("user_id"), col("value")).as("meta"),
        array(col("user_id"), col("event_id")).as("ids"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      // round 22 (guide §2.6; BASELINE.md round 22, sink stage split):
      // same one-task funnel as the XML sink — the single-file parquet
      // scan hands the JSON serializer ONE partition; spread so "writers are per-partition parallel"
      // (this op's own scale note) is what the fixture measures. The
      // result is the read-back aggregate; file count is invisible to it.
      .repartition(WriteSpread.n)
      .write.mode("overwrite").json(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("meta", StructType(Seq(
        StructField("user_id", LongType),
        StructField("value", DoubleType)))),
      StructField("ids", ArrayType(LongType)),
      StructField("ts_s", StringType)))
    spark.read.schema(schema).json(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_ids"),
        round(sum(col("meta.value").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_value"),
        sum(expr("aggregate(ids, 0L, (a, x) -> a + x)")).as("id_sum"),
        max(col("ts_s")).as("last_ts"))
      .orderBy("event_type")
  }

  // Once-per-corpus catalog registration for the persistence op below —
  // memoized exactly like the ANALYZE stats cache: the registering
  // "crawler" session runs once, every consumer session after it finds the
  // table in the shared catalog. EXTERNAL (LOCATION) over the read-only
  // driver parquet, so DROP/re-register never touches the data.
  private[graft] def catalogTag(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "catalogTag") {
      Tables.externalTable(spark, sfDir, "orders", "cat")
      Scratch.pathTag(sfDir)
    }

  /** Catalog persistence across sessions (VERDICT r10 missing #2 — the
    * Glue Data Catalog analog, reference README.md:10,78-83): the
    * reference's crawler registers inferred schemas ONCE in a persistent
    * catalog and every later Athena session queries them with no
    * re-registration. Spark's split is the same: temp views die with
    * their session, catalog tables live in the shared external catalog.
    * Here the registering session creates the external table once
    * (memoized above), then a SECOND SparkSession — a child session
    * ([[graft.util.ChildSession]], reused across calls): its
    * own SessionState, analyzer and EMPTY temp-view namespace, sharing
    * only the SparkContext and the external catalog, which is exactly
    * the boundary a persistent metastore spans — runs the consumer
    * aggregate by catalog name alone: no registerAll, no paths, no temp
    * views (CatalogSpec asserts the second session starts view-less).
    * Cross-JVM the same code runs against a Hive/Glue metastore; inside
    * the driver contract the session is handed to us already built, so
    * the in-JVM second session is the demonstrable spelling here. The
    * PROCESS boundary is proven separately (round 15):
    * tools/CatalogPersist registers the table in a Derby-backed Hive
    * metastore and a second forked JVM resolves it by name alone —
    * CatalogPersistSpec runs both as real child processes. */
  val scanCatalogSecondSession: QFn = (spark, sfDir) => {
    val tag = catalogTag(spark, sfDir)
    val s2 = graft.util.ChildSession(spark,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    s2.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |       round(cast(sum(cast(o_totalprice AS decimal(18,4))) AS double), 2) AS revenue,
         |       date_format(max(o_orderdate), 'yyyy-MM-dd') AS last_date
         |FROM cat_orders_$tag
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Multiline (quoted-newline) CSV round-trip — the CSV edge every real
    * extract with free-text columns hits (the reference's event/feedback
    * text, README.md:85-90): embedded newlines must be quoted on write
    * and parsed with multiLine=true on read, because the default
    * line-split reader shreds records mid-field. Every space in the text
    * becomes a newline (worst case: hundreds of line breaks per record),
    * then write → read-back → aggregate fidelity proof (record count, id
    * distinctness, char total — replace preserves length — and newline
    * total) replayed by the oracle from the SOURCE table, so a shredded
    * parse cannot hash-match. Scale note: multiLine parsing is per-file
    * sequential (a record may span split boundaries, so splits can't be
    * read independently) — at 100 TB keep text-bearing CSV files small
    * or land them as parquet at the first hop, which is exactly the
    * reference's conversion pipeline. */
  val scanCsvMultiline: QFn = (spark, sfDir) => {
    val dir = Scratch.dir("csv_multiline")
    Tables(spark, sfDir, "documents")
      // sanitize pre-existing control chars FIRST (length-preserving, the
      // scan_text_lines precaution): the oracle counts spaces in the
      // source, so an unsanitized literal newline in a regenerated
      // fixture would make the round-trip count newlines the oracle
      // doesn't (review r11) — after this, newlines == spaces exactly
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("text"), "[\\r\\n\\t]", " "),
          " ", "\n").as("mtext"))
      .write.mode("overwrite").option("header", true).csv(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("mtext", StringType)))
    spark.read.option("header", true).option("multiLine", true)
      .schema(schema).csv(dir)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_ids"),
        sum(length(col("mtext"))).cast("long").as("total_chars"),
        sum(size(split(col("mtext"), "\n")) - 1).cast("long")
          .as("total_newlines"))
  }

  val queries: Map[String, QFn] = Map(
    "scan_csv_multiline" -> scanCsvMultiline,
    "scan_catalog_second_session" -> scanCatalogSecondSession,
    "sink_xml_roundtrip" -> sinkXmlRoundtrip,
    "sink_jsonl_roundtrip" -> sinkJsonlRoundtrip,
    "scan_jsonl_corrupt" -> scanJsonlCorrupt,
    "sink_jdbc_load" -> sinkJdbcLoad,
    "sink_compact_small_files" -> sinkCompactSmallFiles,
    "scan_parquet_schema_evolution" -> scanParquetSchemaEvolution,
    "scan_csv_header_quoted" -> scanCsvHeaderQuoted,
    "scan_csv_invalid_chars" -> scanCsvInvalidChars,
    "scan_csv_infer_schema" -> scanCsvInferSchema,
    "scan_parquet" -> scanParquet,
    "scan_parquet_partitioned" -> scanParquetPartitioned,
    "scan_jdbc_export" -> scanJdbcExport,
    "scan_glob_dynamic" -> scanGlobDynamic,
    "scan_jsonl" -> scanJsonl,
    "scan_text_lines" -> scanTextLines,
    "scan_binaryfile" -> scanBinaryFile,
    "sink_csv" -> sinkCsv,
    "sink_csv_gzip_roundtrip" -> sinkCsvGzip,
    "sink_orc_roundtrip" -> sinkOrcRoundtrip,
    "sink_parquet_partitioned_compressed" -> sinkParquetPartitionedCompressed,
    "sink_table_positional" -> sinkTablePositional,
  )

  val oracleSql: Map[String, String] = Map(
    // fidelity replayed from the SOURCE table through the same
    // length-preserving sanitize (control chars → space), so newline
    // count == sanitized space count under ANY fixture content
    "scan_csv_multiline" ->
      ("WITH d AS (SELECT doc_id, " +
        "regexp_replace(text, '[\\r\\n\\t]', ' ', 'g') AS t FROM documents) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids, " +
        "CAST(sum(length(t)) AS BIGINT) AS total_chars, " +
        "CAST(sum(length(t) - length(replace(t, ' ', ''))) AS BIGINT) AS total_newlines " +
        "FROM d"),
    // the second session reads the same orders parquet through the
    // catalog, so the oracle replays the aggregate straight off the table
    "scan_catalog_second_session" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue, " +
        "strftime(max(o_orderdate), '%Y-%m-%d') AS last_date " +
        "FROM orders GROUP BY 1 ORDER BY 1"),
    // the 5 corrupt lines are written by the op itself — a constant the
    // oracle asserts while replaying the good-subset aggregate
    "scan_jsonl_corrupt" ->
      ("SELECT CAST(count(*) AS BIGINT) AS good_rows, " +
        "CAST(5 AS BIGINT) AS corrupt_rows, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue " +
        "FROM orders"),
    "sink_xml_roundtrip" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "count(DISTINCT o_orderkey) AS n_keys, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue, " +
        "strftime(max(o_orderdate), '%Y-%m-%d') AS last_date " +
        "FROM orders GROUP BY 1 ORDER BY 1"),
    // source-replayed aggregate (the xml/orc pattern): the struct field,
    // array elements, and formatted timestamp all re-derive from events
    "sink_jsonl_roundtrip" ->
      ("SELECT event_type, count(*) AS n_events, " +
        "count(DISTINCT event_id) AS n_ids, " +
        "ROUND(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value, " +
        "CAST(sum(user_id + event_id) AS BIGINT) AS id_sum, " +
        "max(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS last_ts " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    "sink_orc_roundtrip" ->
      ("SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n_orders, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue " +
        "FROM orders GROUP BY 1, 2 ORDER BY 1, 2"),
    "sink_jdbc_load" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "sink_compact_small_files" ->
      ("SELECT event_type, count(*) AS cnt, count(DISTINCT event_id) AS n_ids, " +
        "ROUND(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "scan_parquet_schema_evolution" ->
      ("SELECT o_orderkey, o_totalprice, " +
        "CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN '?' " +
        "ELSE o_orderstatus END AS o_orderstatus " +
        "FROM orders ORDER BY o_orderkey"),
    "scan_csv_header_quoted" ->
      "SELECT * FROM customer ORDER BY c_custkey",
    // Same sanitizing regexp on the oracle side (not a hardcoded '??'
    // suffix) so non-ASCII source text can't silently diverge the two.
    "scan_csv_invalid_chars" ->
      ("SELECT n_nationkey, regexp_replace(n_name || 'é中', '[^\\x20-\\x7E]', '?', 'g') AS n_name, n_regionkey " +
        "FROM nation ORDER BY n_nationkey"),
    "scan_csv_infer_schema" ->
      "SELECT * FROM region ORDER BY r_regionkey",
    "scan_parquet" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem ORDER BY 1, 2, 3, 4",
    "scan_parquet_partitioned" ->
      "SELECT CAST(year(o_orderdate) AS INT) AS o_year, CAST(month(o_orderdate) AS INT) AS o_month, count(*) AS cnt FROM orders GROUP BY 1, 2 ORDER BY 1, 2",
    // WHERE mirrors the predicate the Spark side pushes into the database
    "scan_jdbc_export" ->
      ("SELECT o_orderkey, c_name, c_mktsegment, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE o_totalprice >= 0 ORDER BY o_orderkey"),
    "scan_glob_dynamic" ->
      "SELECT event_type AS src_type, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1",
    "scan_jsonl" ->
      "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id",
    // Same sanitize regexp as the write side; length() is chars on both.
    "scan_text_lines" ->
      ("SELECT doc_id, regexp_replace(text, '[\\t\\n\\r]', ' ', 'g') AS text_clean, " +
        "length(regexp_replace(text, '[\\t\\n\\r]', ' ', 'g')) AS n_chars_clean " +
        "FROM documents ORDER BY doc_id"),
    // strlen = utf8 byte length in DuckDB (Spark side: octet bytes of the
    // written file = line bytes + 1 per trailing newline).
    "scan_binaryfile" ->
      ("SELECT CAST(doc_id % 8 AS INT) AS shard, " +
        "CAST(SUM(strlen(regexp_replace(text, '[\\t\\n\\r]', ' ', 'g')) + 1) AS BIGINT) AS total_bytes, " +
        "CAST(SUM(strlen(regexp_replace(text, '[\\t\\n\\r]', ' ', 'g')) + 1) AS BIGINT) AS fetched_bytes " +
        "FROM documents GROUP BY 1 ORDER BY 1"),
    "sink_csv_gzip_roundtrip" ->
      "SELECT o_orderpriority, ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price, count(*) AS cnt FROM orders GROUP BY 1 ORDER BY 1",
    "sink_csv" ->
      "SELECT l_returnflag, ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price, count(*) AS cnt FROM lineitem GROUP BY 1 ORDER BY 1",
    "sink_parquet_partitioned_compressed" ->
      "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year, CAST(month(o_orderdate) AS INT) AS o_month FROM orders ORDER BY o_orderkey",
    "sink_table_positional" ->
      "SELECT * FROM customer ORDER BY c_custkey",
  )
}
