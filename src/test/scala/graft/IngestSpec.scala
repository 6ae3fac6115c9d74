package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CSV ingest robustness — the reference tolerates malformed/special-char
  * input on load (acceptinvchars, README.md:32-35): PERMISSIVE mode must
  * absorb corrupt rows as nulls without failing the scan, and the
  * sanitizer must leave printable ASCII untouched. */
class IngestSpec extends AnyFunSuite {
  import SparkFixture.spark

  test("PERMISSIVE csv scan absorbs malformed rows; FAILFAST rejects them") {
    val dir = graft.util.Scratch.dir("ingest_spec_malformed")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "data.csv"),
      """id,name,score
        |1,alice,3.5
        |2,bob,not_a_number
        |3,"carol,with,commas",7.25
        |4,dave
        |""".stripMargin)
    val schema = "id INT, name STRING, score DOUBLE"
    val permissive = spark.read.schema(schema)
      .option("header", true).option("mode", "PERMISSIVE").csv(dir)
    val rows = permissive.orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows(1).isNullAt(2), "bad double becomes null, row kept")
    assert(rows(2).getString(1) == "carol,with,commas", "quoted commas preserved")
    assert(rows(3).isNullAt(2), "short row padded with null")

    val failfast = spark.read.schema(schema)
      .option("header", true).option("mode", "FAILFAST").csv(dir)
    assertThrows[org.apache.spark.SparkException](failfast.collect())
  }

  test("each (session, sfDir) pair gets its own Derby database") {
    // Seeding a second scale factor must not re-seed (and thereby clobber)
    // the first one's database: the cache key includes sfDir, so the
    // database path must too.
    val u1 = graft.etl.Ingest.derbyUrl(spark, "/root/testdata/sf0.001")
    val u2 = graft.etl.Ingest.derbyUrl(spark, "/root/testdata/sf0.01")
    assume(u1.isDefined && u2.isDefined, "embedded Derby unavailable")
    assert(u1.get != u2.get, "distinct sfDirs must map to distinct databases")
    def ordersCount(url: String): Long = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "ORDERS").load().count()
    // read the FIRST database after the second was seeded
    assert(ordersCount(u1.get) == 1500L, "sf0.001 rows served from sf0.001 db")
    assert(ordersCount(u2.get) == 15000L)
  }

  test("text-lines round-trip preserves every doc and its char count") {
    val got = graft.etl.Ingest.scanTextLines(spark, "/root/testdata/sf0.001")
      .collect()
    assert(got.length == 500)
    assert(got.map(_.getLong(0)).toSeq == got.map(_.getLong(0)).toSeq.sorted)
    // sanitizer leaves no framing chars behind
    assert(got.forall(r => !r.getString(1).exists(c => c == '\t' || c == '\n')))
    assert(got.forall(r => r.getInt(2) == r.getString(1).length))
  }

  test("binaryFile ingest: filesystem length equals fetched content bytes") {
    val got = graft.etl.Ingest.scanBinaryFile(spark, "/root/testdata/sf0.001")
      .collect()
    assert(got.length == 8, "one row per shard")
    // both byte accountings come from the same files, independently:
    // the source's length column (listing) vs length(content) (fetch)
    assert(got.forall(r => r.getLong(1) == r.getLong(2)))
    assert(got.map(_.getLong(1)).sum > 0)
  }

  test("invalid-char sanitizer replaces exactly the non-printable-ASCII chars") {
    import spark.implicits._
    val df = Seq("plain ascii 123!", "café 中文", "tab\there").toDF("s")
      .select(regexp_replace(col("s"), "[^\\x20-\\x7E]", "?").as("clean"))
    val got = df.collect().map(_.getString(0))
    assert(got(0) == "plain ascii 123!")
    assert(got(1) == "caf? ??")
    assert(got(2) == "tab?here")
  }

  test("scan_glob_dynamic reads every bucket file and logs no FileNotFoundException") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("ingest-spec-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val thrown = Iterator.iterate(e.getThrown)(_.getCause).takeWhile(_ != null)
        logged.add((e.getMessage.getFormattedMessage +: thrown.map(_.toString).toSeq)
          .mkString(" | "))
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    val got = try graft.etl.Ingest.scanGlobDynamic(spark, SparkFixture.sfDir).collect()
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    val fnf = logged.asScala.filter(_.contains("FileNotFoundException"))
    assert(fnf.isEmpty, "logged:\n" + fnf.mkString("\n"))
    val want = graft.tables.Tables(spark, SparkFixture.sfDir, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.map(r => r.getString(0) -> r.getLong(1)).toMap == want)
  }

  test("partitioned compressed sink: one file per partition dir, several writer tasks") {
    graft.etl.Ingest.sinkParquetPartitionedCompressed(spark, SparkFixture.sfDir).count()
    val root = java.nio.file.Paths.get(graft.util.Scratch.rootDir,
      "sink_parquet_partitioned_compressed")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toList
    finally walk.close()
    val perDir = files.groupBy(_.getParent)
    assert(perDir.size > 1 && perDir.values.forall(_.size == 1),
      s"expected one file in each of several partition dirs: ${perDir.map {
        case (d, fs) => s"${root.relativize(d)}: ${fs.size}" }.mkString(", ")}")
    // a part file's name carries the index of the task that wrote it
    val Part = """part-(\d+)-.*""".r
    val writers = files.map(_.getFileName.toString).collect { case Part(i) => i }.toSet
    assert(writers.size > 1, s"all ${files.size} files came from writer task(s) $writers")
  }
}
