package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Upsert

/** SURVEY.md §5.2.3 — upsert algebra (the reference's signature operator,
  * README.md:65-72,149-154): no duplicate keys, non-matching rows preserved,
  * staging wins, and sequential upserts equal a last-write-wins replay.
  * Property-style over seeded random batches (the scalatest/scalacheck
  * bridge artifact isn't in the offline cache, so generation is hand-rolled). */
class UpsertSpec extends AnyFunSuite {
  import SparkFixture.spark

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  private def df(rows: Seq[(Long, Long)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), schema)

  /** Random batch with unique keys (staging arrives pre-deduped, as in the
    * reference where each hourly extract has unique order ids). */
  private def batch(rnd: scala.util.Random): Seq[(Long, Long)] =
    Seq.fill(rnd.nextInt(15))((rnd.nextLong(20), rnd.nextLong(1000)))
      .groupBy(_._1).map(_._2.head).toSeq

  test("upsert: staging wins, others preserved, no dup keys (10 seeds)") {
    for (seed <- 0 until 10) {
      val rnd = new scala.util.Random(seed)
      val cur = batch(rnd); val stg = batch(rnd)
      val result = Upsert.upsert(df(cur), df(stg), "k")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val expected = (cur.toMap ++ stg.toMap).toSeq
      assert(result.sorted == expected.sorted, s"seed=$seed")
      assert(result.map(_._1).distinct.size == result.size, s"seed=$seed dup keys")
    }
  }

  test("sequential upserts == last-write-wins replay (5 seeds)") {
    for (seed <- 100 until 105) {
      val rnd = new scala.util.Random(seed)
      val Seq(b0, b1, b2) = Seq.fill(3)(batch(rnd))
      val merged = Upsert.upsert(Upsert.upsert(df(b0), df(b1), "k"), df(b2), "k")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val replay = (b0.toMap ++ b1.toMap ++ b2.toMap).toSeq
      assert(merged.sorted == replay.sorted, s"seed=$seed")
    }
  }

  test("dedupLatest: idempotent, newest wins") {
    val d = df(Seq((1L, 10L), (1L, 30L), (1L, 20L), (2L, 5L)))
    val once = Upsert.dedupLatest(d, "k", Seq(col("v").desc))
    val twice = Upsert.dedupLatest(once, "k", Seq(col("v").desc))
    val got = once.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(got == Set(1L -> 30L, 2L -> 5L))
    assert(twice.collect().toSet == once.collect().toSet)
  }

  test("partition-overwrite upsert overwrites only touched partitions; session conf stays static") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val got = Upsert.upsertPartitionOverwrite(spark, SparkFixture.sfDir)
        .collect().toSeq
      // every order survives; those from 2001 on carry the doubled price
      val orders = graft.tables.Tables(spark, SparkFixture.sfDir, "orders")
      val expected = orders.select(col("o_orderkey"),
          when(col("o_orderdate") >= lit("2001-01-01"), col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus"))
        .orderBy("o_orderkey").collect().toSeq
      assert(got == expected)
      assert(spark.conf.get(key) == "static")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("upsert on testdata preserves row count (orders)") {
    val orders = graft.tables.Tables(spark, SparkFixture.sfDir, "orders")
    val stg = orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", lit(0.0))
    val res = Upsert.upsert(orders, stg, "o_orderkey")
    assert(res.count() == orders.count())
    assert(res.filter(col("o_totalprice") === 0.0).count() == stg.count())
  }
}
