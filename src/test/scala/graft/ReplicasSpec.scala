package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Tables
import graft.util.Replicas

/** The replica corpora every scale curve runs on: ×scale rows, ids
  * disjoint across replicas, embeddings rotated without changing norms. */
class ReplicasSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private val scale = 3

  private def rows(dir: String, table: String): Long = Tables(spark, dir, table).count()

  private def distinct(dir: String, table: String, id: String): Long =
    Tables(spark, dir, table).select(id).distinct().count()

  test("documents: scale x base rows, doc_ids disjoint across replicas") {
    val dir = Replicas.docsDir(spark, sfDir, scale, "replicas_spec_docs")
    assert(rows(dir, "documents") == scale * rows(sfDir, "documents"))
    assert(distinct(dir, "documents", "doc_id") == rows(dir, "documents"))
    assert(Replicas.docsDir(spark, sfDir, 1, "replicas_spec_docs") == sfDir)
  }

  test("shifted facts: scale x base rows, shifted ids disjoint, ts round-trips") {
    val dir = Replicas.shiftedDir(spark, sfDir, scale, "replicas_spec_facts", Seq(
      "events" -> Seq("event_id" -> 10000000L, "user_id" -> 1000000L),
      "orders" -> Seq("o_orderkey" -> 10000000L)))
    for ((table, id) <- Seq("events" -> "event_id", "orders" -> "o_orderkey")) {
      assert(rows(dir, table) == scale * rows(sfDir, table), table)
      assert(distinct(dir, table, id) == rows(dir, table), s"$table.$id")
    }
    // replica 0 is the base table itself, timestamps included
    val replica0 = Tables(spark, dir, "events").filter(col("event_id") < 10000000L)
      .select("event_id", "user_id", "ts")
    val baseEvents = Tables(spark, sfDir, "events").select("event_id", "user_id", "ts")
    assert(replica0.exceptAll(baseEvents).isEmpty && baseEvents.exceptAll(replica0).isEmpty)
  }

  test("embeddings: scale x base rows, vec_ids disjoint, rotation keeps each norm") {
    val dir = Replicas.embDir(spark, sfDir, scale, "replicas_spec_emb")
    assert(rows(dir, "embeddings") == scale * rows(sfDir, "embeddings"))
    assert(distinct(dir, "embeddings", "vec_id") == rows(dir, "embeddings"))
    val norm = expr("sqrt(aggregate(embedding, 0D, (a, x) -> a + cast(x as double) * x))")
    val base = Tables(spark, sfDir, "embeddings").select(col("vec_id").as("src"), norm.as("n0"))
    val worst = Tables(spark, dir, "embeddings")
      .select(pmod(col("vec_id"), lit(10000000L)).as("src"), norm.as("n"))
      .join(base, "src")
      .agg(count(lit(1)), max(abs(col("n") - col("n0")) / greatest(col("n0"), lit(1e-12))))
      .head
    assert(worst.getLong(0) == rows(dir, "embeddings"))
    assert(worst.getDouble(1) < 1e-9, s"relative norm change ${worst.getDouble(1)}")
  }

  test("planted corpus: rotated replicas plus 25 plants at the given id base") {
    val dir = Replicas.plantedEmb(spark, sfDir, scale, "replicas_spec_planted", 90000000L)
    val ids = Tables(spark, dir, "embeddings").select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == scale * rows(sfDir, "embeddings") + 25)
    assert(ids.distinct.length == ids.length)
    assert(ids.filter(_ >= 90000000L).sorted.toSeq == (0L until 25L).map(_ + 90000000L))
  }
}
