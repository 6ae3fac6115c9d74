package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded-permutation corpus replication — the linear-growth model every
  * scale check runs on (extracted from ScaleCheck round 18; ScaleCheck
  * is its only caller): replica r > 0 gets
  * doc_id + r·10⁷ and a per-replica seeded alphabet permutation
  * (translate), so cross-replica texts share no shingles — the corpus
  * grows like fresh content, not like naive duplication (which would
  * plant quadratic near-dup structure regardless of algorithm). */
object Replicas {
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Per-replica alphabet permutation, seeded by r. A plain rotation
    * repeats every 26 replicas (r and r+26 would carry IDENTICAL texts,
    * planting n·(scale/26) exact dups); 26! seeded shuffles keep every
    * replica's text disjoint. */
  def perm(r: Int): String =
    if (r == 0) Alpha
    else new scala.util.Random(1000 + r).shuffle(Alpha.toList).mkString

  /** ×scale documents corpus written once to scratch; returns its dir
    * (the base dir unchanged at scale 1). */
  def docsDir(spark: SparkSession, base: String, scale: Int, tag: String): String =
    if (scale == 1) base
    else {
      val d = Scratch.dir(s"scale_${tag}_x$scale")
      val docs = spark.read.parquet(s"$base/documents.parquet")
      replicate(docs, scale, "doc_id")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }

  /** The replication transform itself, for callers that stage their own
    * writes: shift `idCol` by r·stride and translate the text alphabet.
    * The stride is DERIVED from the base corpus (smallest power of ten
    * above its max id, floored at 10⁷ so every recorded curve keeps its
    * historical id layout) — a fixed 10⁷ silently ALIASES ids across
    * replicas on a >10M-doc base, planting phantom exact dups that would
    * corrupt a scale curve while looking like algorithm behavior
    * (ADVICE r18). One max() job per call; scale-check-only code. An
    * EMPTY base yields a null max (ADVICE r19 — .getLong on it is an
    * NPE): fall back to the 10⁷ floor stride, replicating emptiness
    * harmlessly instead of crashing the scale check. */
  def replicate(docs: DataFrame, scale: Int, idCol: String): DataFrame = {
    val maxRow = docs.agg(max(col(idCol).cast("long"))).head
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    var stride = 10000000L
    while (stride <= maxId) stride *= 10
    (0 until scale).map { r =>
      docs.withColumn(idCol, col(idCol) + lit(r * stride))
        .withColumn("text", translate(col("text"), Alpha, perm(r)))
    }.reduce(_ unionByName _)
  }
}
