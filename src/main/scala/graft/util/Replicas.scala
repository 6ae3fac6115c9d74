package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** The one writer of replica corpora — the linear-growth model every
  * scale check (graft.ScaleCheck, AnnScaleSpec) runs on. Replica r of a
  * corpus is new content, never a copy: documents get doc_id + r·stride
  * and a per-replica seeded alphabet permutation (translate), so
  * cross-replica texts share no shingles; embeddings get vec_id + r·10⁷
  * and a rotation by r % 64 dimensions; fact tables shift their keys by
  * per-column strides. The corpus grows like fresh content, not like
  * naive duplication (which would plant quadratic near-dup structure
  * regardless of algorithm). */
object Replicas {
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Per-replica alphabet permutation, seeded by r. A plain rotation
    * repeats every 26 replicas (r and r+26 would carry IDENTICAL texts,
    * planting n·(scale/26) exact dups); 26! seeded shuffles keep every
    * replica's text disjoint. */
  def perm(r: Int): String =
    if (r == 0) Alpha
    else new scala.util.Random(1000 + r).shuffle(Alpha.toList).mkString

  /** Replicas 0 until scale of one frame, unioned by name. */
  private def union(scale: Int)(replica: Int => DataFrame): DataFrame =
    (0 until scale).map(replica).reduce(_ unionByName _)

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
    union(scale) { r =>
      docs.withColumn(idCol, col(idCol) + lit(r * stride))
        .withColumn("text", translate(col("text"), Alpha, perm(r)))
    }
  }

  /** ×scale embeddings: replica r gets vec_id + r·10⁷ and is rotated by
    * r % 64 dimensions — norm-preserving but direction-new, so replicas
    * add new points (as a growing corpus does), not duplicate ones. */
  private def rotated(emb: DataFrame, scale: Int): DataFrame =
    union(scale) { r =>
      val rot = r % 64
      emb.withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
        .withColumn("embedding",
          expr(s"concat(slice(embedding, $rot + 1, 64 - $rot), " +
            s"slice(embedding, 1, $rot))"))
    }

  /** ×scale embeddings corpus (rotated replicas) written once to scratch;
    * returns its dir (the base dir unchanged at scale 1). */
  def embDir(spark: SparkSession, base: String, scale: Int, tag: String): String =
    if (scale == 1) base
    else {
      val d = Scratch.dir(s"scale_${tag}_x$scale")
      rotated(spark.read.parquet(s"$base/embeddings.parquet"), scale)
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }

  /** The ANN recall corpus, written to scratch dir `name`: ×scale rotated
    * replicas plus 25 planted near-neighbors of the vec_id-0 query with
    * ids idBase + 0..24 (label 9). Each plant perturbs every dimension
    * relatively, x·(1 + 0.4·u) with u a deterministic uniform(-0.5, 0.5)
    * from xxhash64(plant id, dim) — cosine to the query ≈ 1 - 0.4²/24 ≈
    * 0.993, far above the ~0.4 background — so the exact top-20 are the
    * plants. idBase must lie above every replica id (r·10⁷ + base ids). */
  def plantedEmb(spark: SparkSession, base: String, scale: Int, name: String,
      idBase: Long): String = {
    val d = Scratch.dir(name)
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val planted = emb.filter(col("vec_id") === 0)
      .crossJoin(spark.range(25).select(col("id").as("pid")))
      .select((lit(idBase) + col("pid")).as("vec_id"),
        expr("transform(embedding, (x, d) -> cast(x * (1.0 + 0.4 * " +
          "(pmod(xxhash64(pid, d), 1000) / 1000.0 - 0.5)) as float))")
          .as("embedding"),
        lit(9).as("label"))
    rotated(emb, scale).unionByName(planted)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  /** ×scale copies of base tables written to scratch dir `name`; returns
    * the dir. `tables` lists each table with its (column, stride) shifts:
    * replica r adds r·stride to every listed column, so shifted keys stay
    * disjoint across replicas while unshifted keys keep their joins.
    * events' ts is written back as long nanos, so Tables' ns-rewrite
    * applies on re-read. */
  def shiftedDir(spark: SparkSession, base: String, scale: Int, name: String,
      tables: Seq[(String, Seq[(String, Long)])]): String = {
    val d = Scratch.dir(name)
    tables.foreach { case (t, shifts) =>
      val src = Tables(spark, base, t)
      val out = union(scale) { r =>
        shifts.foldLeft(src) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(r * stride))
        }
      }
      (if (t == "events") out.withColumn("ts", expr("unix_micros(ts) * 1000")) else out)
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    d
  }
}
