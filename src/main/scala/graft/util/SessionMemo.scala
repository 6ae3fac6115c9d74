package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session-resident state of one module — every index, model, stats
  * tag and staged fixture it builds once per (session, corpus) and reuses
  * across queries. Each owning module holds one instance.
  *
  * Key: `applicationId|sfDir|name`. The applicationId is unique per
  * SparkContext lifetime, so the sessions of one context share an entry,
  * and a stopped context's DataFrames are never handed to a new one (an
  * identity hash could be reused after GC).
  *
  * Build-once: every key owns a cell whose lock is held while its build
  * runs, so a build runs at most once per key even when threads or
  * sessions of one context race on it. That matters because builders
  * delete scratch dirs and drop catalog tables: a second concurrent build
  * would wipe the first one's output. A build that throws caches nothing
  * and the next call retries. Builds may nest on OTHER keys (gramSetTable
  * reads gramTable, SimilarityOps.ivfIndex reads DedupOps.embIndex) —
  * which is why the build does not run inside
  * `ConcurrentHashMap.computeIfAbsent`, whose nested inserts throw
  * "Recursive update". */
final class SessionMemo {
  private final class Cell { @volatile var value: Option[Any] = None }

  private val cells = new ConcurrentHashMap[String, Cell]()
  private val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** The entry `name` of this session's context and corpus, built by
    * `build` on first use. */
  def apply[T](spark: SparkSession, sfDir: String, name: String)(build: => T): T =
    once(key(spark, sfDir, name))(build)

  /** [[apply]] with a hit check that runs under the key's lock: a cached
    * value failing `valid` is rebuilt (a staged dir that a scratch wipe
    * removed mid-session). */
  def validated[T](spark: SparkSession, sfDir: String, name: String)(
      valid: T => Boolean)(build: => T): T =
    get(key(spark, sfDir, name), valid, build)

  /** Build-once under a caller-chosen key, for state that does not depend
    * on the session (Tables' parquet schemas). */
  def once[T](key: String)(build: => T): T = get(key, (_: T) => true, build)

  /** The entry if it is already built — never builds, never waits. */
  def peek[T](spark: SparkSession, sfDir: String, name: String): Option[T] =
    Option(cells.get(key(spark, sfDir, name))).flatMap(_.value).map(_.asInstanceOf[T])

  /** Persist `df` (MEMORY_AND_DISK) and track it, so [[clear]] and
    * [[releasePersists]] can release it — including frames that are not
    * themselves entries (SimilarityOps.ivfIndex's assignments, held in a
    * tuple). */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted.synchronized { persisted += p }
    p
  }

  /** Unpersist every tracked frame and forget every entry. Safe between
    * corpora; the next call rebuilds lazily. */
  def clear(): Unit = {
    cells.clear()
    unpersistAll()
  }

  /** Unpersist every tracked frame and forget only the DataFrame-valued
    * entries; stored-table names, counts and models stay. */
  def releasePersists(): Unit = {
    cells.values.removeIf(_.value.exists(_.isInstanceOf[Dataset[_]]))
    unpersistAll()
  }

  private def unpersistAll(): Unit = persisted.synchronized {
    persisted.foreach(df => try df.unpersist() catch { case _: Throwable => () })
    persisted.clear()
  }

  private def key(spark: SparkSession, sfDir: String, name: String): String =
    spark.sparkContext.applicationId + "|" + sfDir + "|" + name

  private def get[T](key: String, valid: T => Boolean, build: => T): T = {
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    cell.synchronized {
      cell.value.map(_.asInstanceOf[T]).filter(valid).getOrElse {
        SessionMemo.built.incrementAndGet()
        val v = build
        cell.value = Some(v)
        v
      }
    }
  }
}

object SessionMemo {
  private val built = new java.util.concurrent.atomic.AtomicLong()

  /** Builds run so far by every memo of this JVM, a build that throws
    * included. A call that hits leaves it unchanged, so a spec can check
    * that a warmed operator builds nothing inside its timed row. */
  def builds: Long = built.get
}
