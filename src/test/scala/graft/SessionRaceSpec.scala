package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Session-resident state is built once per key, even when threads and the
  * sessions of one SparkContext race on it. The gram-table builder wipes
  * its scratch dir and rewrites a catalog table, so a second concurrent
  * build of the same key clobbers the first one's files mid-write. */
class SessionRaceSpec extends AnyFunSuite {
  import SparkFixture.spark

  test("four threads on two sessions run one gram-table build for a fresh corpus key") {
    // a corpus dir no other test has keyed: symlinks to the sf0.001 files
    val fresh = graft.util.Scratch.dir(s"memo_race_${System.nanoTime()}")
    new java.io.File(SparkFixture.sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.createSymbolicLink(Paths.get(fresh, f.getName), f.toPath))
    val tbl = s"grams_bkt_${graft.util.Scratch.pathTag(fresh)}"
    val other = spark.newSession()
    val sessions = Seq(spark, other, spark, other)

    // every saveAsTable of the table, on either session, failed or not
    val saves = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        // one saveAsTable fires the outer SaveAsV1TableCommand plus its
        // nested CTAS and insert commands; count the outer one
        if (qe.logical.nodeName == "SaveAsV1TableCommand" && qe.logical.toString.contains(tbl))
          saves.add(qe.logical.toString.linesIterator.next())
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    }
    Seq(spark, other).foreach(_.listenerManager.register(listener))
    val pool = Executors.newFixedThreadPool(sessions.size)
    try {
      val start = new CountDownLatch(1)
      val futures = sessions.map { s =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            start.await()
            graft.llm.DedupOps.gramTable(s, fresh)
          }
        })
      }
      start.countDown()
      val names = futures.map(f =>
        try Right(f.get(300, TimeUnit.SECONDS))
        catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) })
      // listener events arrive on the bus asynchronously: wait for the
      // first, then give any late duplicate time to land
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (saves.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      Thread.sleep(2000)
      val failed = names.collect { case Left(e) => e }
      assert(failed.isEmpty, s"builds failed: ${failed.map(_.toString).mkString("; ")}")
      assert(names.collect { case Right(n) => n }.toSet == Set(tbl))
      assert(saves.size == 1,
        s"expected one gram-table build, saw ${saves.size}: ${saves.asScala.mkString(", ")}")
      assert(spark.table(tbl).count() > 0)
    } finally {
      pool.shutdownNow()
      Seq(spark, other).foreach(_.listenerManager.unregister(listener))
    }
  }
}
