package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.util.SessionMemo

class SessionMemoSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  test("a build that throws caches nothing; the next call builds again") {
    val memo = new SessionMemo
    val runs = new AtomicInteger()
    intercept[IllegalStateException] {
      memo(spark, sfDir, "x") { runs.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(memo.peek[Int](spark, sfDir, "x").isEmpty)
    assert(memo(spark, sfDir, "x") { runs.incrementAndGet(); 7 } == 7)
    assert(runs.get == 2)
    assert(memo(spark, sfDir, "x") { runs.incrementAndGet(); 8 } == 7)
    assert(runs.get == 2)
  }

  test("a build may nest a build on another key of the same memo") {
    val memo = new SessionMemo
    val outer = memo(spark, sfDir, "outer") {
      memo(spark, sfDir, "inner")("in") + "+out"
    }
    assert(outer == "in+out")
    assert(memo.peek[String](spark, sfDir, "inner").contains("in"))
    assert(memo.peek[String](spark, sfDir, "outer").contains("in+out"))
  }

  test("a failing hit check rebuilds once, a passing one hits") {
    val memo = new SessionMemo
    val runs = new AtomicInteger()
    def get(valid: Int => Boolean): Int =
      memo.validated(spark, sfDir, "v")(valid)(runs.incrementAndGet())
    assert(get(_ => true) == 1)
    assert(get(_ => true) == 1)
    assert(get(_ => false) == 2)
    assert(runs.get == 2)
    assert(get(_ => true) == 2)
  }

  test("concurrent callers of one key run its build once") {
    val memo = new SessionMemo
    val runs = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = {
            start.await()
            memo(spark, sfDir, "slow") { Thread.sleep(200); runs.incrementAndGet() }
          }
        })
      }
      start.countDown()
      assert(futures.map(_.get(30, TimeUnit.SECONDS)).toSet == Set(1))
      assert(runs.get == 1)
    } finally pool.shutdownNow()
  }

  test("releasePersists forgets frames and unpersists them; names and counts stay") {
    val memo = new SessionMemo
    val df = memo(spark, sfDir, "frame")(memo.persist(spark.range(10).toDF("id")))
    assert(df.count() == 10 && df.storageLevel.useMemory)
    memo(spark, sfDir, "name")("tbl")
    memo(spark, sfDir, "count")(10L)
    memo.releasePersists()
    assert(!df.storageLevel.isValid)
    assert(memo.peek[AnyRef](spark, sfDir, "frame").isEmpty)
    assert(memo.peek[String](spark, sfDir, "name").contains("tbl"))
    assert(memo.peek[Long](spark, sfDir, "count").contains(10L))
    memo.clear()
    assert(memo.peek[String](spark, sfDir, "name").isEmpty)
    assert(memo.peek[Long](spark, sfDir, "count").isEmpty)
  }

  test("entries are keyed per corpus dir and shared by the sessions of one context") {
    val memo = new SessionMemo
    memo(spark, sfDir, "k")("a")
    assert(memo(spark.newSession(), sfDir, "k")("b") == "a")
    assert(memo(spark, sfDir + "_other", "k")("c") == "c")
  }
}
