package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** Stream fixture staging runs on a thread pool; a failing staging must not
  * let `StreamOps.runStagings` return while another staging is still
  * writing (and holding its fixture key's lock). */
class StageFixturesSpec extends AnyFunSuite {
  import SparkFixture.spark

  test("a failed staging surfaces only after every other staging has finished") {
    spark.sparkContext // start the session before timing the caller
    val release = new CountDownLatch(1)
    val slowDone = new AtomicBoolean(false)
    val stagings: Seq[(String, () => String)] = Seq(
      "fails" -> (() => throw new IllegalStateException("staging broke")),
      "slow" -> (() => { release.await(); slowDone.set(true); "slow_dir" }))
    @volatile var error: Throwable = null
    @volatile var slowDoneAtThrow = false
    val caller = new Thread(() =>
      try graft.streaming.StreamOps.runStagings(spark, stagings)
      catch { case e: Throwable => slowDoneAtThrow = slowDone.get; error = e })
    caller.start()
    try {
      caller.join(1000)
      assert(caller.isAlive,
        s"runStagings returned while a staging was still running: $error")
    } finally release.countDown() // never leave the pool thread parked
    caller.join(TimeUnit.SECONDS.toMillis(30))
    assert(!caller.isAlive)
    assert(error != null && error.getMessage == "stream fixture 'fails' failed",
      s"expected the failing staging by name, got $error")
    assert(error.getCause.getMessage == "staging broke")
    assert(slowDoneAtThrow, "the failure surfaced before the slow staging finished")
  }
}
