package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NgramHashes, WinnowFps}
import graft.llm.Warmup
import graft.util.{Scratch, SessionMemo}

/** Bench's untimed warmup must build everything an operator reads, so the
  * operator's timed row builds nothing. Each case reads a fresh corpus path
  * (a symlink to the sf0.001 tier) so no other suite has built its memo
  * keys. */
class WarmupSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private def freshCorpus(name: String): String = {
    val link = Paths.get(Scratch.dir(s"warmup_corpus_$name"), "sf")
    Files.createSymbolicLink(link, Paths.get(sfDir).toAbsolutePath)
    link.toString
  }

  for (op <- Seq("sink_jdbc_load", "scan_jdbc_export", "agg_sales_by_category_star",
      "agg_histogram_approx", "agg_median_mad_approx", "llm_dedup_containment_indexed",
      "llm_decontaminate", "llm_decontaminate_bloom", "llm_dedup_passage", "llm_dedup_span",
      "llm_dedup_containment", "llm_gram_index_append"))
    test(s"warmup for $op builds everything $op reads") {
      val corpus = freshCorpus(op)
      val steps = Warmup.run(spark, corpus, Set(op))
      assert(steps.forall(_._2 >= 0), s"a warmup step failed: $steps")
      val before = SessionMemo.builds
      SparkEntry.queries(op)(spark, corpus).count()
      assert(SessionMemo.builds == before,
        s"$op built ${SessionMemo.builds - before} memo entries after warmup steps $steps")
    }

  /** The operators of the two rare-key families: the 13-gram ops and the
    * winnow-fingerprint ops. */
  private val rareKeyOps = Seq("llm_decontaminate", "llm_decontaminate_indexed",
    "llm_decontaminate_bloom", "llm_dedup_passage", "llm_gram_index_build",
    "llm_gram_index_append", "llm_dedup_containment", "llm_dedup_containment_indexed",
    "llm_dedup_span", "llm_dedup_span_indexed", "llm_span_index_build")

  private def gramPass(e: Expression): Boolean = e match {
    case NgramHashes(_, Literal(13, _)) => true
    case _ => false
  }
  private def winnowPass(e: Expression): Boolean = e.isInstanceOf[WinnowFps]

  /** Whether executing `plan` evaluates an expression `hit` accepts. A
    * cached frame's plan counts once, on the first scan of it in `seen`
    * (the scan that fills the cache); later scans read the cached rows. */
  private def evaluates(plan: SparkPlan, hit: Expression => Boolean,
      seen: java.util.Set[AnyRef]): Boolean = {
    val below = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cacheBuilder)) Seq(m.relation.cachedPlan) else Nil
      case p => p.children ++ p.subqueries
    }
    val inBelow = below.map(evaluates(_, hit, seen)).contains(true)
    inBelow || plan.expressions.exists(_.find(hit).isDefined)
  }

  /** The plans executed on `spark` while `body` runs, one per reported
    * execution (a saveAsTable reports its nested insert on its own). */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val sentinel = s"plans_drained_${System.nanoTime()}"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.toString.contains(sentinel)) drained.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the bus delivers events in order: once the sentinel query's
      // arrives, every execution of `body` has been reported
      spark.sql(s"SELECT '$sentinel' AS s").collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** How many of `plans` evaluate an expression `hit` accepts. */
  private def passes(plans: Seq[SparkPlan], hit: Expression => Boolean): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    plans.count(evaluates(_, hit, seen))
  }

  test("warmup for the gram and span ops runs one gram pass and one winnow pass") {
    val corpus = freshCorpus("rare_key_passes")
    val plans = executedPlans {
      val steps = Warmup.run(spark, corpus, rareKeyOps)
      assert(steps.forall(_._2 >= 0), s"a warmup step failed: $steps")
    }
    val counts = (passes(plans, gramPass), passes(plans, winnowPass))
    // and no gram, gram-set or fingerprint rows stay in executor storage
    val Resident = """ngram_hashes\([^)]*, 13\)|winnow_fps\(|\bgs#|collect_upto\(""".r
    val resident = spark.sparkContext.getRDDStorageInfo.map(_.name)
      .filter(n => Resident.findFirstIn(n).nonEmpty)
    assert(counts == (1, 1) && resident.isEmpty,
      s"(gram, winnow) passes $counts, expected (1, 1); persisted rare-key rows:\n" +
        resident.mkString("\n----\n") +
        (if (counts == (1, 1)) "" else s"\nexecuted plans:\n${plans.mkString("\n----\n")}"))
  }

  test("the gram table, then the gram sets: one gram pass") {
    // the call order of a set-up that builds the gram table first and
    // then reads the per-doc sets
    val corpus = freshCorpus("gram_then_sets")
    val plans = executedPlans {
      graft.llm.DedupOps.gramTable(spark, corpus)
      graft.llm.DedupOps.gramSets(spark, corpus).count()
    }
    assert(passes(plans, gramPass) == 1,
      s"expected one gram pass:\n${plans.mkString("\n----\n")}")
  }

  test("a failed warmup step does not skip the steps after it") {
    val steps = Warmup.run(spark, Scratch.dir("warmup_no_corpus") + "/missing",
      Set("agg_median_mad_approx"))
    assert(steps == Seq("segmentMedians" -> -1.0, "catalog" -> -1.0))
  }
}
