package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CollectUpto, NgramHashes, WinnowFps}
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

  /** The plans `plan` runs directly: through adaptive and query-stage
    * wrappers and into a cached frame's plan when `fill` says its scan
    * fills the cache. */
  private def below(plan: SparkPlan, fill: InMemoryTableScanExec => Boolean): Seq[SparkPlan] =
    plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => if (fill(m)) Seq(m.relation.cachedPlan) else Nil
      case p => p.children ++ p.subqueries
    }

  /** Whether executing `plan` runs a node `hit` accepts. A cached frame's
    * plan counts once, on the first scan of it in `seen` (the scan that
    * fills the cache); later scans read the cached rows. */
  private def runs(plan: SparkPlan, hit: SparkPlan => Boolean,
      seen: java.util.Set[AnyRef]): Boolean =
    below(plan, m => seen.add(m.relation.cacheBuilder)).exists(runs(_, hit, seen)) ||
      hit(plan)

  /** Whether executing `plan` evaluates an expression `hit` accepts. */
  private def evaluates(plan: SparkPlan, hit: Expression => Boolean,
      seen: java.util.Set[AnyRef]): Boolean =
    runs(plan, _.expressions.exists(_.find(hit).isDefined), seen)

  /** Whether `plan`'s input, through every wrapper and cache, includes
    * a node `hit` accepts. */
  private def reads(plan: SparkPlan, hit: SparkPlan => Boolean): Boolean =
    hit(plan) || below(plan, _ => true).exists(reads(_, hit))

  /** A capped `collect_upto` aggregate over the stored gram rows. */
  private def cappedGramAgg(p: SparkPlan): Boolean =
    p.expressions.exists(_.find(_.isInstanceOf[CollectUpto]).isDefined) &&
      reads(p, {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table.startsWith("grams_bkt_"))
        case _ => false
      })

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

  /** How many of `plans` run a capped aggregate over the gram rows. */
  private def gramAggs(plans: Seq[SparkPlan]): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    plans.count(runs(_, cappedGramAgg, seen))
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
    assert(passes(plans, gramPass) == 1 && gramAggs(plans) == 1,
      s"expected one gram pass and one capped gram aggregate:\n${plans.mkString("\n----\n")}")
  }

  test("one capped aggregate over the gram rows per corpus: the warmup's") {
    // the containment calls after the warmup read the stored rare-gram
    // groups and the stored sets; neither re-aggregates the gram rows
    val corpus = freshCorpus("gram_aggregates")
    val plans = executedPlans {
      val steps = Warmup.run(spark, corpus, rareKeyOps)
      assert(steps.forall(_._2 >= 0), s"a warmup step failed: $steps")
      for (_ <- 1 to 2; op <- Seq("llm_dedup_containment", "llm_dedup_containment_indexed"))
        SparkEntry.queries(op)(spark, corpus).collect()
    }
    assert(gramAggs(plans) == 1,
      s"expected one capped gram aggregate, got ${gramAggs(plans)}:\n${plans.mkString("\n----\n")}")
  }

  test("the gram and span ops select only the gram and span steps") {
    val selected = Warmup.steps.filter(st => rareKeyOps.exists(st.serves)).map(_.name)
    assert(selected == Seq("gramTable", "gramRareTable", "trainBloom", "spanTable",
      "spanRareTable", "gramAppendTable", "catalog"), selected)
    // and every step serves some registered operator
    val idle = Warmup.steps.filterNot(st => SparkEntry.queries.keys.exists(st.serves))
    assert(idle.isEmpty, s"steps no registered operator selects: ${idle.map(_.name)}")
  }

  test("a failed warmup step does not skip the steps after it") {
    val steps = Warmup.run(spark, Scratch.dir("warmup_no_corpus") + "/missing",
      Set("agg_median_mad_approx"))
    assert(steps == Seq("segmentMedians" -> -1.0, "catalog" -> -1.0))
  }
}
