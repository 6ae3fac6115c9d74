package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

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
      "agg_histogram_approx", "agg_median_mad_approx", "llm_dedup_containment_indexed"))
    test(s"warmup for $op builds everything $op reads") {
      val corpus = freshCorpus(op)
      val steps = Warmup.run(spark, corpus, Set(op))
      assert(steps.forall(_._2 >= 0), s"a warmup step failed: $steps")
      val before = SessionMemo.builds
      SparkEntry.queries(op)(spark, corpus).count()
      assert(SessionMemo.builds == before,
        s"$op built ${SessionMemo.builds - before} memo entries after warmup steps $steps")
    }

  test("a failed warmup step does not skip the steps after it") {
    val steps = Warmup.run(spark, Scratch.dir("warmup_no_corpus") + "/missing",
      Set("agg_median_mad_approx"))
    assert(steps == Seq("segmentMedians" -> -1.0, "catalog" -> -1.0))
  }
}
