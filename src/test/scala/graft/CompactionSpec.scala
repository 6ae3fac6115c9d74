package graft

import org.scalatest.funsuite.AnyFunSuite

/** sink_compact_small_files — the oracle pins content preservation; this
  * pins the part the oracle can't see: the file count actually drops. */
class CompactionSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  test("compaction rewrites 64 small files to the byte-targeted count") {
    graft.etl.Ingest.sinkCompactSmallFiles(spark, sfDir).collect()
    val base = s"${graft.util.Scratch.rootDir}/sink_compact_small_files"
    val nSmall = graft.util.Scratch.dataFiles(s"$base/small").length
    val nCompact = graft.util.Scratch.dataFiles(s"$base/compacted").length
    assert(nSmall == 64, s"fragmented input expected 64 files, got $nSmall")
    // test data is far under 128 MB, so the byte target collapses to 1
    assert(nCompact == 1, s"compacted output expected 1 file, got $nCompact")
  }
}
