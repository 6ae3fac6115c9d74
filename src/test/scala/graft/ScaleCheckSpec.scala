package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_SECTIONS parsing: a typo must fail, not run nothing. */
class ScaleCheckSpec extends AnyFunSuite {
  test("unknown section names fail fast; unset selects every section") {
    val e = intercept[IllegalArgumentException](
      ScaleCheck.parseSections(Some("dedup,contaiment")))
    assert(e.getMessage.contains("contaiment"))
    assert(e.getMessage.contains(ScaleCheck.Sections.mkString(",")))
    assert(ScaleCheck.parseSections(None) == ScaleCheck.Sections)
    assert(ScaleCheck.Sections.distinct.size == 13)
    assert(ScaleCheck.parseSections(Some(" sink,dedup ")) == Seq("sink", "dedup"))
  }
}
