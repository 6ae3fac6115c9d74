package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Driver

class DriverSpec extends AnyFunSuite {
  test("quote round-trips quotes, backslashes, control chars and non-ASCII through a JSON parser") {
    val json = new ObjectMapper()
    for (s <- Seq("", "plain", "a\"b", "c:\\dir\\f", "line\nnext", "tab\there",
        "cr\r", "bell\u0001end", "\u001f", "naïve Δ 数据 \uD83D\uDE00", "'\"\\\n\t\u0001"))
      assert(json.readTree(Driver.quote(s)).textValue == s, s"round trip of ${Driver.quote(s)}")
    assert(Driver.quote("a\nb\u0001") == "\"a\\nb\\u0001\"")
  }
}
