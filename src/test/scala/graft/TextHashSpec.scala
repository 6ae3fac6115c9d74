package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Element-exact equivalence of the round-11 native text-hash expressions
  * against the HOF spellings they replaced. The dedup indexes' entire
  * downstream correctness (banding, Jaccard verification, the full DuckDB
  * oracles) rides on these being IDENTICAL, not just similar — any
  * deviation in value OR order is a silent index change. Run on the real
  * corpus so every code path (multi-byte chars if present, short docs,
  * duplicate grams) is exercised with production data. */
class TextHashSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private lazy val docs = graft.tables.Tables(spark, sfDir, "documents")
    .select(col("doc_id"), lower(trim(col("text"))).as("t"))

  private def collectArrays(e: String): Map[Long, Seq[Long]] =
    docs.select(col("doc_id"), expr(e).as("a")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("ngram_hashes(t, 13) equals the HOF gram spelling, element for element") {
    val native = collectArrays("ngram_hashes(t, 13)")
    val hof = collectArrays(
      "array_distinct(transform(sequence(1, greatest(length(t) - 12, 1)), " +
        "i -> xxhash64(substring(t, i, 13))))")
    assert(native.keySet == hof.keySet)
    native.foreach { case (id, a) =>
      assert(a == hof(id), s"gram hash mismatch for doc $id")
    }
  }

  test("ngram_hashes(t, 5) equals the HOF shingle spelling") {
    val native = collectArrays("ngram_hashes(t, 5)")
    val hof = collectArrays(
      "array_distinct(transform(sequence(1, greatest(length(t) - 4, 1)), " +
        "i -> xxhash64(substring(t, i, 5))))")
    assert(native == hof)
  }

  test("minhash_sig(hsh, 32) equals the HOF permutation spelling") {
    val native = collectArrays("minhash_sig(ngram_hashes(t, 5), 32)")
    val hof = collectArrays(
      "transform(sequence(0, 31), s -> array_min(transform(" +
        "array_distinct(transform(sequence(1, greatest(length(t) - 4, 1)), " +
        "i -> xxhash64(substring(t, i, 5)))), h -> xxhash64(h, s))))")
    assert(native == hof)
  }

  test("winnow_fps(t, 8, 16) equals the HOF window-min spelling") {
    // precompute the position-preserving gram sequence once per row —
    // winnowing windows over it, min per window, distinct, sorted. Ties
    // inside a window pick a POSITION natively (rightmost) but the same
    // VALUE either way, so value-set equality is exact.
    val native = collectArrays("winnow_fps(t, 8, 16)")
    val hof = docs
      .withColumn("ghs", expr(
        "transform(sequence(1, greatest(length(t) - 7, 1)), " +
          "i -> xxhash64(substring(t, i, 8)))"))
      .select(col("doc_id"), expr(
        "array_sort(array_distinct(transform(" +
          "sequence(1, greatest(size(ghs) - 15, 1)), " +
          "j -> array_min(slice(ghs, j, 16)))))").as("a"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet == hof.keySet && native.nonEmpty)
    native.foreach { case (id, a) =>
      assert(a == hof(id), s"winnow mismatch for doc $id")
    }
  }

  test("winnowing guarantee: a shared run of >= w+n-1 chars shares a fingerprint") {
    // two unrelated texts spliced with the same 60-char segment MUST share
    // at least one selected fingerprint (w=16, n=8 → guarantee at 23);
    // two fully unrelated texts of this shape share none
    val shared = "the quick brown fox jumps over the lazy dog repeatedly often"
    val rows = Seq(
      ("a" * 40) + shared + ("b" * 40),
      ("c" * 40) + shared + ("d" * 40),
      ("e" * 40) + "completely different middle content here with no overlap" + ("f" * 40))
    val df = spark.createDataFrame(rows.zipWithIndex.map(_.swap))
      .toDF("id", "t")
    val fps = df.select(col("id"), expr("winnow_fps(t, 8, 16)").as("fp"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(0) & fps(1)).nonEmpty, "shared 60-char run selected no common fp")
    assert((fps(0) & fps(2)).isEmpty && (fps(1) & fps(2)).isEmpty,
      "unrelated docs share fingerprints")
  }

  test("edge cases: short, empty, multi-byte, duplicate-heavy strings") {
    val rows = Seq("", "ab", "abcde", "aaaaaaaaaa", "héllo wörld — ünïcode",
      "xyxyxyxyxyxyxy", "日本語のテキストです")
    val df = spark.createDataFrame(rows.map(Tuple1(_))).toDF("t")
    val got = df.select(expr("ngram_hashes(t, 5)").as("a"),
      expr("array_distinct(transform(sequence(1, greatest(length(t) - 4, 1)), " +
        "i -> xxhash64(substring(t, i, 5))))").as("b"))
      .collect()
    got.zip(rows).foreach { case (r, s) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"mismatch on '$s'")
    }
    // minhash on the same edge strings (skip empty: array_min of an empty
    // array is null on the HOF side, a null-element array natively — the
    // indexes never see empty gram sets because n-gram windows are >= 1)
    val sig = df.select(expr("minhash_sig(ngram_hashes(t, 3), 8)").as("a"),
      expr("transform(sequence(0, 7), s -> array_min(transform(" +
        "array_distinct(transform(sequence(1, greatest(length(t) - 2, 1), 1), " +
        "i -> xxhash64(substring(t, i, 3)))), h -> xxhash64(h, s))))").as("b"))
      .collect()
    sig.zip(rows).foreach { case (r, s) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"sig mismatch on '$s'")
    }
  }

  test("nfc_normalize: decomposed unifies with composed; NFC text passes through") {
    // the property llm_text_normalize exists for: composed U+00E9 and
    // decomposed e + U+0301 must byte-match after normalization, or every
    // hash-based dedup stage counts them as distinct documents
    graft.tables.Tables(spark, sfDir, "region") // ensure function registration
    val decomposed = "cafe\u0301" // e + combining acute accent
    val composed = "caf\u00e9"    // precomposed e-acute
    val r = spark.sql(
      s"SELECT nfc_normalize('$decomposed') AS a, nfc_normalize('$composed') AS b, " +
        "nfc_normalize(CAST(NULL AS STRING)) AS c, nfc_normalize('plain') AS d")
      .collect().head
    assert(r.getString(0) == composed, "decomposed must normalize to composed")
    assert(r.getString(1) == composed, "already-NFC text must pass through unchanged")
    assert(r.isNullAt(2), "null must propagate")
    assert(r.getString(3) == "plain")
    // and the java.text.Normalizer ground truth agrees
    assert(java.text.Normalizer.normalize(decomposed,
      java.text.Normalizer.Form.NFC) == composed)
  }

  test("sorted_intersect_count equals size(array_intersect) on the corpus gram sets") {
    // round 22: the containment verification replaced array_intersect with
    // the native merge count over sorted sets — count equality over every
    // candidate-doc pairing shape is what the rewrite's correctness rides
    // on (the full DuckDB oracle pins the shipped ops; this pins the
    // expression itself on real data, all-pairs, both argument orders)
    graft.tables.Tables(spark, sfDir, "region") // ensure function registration
    val sets = docs
      .select(col("doc_id"), expr("sort_array(ngram_hashes(t, 13))").as("gs"))
      .limit(60)
    val a = sets.select(col("doc_id").as("ida"), col("gs").as("ga"))
    val b = sets.select(col("doc_id").as("idb"), col("gs").as("gb"))
    val both = a.crossJoin(b)
      .select(
        expr("sorted_intersect_count(ga, gb)").as("native"),
        expr("size(array_intersect(ga, gb))").cast("long").as("builtin"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"merge count ${r.getLong(0)} != array_intersect ${r.getLong(1)}"))
  }

  test("sorted_intersect_count: edge cases and the loud unsorted-input contract") {
    graft.tables.Tables(spark, sfDir, "region") // ensure function registration
    val r = spark.sql(
      "SELECT sorted_intersect_count(array(1L,2L,3L), array(2L,3L,4L)) AS a, " +
        "sorted_intersect_count(array(), array(1L)) AS b, " +
        "sorted_intersect_count(array(1L), array()) AS c, " +
        "sorted_intersect_count(array(1L,2L), array(3L,4L)) AS d, " +
        "sorted_intersect_count(array(-5L,0L,7L), array(-5L,0L,7L)) AS e, " +
        "sorted_intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS f")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 0L && r.getLong(4) == 3L && r.isNullAt(5))
    // unsorted input must fail loudly, never return a silently wrong count
    // (left walks past 5 toward the descending 1 — the monotonicity check
    // on the advance path fires)
    val ex = intercept[Exception] {
      spark.sql("SELECT sorted_intersect_count(array(5L,1L), array(6L))")
        .collect()
    }
    assert(ex.getMessage != null)
    // the holes the walk used to leave: duplicates advanced past by the
    // equal branch, disorder right after a match, and an unwalked tail
    Seq("array(1L,1L,2L), array(1L,1L,3L)",
        "array(2L,1L), array(1L,2L)",
        "array(1L,5L,3L), array(1L,3L)").foreach { args =>
      val e = intercept[Exception] {
        spark.sql(s"SELECT sorted_intersect_count($args)").collect()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("not strictly ascending")),
        s"sorted_intersect_count($args) must fail loudly, got $e")
    }
  }
}
