package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2.10 — ground-truth recompute for the xxhash64-based
  * signatures that have no DuckDB oracle (the rows-only gap ADVICE r1
  * flagged): llm_fingerprint and the SimHash index. Strategy: pull the raw
  * texts to the driver, re-derive shingles/tokens in plain Scala, hash the
  * distinct strings through ONE trivial Spark projection (xxhash64 itself is
  * taken as given — what's under test is the HOF pipeline around it:
  * sequence/substring windows, array_min, the 64-way bitsum fold), then
  * fold driver-side and compare exactly. */
class FingerprintSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private lazy val texts: Array[(Long, String)] =
    graft.tables.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))

  /** xxhash64 (seed 42, Spark's default) of each distinct string, via a
    * single-column projection — no shingling logic on the Spark side. */
  private def hashOf(strings: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    strings.distinct.toDF("s")
      .select(col("s"), xxhash64(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The decorrelated second hash stream: xxhash64(s, 1L), exactly the
    * chained-arg form the 128-bit simhash's upper half uses. */
  private def hash2Of(strings: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    strings.distinct.toDF("s")
      .select(col("s"), xxhash64(col("s"), lit(1L)).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("llm_fingerprint equals a driver-side min-shingle recompute") {
    // same windowing as the plan: 8-char shingles, whole text if shorter
    def shingles(t: String): Seq[String] =
      if (t.length >= 8) (0 to t.length - 8).map(i => t.substring(i, i + 8))
      else Seq(t)
    val h = hashOf(texts.toSeq.flatMap(d => shingles(d._2)))
    val expected = texts.map { case (id, t) =>
      val hs = shingles(t).map(h)
      id -> ((hs.min, hs.distinct.size))
    }.toMap
    val got = graft.llm.TextOps.llmFingerprint(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got == expected)
  }

  /** Driver-side recompute of the 128-bit fingerprint: lower half from
    * xxhash64(t), upper half from the chained xxhash64(t, 1L). */
  private def simhash128(tokens: Seq[String],
                         h1: Map[String, Long], h2: Map[String, Long]): (Long, Long) = {
    val bitsums = new Array[Long](128)
    tokens.foreach { tok =>
      val (a, b) = (h1(tok), h2(tok))
      var j = 0
      while (j < 128) {
        val th = if (j < 64) a else b
        bitsums(j) += (if (((th >> (j % 64)) & 1L) == 1L) 1L else -1L); j += 1
      }
    }
    val lo = (0 until 64).map(j => if (bitsums(j) > 0) 1L << j else 0L).sum
    val hi = (64 until 128).map(j => if (bitsums(j) > 0) 1L << (j - 64) else 0L).sum
    (lo, hi)
  }

  private def tokens(t: String): Seq[String] =
    t.trim.toLowerCase.split("\\s+").toSeq

  /** Length band of a token count: its bit length, 1 for zero. */
  private def band(nTok: Int): Int =
    if (nTok == 0) 1 else 64 - java.lang.Long.numberOfLeadingZeros(nTok.toLong)

  /** The stored fingerprints, one row per doc: (doc_id, lo, hi, band). */
  private def fingerprints(dir: String): Array[(Long, Long, Long, Int)] =
    graft.llm.DedupOps.simFingerprints(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(_._1)

  test("simhash index equals a driver-side 128-bit bitsum-fold recompute") {
    val toks = texts.toSeq.flatMap(d => tokens(d._2))
    val h1 = hashOf(toks); val h2 = hash2Of(toks)
    val expected = texts.map { case (id, t) =>
      val (lo, hi) = simhash128(tokens(t), h1, h2)
      id -> ((lo, hi, band(tokens(t).size)))
    }.toMap
    val got = fingerprints(sfDir).map { case (id, lo, hi, lb) => id -> ((lo, hi, lb)) }.toMap
    assert(got == expected)
  }

  test("llm_dedup_simhash equals brute-force chunk+band candidates ranked by Hamming") {
    // mirror the operator's candidate rule: >=1 equal 16-bit chunk (out of
    // 8 across the two halves) AND token-count full-octave bands within
    // +-1 (band = bit length of n_tok, exactly length(bin(n_tok)))
    val sim = fingerprints(sfDir)
    def chunks(lo: Long, hi: Long): Seq[Long] =
      (0 to 3).map(c => (lo >> (16 * c)) & 0xFFFFL) ++
        (0 to 3).map(c => (hi >> (16 * c)) & 0xFFFFL)
    val expected = (for {
      i <- sim.indices.iterator
      j <- (i + 1) until sim.length
      (ida, la, ha, ba) = sim(i); (idb, lb, hb, bb) = sim(j)
      if math.abs(ba - bb) <= 1 &&
        chunks(la, ha).zip(chunks(lb, hb)).exists { case (x, y) => x == y }
    } yield (ida, idb,
      java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)))
      .toSeq.sortBy { case (a, b, ham) => (ham, a, b) }.take(200)
    val got = SparkEntry.queries("llm_dedup_simhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expected)
  }

  test("materialized simhash index reproduces the in-memory pairs exactly; profile matches the fold") {
    // the bucketed (chunk, cval) table must rank byte-identically to an
    // in-memory re-chunking of the stored fingerprints under the same
    // geometry
    import graft.llm.DedupOps.{simGeom, simhashCandidates, simhashRanked}
    val mem = simhashRanked(simhashCandidates(spark, sfDir, simGeom(spark, sfDir)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val idx = graft.llm.DedupOps.llmDedupSimhashIndexed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(mem.nonEmpty && idx == mem)
    // profile: every chunk position holds one row per doc
    val nDocs = graft.tables.Tables(spark, sfDir, "documents").count()
    val prof = graft.llm.DedupOps.llmSimIndexBuild(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(prof.length == 8 && prof.forall(_._2 == nDocs))
    assert(prof.forall(p => p._3 > 0 && p._3 <= nDocs))
  }

  test("forced 4x32 wide-corpus chunk geometry matches a driver-side brute force") {
    // The >1M-doc branch of simChunkGeom flips the join to 4×32-bit
    // chunks (Hamming<=3 pigeonhole, 2^32 values). No test corpus is that
    // large, so force the geometry and verify the candidate rule against
    // a brute force with 32-bit chunks over the same fingerprints.
    assert(graft.llm.DedupOps.simChunkGeom(1000000L) == ((8, 16)))
    assert(graft.llm.DedupOps.simChunkGeom(1000001L) == ((4, 32)))
    import graft.llm.DedupOps.{simhashCandidates, simhashRanked}
    val got = simhashRanked(simhashCandidates(spark, sfDir, (4, 32)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val sim = fingerprints(sfDir)
    def chunks32(lo: Long, hi: Long): Seq[Long] =
      Seq(lo & 0xFFFFFFFFL, (lo >>> 32) & 0xFFFFFFFFL,
        hi & 0xFFFFFFFFL, (hi >>> 32) & 0xFFFFFFFFL)
    val expected = (for {
      i <- sim.indices.iterator
      j <- (i + 1) until sim.length
      (ida, la, ha, ba) = sim(i); (idb, lb, hb, bb) = sim(j)
      if math.abs(ba - bb) <= 1 &&
        chunks32(la, ha).zip(chunks32(lb, hb)).exists { case (x, y) => x == y }
    } yield (ida, idb,
      java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)))
      .toSeq.sortBy { case (a, b, ham) => (ham, a, b) }.take(200)
    assert(got == expected)
  }

  test("simhash retains a doc vs its own 2x repetition (the ratio-2 band edge)") {
    // ADVICE r6 (medium): the old half-octave band on bitlen(n_tok²)
    // dropped ratio-2 pairs — a doc and its own repetition have an
    // IDENTICAL simhash (Hamming 0) and MUST surface as the top pair.
    // Plant a corpus where doc 2 = doc 1's text twice, in a scratch dir
    // shaped like a testdata tier.
    val dir = graft.util.Scratch.dir("fingerprint_rep_pair")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    import spark.implicits._
    Seq(
      (1L, base),
      (2L, base + " " + base), // exact 2x repetition: identical fingerprint
      (3L, "completely different text about spark catalyst optimizer internals and shuffle exchange planning")
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val top = SparkEntry.queries("llm_dedup_simhash")(spark, dir).collect()
      assert(top.nonEmpty, "repetition pair was dropped by the band key")
      val head = top.head
      assert((head.getLong(0), head.getLong(1), head.getInt(2)) == ((1L, 2L, 0)),
        s"expected (1,2,Hamming 0) as the top pair, got ${top.toSeq}")
    } finally graft.llm.DedupOps.clearCaches()
  }
}
