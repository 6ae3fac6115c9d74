package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Distinct character-n-gram xxhash64 set of a string, in first-occurrence
  * order — the gram/shingle pass of every dedup index in ONE native eval:
  * `ngram_hashes(t, n)` ≡
  * `array_distinct(transform(sequence(1, greatest(length(t)-n+1, 1)),
  *    i -> xxhash64(substring(t, i, n))))`.
  *
  * Why native: higher-order functions do not participate in whole-stage
  * codegen — each lambda element runs through the interpreted expression
  * evaluator, and each `substring` materializes a fresh UTF8String before
  * `xxhash64` reads its bytes. For a 3000-char document that is ~3000
  * boxed evaluations and ~3000 short-lived copies per row on the hottest
  * linear pass a 100 TB dedup pipeline has. This expression walks the
  * UTF8 byte array once to build the char→byte offset table, then hashes
  * each window's bytes IN PLACE (`XXH64.hashUnsafeBytes` on the original
  * base/offset — the same call Spark's own `xxhash64` makes on a string,
  * same default seed 42), deduplicating by hash value as it goes.
  *
  * Exact-equivalence notes (pinned by TextHashSpec against the HOF
  * spelling on the real corpus):
  * - `substring(t, i, n)` counts CHARACTERS; the offset table walks
  *   `numBytesForFirstByte` so multi-byte code points slice identically.
  * - len < n yields ONE window covering the whole string (the HOF's
  *   `greatest(…, 1)` + short substring), including the empty string.
  * - dedup-by-hash equals the HOF's dedup-by-string + hash under the
  *   64-bit collision-freeness the whole index design already assumes,
  *   and keeps the same first-occurrence order.
  */
case class NgramHashes(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(t: Any, nAny: Any): Any = {
    val s = t.asInstanceOf[UTF8String]
    val n = nAny.asInstanceOf[Int]
    require(n >= 1, s"ngram_hashes: n must be >= 1, got $n")
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val numBytes = s.numBytes
    // char index -> byte offset (one linear UTF-8 walk)
    val nChars = s.numChars
    val charOff = new Array[Int](nChars + 1)
    var ci = 0
    var b = 0
    while (b < numBytes) {
      charOff(ci) = b
      b += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + b))
      ci += 1
    }
    charOff(nChars) = numBytes
    val nWin = math.max(nChars - n + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long](nWin * 2)
    val out = new Array[Long](nWin)
    var k = 0
    var w = 0
    while (w < nWin) {
      val lo = charOff(w)
      val hi = charOff(math.min(w + n, nChars))
      val h = XXH64.hashUnsafeBytes(base, off + lo, hi - lo, 42L)
      if (seen.add(h)) { out(k) = h; k += 1 }
      w += 1
    }
    new GenericArrayData(if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramHashes =
    copy(left = newLeft, right = newRight)
}

/** K-permutation MinHash signature of a hashed-shingle set in one native
  * eval: `minhash_sig(hsh, k)` ≡
  * `transform(sequence(0, k-1), s -> array_min(transform(hsh, h -> xxhash64(h, s))))`.
  *
  * The HOF spelling is the single most interpreter-heavy expression in the
  * repo: k × |hsh| lambda evaluations per document (32 × shingle-count),
  * each allocating boxed longs through the evaluator. This loop computes
  * the same k minima natively. Spark's `xxhash64(h, s)` with a LONG h and
  * an INT s (sequence yields ints) folds left from seed 42:
  * `hashInt(s, hashLong(h, 42))` — replicated here verbatim, with the
  * inner `hashLong(h, 42)` hoisted out of the k-loop (it does not depend
  * on s), which alone halves the hash work. Empty input yields an array
  * of nulls, matching `array_min(empty) = null`; TextHashSpec pins
  * element-exact equality with the HOF rendering on the real corpus. */
case class MinhashSig(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes = Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(hAny: Any, kAny: Any): Any = {
    val hs = hAny.asInstanceOf[ArrayData]
    val k = kAny.asInstanceOf[Int]
    require(k >= 1, s"minhash_sig: k must be >= 1, got $k")
    val m = hs.numElements()
    if (m == 0) return new GenericArrayData(new Array[Any](k)) // nulls
    val h42 = new Array[Long](m)
    var i = 0
    while (i < m) { h42(i) = XXH64.hashLong(hs.getLong(i), 42L); i += 1 }
    val out = new Array[Long](k)
    var s = 0
    while (s < k) {
      var mn = Long.MaxValue
      i = 0
      while (i < m) {
        val v = XXH64.hashInt(s, h42(i))
        if (v < mn) mn = v
        i += 1
      }
      out(s) = mn
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashSig =
    copy(left = newLeft, right = newRight)
}

/** Winnowing fingerprints of a document (Schleimer/Wilkerson/Aiken 2003,
  * the MOSS algorithm): hash every character n-gram, slide a window of w
  * consecutive gram hashes, select each window's minimum (rightmost on
  * ties — the "robust" variant), return the DISTINCT selected values
  * sorted ascending. `winnow_fps(t, n, w)` ≡ the HOF rendering
  * `array_sort(array_distinct(transform(sequence(1, nWin-w+1),
  *    j -> array_min(slice(hs, j, w)))))` over the position-preserving
  * gram-hash sequence — TextHashSpec pins the equivalence.
  *
  * The guarantee that makes this the substring-dedup primitive: any two
  * documents sharing a literal run of ≥ w+n−1 characters contain a fully
  * aligned gram window, hence select at least one COMMON fingerprint —
  * while only ~2/(w+1) of positions are kept (≈8.5× smaller posting
  * index than full gram inversion at w=16). Native for the same reason
  * as ngram_hashes: the HOF spelling is O(chars·w) interpreted lambda
  * evaluations; this is one UTF-8 walk + an O(chars) monotonic-deque
  * sliding minimum. Shorter docs than one window yield their single
  * global minimum (matching the HOF's one whole-array window).
  */
case class WinnowFps(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(t: Any, nAny: Any, wAny: Any): Any = {
    val s = t.asInstanceOf[UTF8String]
    val n = nAny.asInstanceOf[Int]
    val w = wAny.asInstanceOf[Int]
    require(n >= 1 && w >= 1, s"winnow_fps: n and w must be >= 1, got ($n, $w)")
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val numBytes = s.numBytes
    val nChars = s.numChars
    val charOff = new Array[Int](nChars + 1)
    var ci = 0
    var b = 0
    while (b < numBytes) {
      charOff(ci) = b
      b += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + b))
      ci += 1
    }
    charOff(nChars) = numBytes
    val nWin = math.max(nChars - n + 1, 1)
    val hs = new Array[Long](nWin)
    var g = 0
    while (g < nWin) {
      val lo = charOff(g)
      val hi = charOff(math.min(g + n, nChars))
      hs(g) = XXH64.hashUnsafeBytes(base, off + lo, hi - lo, 42L)
      g += 1
    }
    val selected = new java.util.TreeSet[java.lang.Long]()
    if (nWin <= w) {
      var mn = Long.MaxValue
      var i = 0
      while (i < nWin) { if (hs(i) < mn) mn = hs(i); i += 1 }
      selected.add(mn)
    } else {
      // monotonic deque of indices; back-pop on >= keeps the RIGHTMOST
      // minimum per window (robust winnowing's tie rule)
      val deque = new Array[Int](nWin)
      var head = 0
      var tail = 0 // deque occupies [head, tail)
      var i = 0
      while (i < nWin) {
        while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - w) head += 1
        if (i >= w - 1) selected.add(hs(deque(head)))
        i += 1
      }
    }
    val out = new Array[Long](selected.size)
    val it = selected.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): WinnowFps =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Unicode NFC normalization as a native expression — the first pass of
  * any text-cleaning pipeline (visually identical strings must hash
  * identically before ANY dedup/fingerprint stage, or "café" composed and
  * decomposed count as two documents). Spark has no built-in normalizer.
  * Cost honesty (round-13 review): pure-ASCII input — the bulk of web
  * text — takes a byte-scan fast path that returns the input UTF8String
  * with ZERO allocation (ASCII is NFC by definition: no combining marks,
  * no compositions). Non-ASCII input pays one toString materialization
  * plus `Normalizer.isNormalized`, and only strings actually NOT in NFC
  * pay the normalize itself. The expression is CodegenFallback (boxed
  * per-row eval), so its edge over a UDF is the ASCII fast path and
  * null-intolerant wiring, not codegen — documented so nobody copies
  * this pattern expecting whole-stage fusion. Matches DuckDB's
  * `nfc_normalize` (both implement Unicode TR#15 NFC), which is what
  * lets llm_text_normalize carry a full cross-engine oracle. */
case class NfcNormalize(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(t: Any): Any = {
    val s = t.asInstanceOf[UTF8String]
    // ASCII fast path: every byte < 0x80 ⇒ already NFC, return the input
    // untouched (no toString, no allocation)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    var i = 0
    while (i < nb && Platform.getByte(base, off + i) >= 0) i += 1
    if (i == nb) s
    else {
      val str = s.toString
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
    }
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): NfcNormalize =
    copy(child = newChild)
}

/** Intersection COUNT of two ascending-sorted distinct long arrays in one
  * linear merge walk: `sorted_intersect_count(a, b)` ≡
  * `size(array_intersect(a, b))` whenever both inputs are sorted sets.
  *
  * Why native (round 22, VERDICT r21 #1): the containment twins' exact
  * verification intersects the full per-doc gram-hash sets per candidate
  * pair — measured at ~60% of the ops' isolated wall (the round-22
  * joins-only diagnostic, OPTIMIZATION_r22.md §1: 0.67 s of 1.78 s is
  * moving the arrays, the rest is intersecting them). `array_intersect`
  * builds a hash set AND materializes the intersected ARRAY per row, only
  * for `size` to throw it away. Over pre-sorted inputs the count is a two-pointer merge: no
  * hashing, no per-row allocation, one pass over each array.
  *
  * CONTRACT: both arrays ascending-sorted with distinct elements (what
  * `sort_array(collect_set(..))` produces). Violations fail LOUDLY — the
  * walk checks strict ascent on every pointer advance and over the
  * unwalked tails, so every adjacent pair of both arrays is checked once
  * (cache-hot reads, ~zero cost) instead of silently returning a wrong
  * count. TextHashSpec pins count equality with size(array_intersect) on
  * the real corpus, and the loud failure on duplicates and disorder. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(x: Any, y: Any): Any = {
    val a = x.asInstanceOf[ArrayData]
    val b = y.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    // va/vb hold a(i)/b(j); each element is read once, when its pointer
    // lands on it, and checked against the one the pointer left
    var va = if (na > 0) a.getLong(0) else 0L
    var vb = if (nb > 0) b.getLong(0) else 0L
    while (i < na && j < nb) {
      if (va < vb) {
        i += 1
        if (i < na) va = ascending(a, i, va, "left")
      } else if (va > vb) {
        j += 1
        if (j < nb) vb = ascending(b, j, vb, "right")
      } else {
        c += 1
        i += 1
        if (i < na) va = ascending(a, i, va, "left")
        j += 1
        if (j < nb) vb = ascending(b, j, vb, "right")
      }
    }
    // the walk stops at one side's end: check the other side's unwalked tail
    while (i + 1 < na) { i += 1; va = ascending(a, i, va, "left") }
    while (j + 1 < nb) { j += 1; vb = ascending(b, j, vb, "right") }
    c
  }

  /** arr(k), which must be strictly above its predecessor `prev`. */
  private def ascending(arr: ArrayData, k: Int, prev: Long, side: String): Long = {
    val v = arr.getLong(k)
    if (v <= prev)
      throw new IllegalArgumentException(
        s"sorted_intersect_count: $side array not strictly ascending at $k")
    v
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
