package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.QFn
import graft.tables.Tables

/** SURVEY.md §2.10 [north-star] — text analysis for LLM training-data
  * pipelines: corpus stats, token counting (whitespace + BPE-ish regex),
  * quality scoring, language ID, document fingerprinting. All pure
  * `org.apache.spark.sql.functions` / Catalyst expressions — no UDFs, so
  * everything stays inside whole-stage codegen and scales linearly with
  * executors at 100 TB.
  */
object TextOps {

  private val tokens: Column = split(lower(trim(col("text"))), "\\s+")

  /** The language models, scores and BPE model this module builds once per
    * (session, sfDir) — see [[graft.util.SessionMemo]]. */
  private val memo = new graft.util.SessionMemo

  /** Release the persisted models (same contract as
    * DedupOps.clearCaches — safe between corpora, rebuilt lazily). */
  def clearCaches(): Unit = memo.clear()

  /** Persisted unigram model (token → count), one per (session, sfDir) —
    * the DedupOps index pattern: the LM is consulted twice inside the
    * logprob query (corpus total + per-token NLL join) and Spark would
    * otherwise re-derive the whole explode+aggregate subtree for each use
    * (self-referencing plans recompute, they don't share). At 100 TB this
    * is the vocabulary table every perplexity filter materializes once —
    * one linear corpus pass, then all scoring reads it. */
  private[graft] def unigramModel(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    memo(spark, sfDir, "unigramModel") {
      memo.persist(Tables(spark, sfDir, "documents")
        .select(explode(tokens).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt")))
    }

  /** Shared en/de/es/fr marker-word lists: the SAME lists build both the
    * Spark plan and the DuckDB oracle SQL, so they cannot drift. */
  val markerWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ein"),
    "es" -> Seq("el", "los", "que", "una", "por", "con"),
    "fr" -> Seq("le", "les", "des", "est", "une", "dans"),
  )

  private def markerHits(words: Seq[String]): Column =
    size(array_intersect(tokens, array(words.map(lit): _*)))

  private def markerHitsSql(words: Seq[String]): String =
    "CAST(len(list_distinct(list_intersect(string_split_regex(lower(trim(text)), '\\s+'), " +
      words.map(w => s"'$w'").mkString("[", ", ", "]") + "))) AS INT)"

  /** Corpus statistics per language bucket (counts, char totals, token
    * totals, exact-arithmetic averages). */
  val llmTextStats: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "documents")
      .withColumn("n_tokens", size(tokens))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 4)
          .as("avg_chars"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
      .orderBy("lang")

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs | digit runs | single punctuation). */
  /** Shard export — the final-mile step of a training-data build: write
    * the corpus as parquet partitioned by the deterministic shuffle shard
    * (llm_shuffle_shards' LCG hash), then read the EXPORT back and emit
    * the manifest (shard, n_docs, total_tokens) a downstream loader
    * consumes. Computing the manifest from the read-back makes the result
    * prove the round-trip, and partitioning by shard makes per-shard
    * loads partition-pruned scans. At 100 TB: add maxRecordsPerFile to
    * bound file sizes and scale the shard count with the corpus — the
    * fixed 64 fits the test tiers. */
  val llmExportShards: QFn = (spark, sfDir) => {
    val dir = graft.util.Scratch.dir(
      s"export_shards_${graft.util.Scratch.pathTag(sfDir)}")
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        pmod(pmod(col("doc_id") * 48271L, lit(2147483647L)), lit(64))
          .cast("int").as("shard"),
        size(tokens).as("n_tokens"))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    spark.read.parquet(dir)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
      .orderBy("shard")
  }

  val llmTokenCount: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(tokens).as("ws_tokens"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
          .as("bpe_tokens"))
      .orderBy("doc_id")

  /** Quality scoring: length / punctuation / marker-word signals combined
    * into a deterministic [0,1] score. */
  val llmQualityScore: QFn = (spark, sfDir) => {
    val nTokens = size(tokens)
    val nPunct = regexp_count(col("text"), lit("[.,!?;:]"))
    val stopKinds = markerHits(markerWords.head._2) // en markers
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"),
        nTokens.as("n_tokens"),
        nPunct.as("n_punct"),
        stopKinds.as("stop_kinds"),
        round(lit(0.5) * least(lit(1.0), nTokens.cast("double") / 100.0) +
          lit(0.5) * (stopKinds.cast("double") / 6.0), 4).as("quality"))
      .orderBy("doc_id")
  }

  /** Language ID: CJK-script check, then argmax of marker-word hits with a
    * fixed tie-break order (en > de > es > fr). */
  val llmLangId: QFn = (spark, sfDir) => {
    val hits = markerWords.map { case (l, ws) => l -> markerHits(ws) }
    val Seq(en, de, es, fr) = hits.map(_._2)
    val pred = when(regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")) > 0, "zh")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
    Tables(spark, sfDir, "documents")
      .select(Seq(col("doc_id"), col("lang"), pred.as("pred_lang")) ++
        hits.map { case (l, c) => c.as(s"s_$l") }: _*)
      .orderBy("doc_id")
  }

  /** BPE merge-rule induction (Sennrich et al. 2016) — training the
    * tokenizer itself as a pipeline step. The Spark shape matters more
    * than the loop: the ONLY corpus-scale pass is the word-frequency
    * aggregate (at 100 TB, that one explode+count is the job). The
    * merge induction itself runs on the COLLECTED word-frequency table:
    * distinct words grow ~Heaps-law sublinearly in corpus size (58k at
    * sf0.1; real web corpora land in the low millions after the same
    * whitespace normalization), so the vocab fits any driver while the
    * corpus never could — the same collect bound every production BPE
    * trainer (sentencepiece, HF tokenizers) accepts. Per merge the
    * trainer is INCREMENTAL (VERDICT r11 #2 — the previous shape ran
    * one Spark job per merge, capping realistic merge counts): pair
    * counts live in a hash map, a pair→words inverted index recounts
    * only the words containing the chosen pair, and each affected word
    * re-merges via the standard greedy left-to-right fold. Argmax ties
    * break to the lexicographically smallest (l, r); counts are exact
    * integer sums — induction is deterministic and, trivially now,
    * partitioning-invariant. Cost: O(corpus) for the one distributed
    * pass + O(touched pair occurrences) for ALL merges together, so
    * 1000 merges cost barely more than 10 (the spec pins the sequence
    * against a naive full-recount reference at the full merge count).
    * Output = the learned merge table, the artifact a tokenizer ships.
    * no_oracle (iterative); BpeSpec pins equality with a
    * single-threaded reference implementation on the real corpus. */
  val llmBpeTrain: QFn = (spark, sfDir) => {
    import spark.implicits._
    bpeMerges(spark, sfDir).toDF("step", "merge_left", "merge_right", "pair_count")
  }

  /** Trained BPE artifacts: the merge table plus each vocab word's final
    * subword count — the trainer's end-state symbol arrays ARE the fully
    * encoded vocab, so the encode side gets its dictionary for free. */
  private[graft] case class BpeModel(
      merges: Seq[(Int, String, String, Long)],
      wordCost: Seq[(String, Int)])

  /** The learned model, once per (session, sfDir) — consumed by
    * [[llmBpeTrain]] (emits the merge table) and [[llmBpeApply]]
    * (broadcasts the word-cost dictionary), same share-the-model
    * pattern as unigramModel/bigramModel. */
  private[graft] def bpeModel(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): BpeModel =
    memo(spark, sfDir, "bpeModel")(trainBpe(spark, sfDir))
  private[graft] def bpeMerges(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Seq[(Int, String, String, Long)] =
    bpeModel(spark, sfDir).merges

  /** Merge count — THE tokenizer capacity hyperparameter. 1000 default
    * (CI + bench tier); override with SPARK_GRAFT_BPE_MERGES for
    * production-scale counts — the incremental trainer's cost is
    * O(touched pair occurrences) + an argmax scan per merge, measured
    * at sf0.1 in BASELINE.md round 13 (tokenizer-scale counts stay
    * driver-side seconds-to-minutes, not the multi-hour job-per-merge
    * loop the old shape implied). BpeSpec reads the same value, so the
    * reference-equality pin follows the override. `def`, not `val`
    * (ADVICE r13): an object-initializer val turns a malformed env var
    * into ExceptionInInitializerError swallowed by per-query catches —
    * exactly the failure mode EnvKnobs' scaladoc warns callers about. */
  private[graft] def bpeNumMerges: Int =
    graft.util.EnvKnobs.positiveInt("SPARK_GRAFT_BPE_MERGES", 1000)

  /** Vocab-collect guards (VERDICT r14 #2 — the one standing driver-side
    * scale-killer): `trainBpe` collects the distinct-word frequency table,
    * which is Heaps-law-bounded but NOT constant — a 100 TB web corpus has
    * 10⁸+ distinct "words" under whitespace splitting, and an unbounded
    * collect of that is a driver OOM discovered hours into the job.
    * `bpeMinCount` prunes the long tail BEFORE the collect (count ≥ 2
    * already removes most of a web corpus's hapax noise — typos, hashes,
    * boilerplate IDs — that no tokenizer wants merges for); `bpeVocabCap`
    * is the hard stop: if the pruned vocab still exceeds it, the job
    * fails LOUDLY at plan time with the knob to turn, instead of OOMing
    * the driver. Defaults keep test corpora byte-identical (minCount=1
    * prunes nothing at these SFs) while bounding the worst case at ~2M
    * words ≈ low hundreds of MB driver-side — tokenizer-training scale. */
  private[graft] def bpeMinCount: Long =
    graft.util.EnvKnobs.positiveInt("SPARK_GRAFT_BPE_MINCOUNT", 1).toLong
  private[graft] def bpeVocabCap: Int =
    graft.util.EnvKnobs.positiveInt("SPARK_GRAFT_BPE_VOCAB_CAP", 2000000)

  /** The bounded vocab collect — the ONLY place corpus-derived data
    * crosses to the driver in the BPE path. `limit(cap + 1)` bounds the
    * transferred rows at plan level (the overflow probe IS the collect —
    * no second pass), and one extra row distinguishes "exactly cap" from
    * "over cap". Deterministic layout via the word sort; counts are
    * unaffected by the sort. Exposed for BpeSpec's heavy-tail case. */
  private[graft] def boundedVocab(wordCounts: org.apache.spark.sql.DataFrame,
      minCount: Long, cap: Int): Array[(String, Long)] = {
    require(cap > 0 && cap < Int.MaxValue,
      s"vocab cap must be in [1, ${Int.MaxValue - 1}], got $cap (the +1 " +
        "overflow probe needs headroom)")
    val rows = wordCounts
      .filter(col("cnt") >= minCount)
      .orderBy("w")
      .limit(cap + 1)
      .collect()
    if (rows.length > cap)
      throw new IllegalStateException(
        s"BPE vocab exceeds the $cap-word driver-collect cap even after " +
          s"minCount=$minCount pruning. Raise SPARK_GRAFT_BPE_MINCOUNT " +
          "(tail pruning) or SPARK_GRAFT_BPE_VOCAB_CAP (driver memory " +
          "budget) — an unbounded vocab collect is a driver OOM at " +
          "corpus scale.")
    rows.map(r => (r.getString(0), r.getLong(1)))
  }

  /** Initial symbol split by Unicode CODE POINTS, not UTF-16 units
    * (round-13 review): iterating chars breaks supplementary-plane text
    * (emoji, rare CJK) into lone surrogates — invalid strings whose
    * UTF-8 serialization can collide distinct merges. Code-point slices
    * keep every symbol a valid string, matching what the old
    * split(w, '') SQL path produced and what `length()` counts. */
  private[graft] def splitCodePoints(w: String): scala.collection.mutable.ArrayBuffer[String] = {
    val b = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val k = Character.charCount(cp)
      b += w.substring(i, i + k)
      i += k
    }
    b
  }

  private def trainBpe(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): BpeModel = {
    // The one corpus-scale pass: word frequencies (map-side-combined).
    // Sorted by word for a deterministic collected layout; the merge
    // sequence itself depends only on the exact counts, not the order.
    // The collect is BOUNDED (minCount prune + hard cap — see
    // boundedVocab): at these SFs the defaults prune nothing, at corpus
    // scale they are the difference between a tokenizer-training job
    // and a driver OOM.
    val counts = Tables(spark, sfDir, "documents")
      .select(explode(tokens).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    induceMerges(boundedVocab(counts, bpeMinCount, bpeVocabCap), bpeNumMerges)
  }

  /** Driver-side incremental merge induction over a word-frequency table
    * — separated from the corpus pass so its merge-count capacity can be
    * pinned independently of the fixture corpus (round-13 finding: the
    * synthetic documents table holds only 31 distinct words, so training
    * on it EXHAUSTS at ~89 merges regardless of the configured count;
    * BpeSpec therefore drives this entry point past 1000 merges on a
    * seeded synthetic vocabulary, in addition to the real-corpus
    * sequence-equality pin). */
  private[graft] def induceMerges(words: Array[(String, Long)],
      nMerges: Int): BpeModel = {
    import scala.collection.mutable
    val n = words.length
    val freq = words.map(_._2)
    val syms: Array[mutable.ArrayBuffer[String]] =
      words.map { case (w, _) => splitCodePoints(w) }
    val counts = mutable.HashMap.empty[(String, String), Long]
    // pair → ids of words that contained it at some point; entries go
    // stale after merges rewrite a word (never removed), which is safe:
    // a stale id just fails the adjacency pre-check below and is skipped.
    val where = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addPairs(i: Int, sign: Long): Unit = {
      val s = syms(i); var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * freq(i)
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (sign > 0) where.getOrElseUpdate(p, mutable.Set.empty) += i
        j += 1
      }
    }
    var i = 0
    while (i < n) { addPairs(i, 1L); i += 1 }
    // Code-point lexicographic order for the argmax tie-break (ADVICE
    // r13): this replaced a Spark orderBy whose string sort compares
    // UTF-8 BYTES — identical to code-point order — while String.< is
    // UTF-16 code-unit order, which ranks every supplementary-plane
    // symbol (surrogates 0xD800+) BELOW e.g. U+FFFF. Equal on BMP-only
    // corpora (the sequence-equality pin is unchanged), different —
    // and previously silently wrong — when emoji/rare-CJK symbols tie.
    def cpLess(a: String, b: String): Boolean = {
      var i = 0
      while (i < a.length && i < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(i)
        if (ca != cb) return ca < cb
        i += Character.charCount(ca)
      }
      a.length < b.length
    }
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= nMerges && counts.nonEmpty) {
      // argmax by (count desc, l asc, r asc) — a linear scan of the live
      // pair map (tens of thousands of entries; trivially cheap per step)
      var bl: String = null; var br: String = null; var bn = -1L
      counts.foreach { case ((l, r), c) =>
        if (c > bn || (c == bn && (cpLess(l, bl) ||
            (l == bl && cpLess(r, br))))) {
          bl = l; br = r; bn = c
        }
      }
      merges += ((step, bl, br, bn))
      val ids = where.getOrElse((bl, br), mutable.Set.empty).toArray
      java.util.Arrays.sort(ids)
      var k = 0
      while (k < ids.length) {
        val id = ids(k)
        val s = syms(id)
        // adjacency pre-check: stale index entries (word rewritten since)
        // must not pay the subtract/re-add cycle
        var has = false; var j = 0
        while (!has && j < s.length - 1) {
          if (s(j) == bl && s(j + 1) == br) has = true
          j += 1
        }
        if (has) {
          addPairs(id, -1L)
          // greedy left-to-right fold — EXACTLY the reference semantics:
          // merge when the accumulated tail is the raw l and the next
          // symbol is r ("aaa" under (a,a) → [aa, a], not [a, aa])
          val acc = new mutable.ArrayBuffer[String](s.length)
          s.foreach { x =>
            if (acc.nonEmpty && acc.last == bl && x == br)
              acc(acc.length - 1) = bl + br
            else acc += x
          }
          syms(id) = acc
          addPairs(id, 1L)
        }
        k += 1
      }
      // the fold leaves no (l, r) adjacency behind (l+r ≠ l since r is
      // non-empty), so the pair's count is provably 0 now — but a LATER
      // merge can recreate it, so only the index entry is dropped
      where.remove((bl, br))
      step += 1
    }
    BpeModel(merges.toSeq,
      words.indices.map(i => (words(i)._1, syms(i).length)))
  }

  /** Apply the learned BPE merges — the tokenizer's ENCODE side, closing
    * the train→apply pair: per document, the subword count and the
    * chars-per-token compression the tokenizer achieves. The Spark shape
    * is the dictionary-encode idiom, now with the dictionary FREE: the
    * trainer's end-state symbol arrays are the fully merged encoding of
    * every vocab word, so the word→subword-count table ships straight
    * out of the cached model as a broadcast (vocab-sized — the same
    * Heaps-law bound the trainer's collect rides) and the per-word
    * costs join back onto the corpus through the token explode. The
    * 100 TB corpus never re-tokenizes a word twice, and no re-encode
    * pass runs at ANY merge count (the previous shape folded one array
    * lambda per merge — an expression tree linear in merges, untenable
    * at the 1000-merge default). A production encoder meeting words
    * outside the training vocab would mapPartitions-encode the misses;
    * here train and apply share one corpus, so the dictionary is total.
    * Deterministic end to end; no_oracle (consumes the iterative
    * model), BpeSpec applies the reference merges in-process and pins
    * per-doc equality at the full merge count. */
  val llmBpeApply: QFn = (spark, sfDir) => {
    import spark.implicits._
    val model = bpeModel(spark, sfDir)
    val wordCost = model.wordCost
      // code-point count, matching SQL length() — w.length would count
      // UTF-16 units and over-count supplementary-plane characters
      .map { case (w, nSub) => (w, nSub, w.codePointCount(0, w.length)) }
      .toDF("w", "n_sub", "n_chars_w")
    val docs = Tables(spark, sfDir, "documents")
    docs.select(col("doc_id"), explode(tokens).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(wordCost), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).cast("long").as("n_bpe_tokens"),
        round(sum(col("n_chars_w")).cast("double") / sum(col("n_sub")), 4)
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: char-8-gram rolling shingle hashes; the
    * min-hash is the doc signature (winnowing-style). xxhash64 has no
    * DuckDB twin → verified by FingerprintSpec instead of the oracle.
    * Rides the native ngram_hashes (round 11): array_min is invariant to
    * the built-in dedup and n_shingles IS the distinct count, so the
    * outputs are unchanged while the per-shingle lambda chain goes. */
  val llmFingerprint: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "documents")
      .withColumn("hs", expr("ngram_hashes(text, 8)"))
      .select(col("doc_id"),
        expr("array_min(hs)").as("fp_min"),
        expr("size(hs)").as("n_shingles"))
      .orderBy("doc_id")

  /** Repetition filter (Gopher-style repetitious-text signal): fraction of
    * duplicated whitespace tokens per document — 1 - distinct/total — plus
    * the keep/drop flag a quality pipeline would gate on. Stateless per-row
    * arithmetic over the token array: no shuffle, fully codegen'd, linear
    * at any corpus size. */
  val llmRepetitionFilter: QFn = (spark, sfDir) => {
    val nTok = size(tokens)
    val nDistinct = size(array_distinct(tokens))
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        nTok.as("n_tokens"),
        nDistinct.as("n_distinct"),
        when(nTok === 0, 0.0)
          .otherwise(round(lit(1.0) - nDistinct.cast("double") / nTok.cast("double"), 4))
          .as("dup_frac"))
      .withColumn("keep", col("dup_frac") <= 0.2)
      .orderBy("doc_id")
  }

  /** Corpus vocabulary: top-50 tokens by document frequency — the
    * distributed wordcount shape (explode → two-level agg). Partial
    * aggregation happens map-side, so the shuffle carries one row per
    * (partition, token), not per occurrence — the property that keeps this
    * linear at 100 TB. */
  val llmVocabTopk: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(array_distinct(tokens)).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(50)

  /** PII scrubbing — email/phone redaction, the safety pass every training
    * corpus runs. The testdata has no PII, so deterministic addresses are
    * injected first and the scrubber must remove exactly those; output
    * counts prove nothing else was touched. Same regex subset is valid in
    * Java (Spark) and RE2-ish (DuckDB) dialects. */
  val llmPiiScrub: QFn = (spark, sfDir) => {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phoneRe = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val dirty = concat(col("text"),
      lit(" contact: user"), col("doc_id"), lit("@example.com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-0199"))
    val clean = regexp_replace(regexp_replace(dirty, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        regexp_count(clean, lit("<EMAIL>")).as("n_emails"),
        regexp_count(clean, lit("<PHONE>")).as("n_phones"),
        (length(dirty) - length(clean)).as("chars_removed"),
        substring(clean, -40, 40).as("tail"))
      .orderBy("doc_id")
  }

  /** Sequence packing — the pretraining batch-prep step: documents are
    * concatenated in deterministic order and split into fixed token-budget
    * sequences (the GPT-style "concat then chunk at context length").
    * Output per doc: the bin it starts in and its token offset inside that
    * bin. Packing runs independently per shard (doc_id mod 32), so the
    * cumulative-sum window shuffles ONCE on the shard key and no row
    * crosses a single-partition exchange — the same discipline as the
    * decile rewrite (a global `ORDER BY doc_id` window would serialize the
    * corpus through one task). At 100 TB: shards = O(cluster cores); a bin
    * never spans shards, which is exactly how production packers
    * parallelize (per-worker token streams). */
  val llmPackSequences: QFn = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val budget = 2048
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), pmod(col("doc_id"), lit(32)).cast("int").as("shard"),
        size(tokens).as("n_tokens"))
      .withColumn("end_tok", sum(col("n_tokens").cast("long")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor((col("end_tok") - col("n_tokens")) / lit(budget)).cast("int").as("bin"),
        ((col("end_tok") - col("n_tokens")) % budget).cast("int").as("bin_offset"))
      .orderBy("doc_id")
  }

  /** Overlapping token-window chunking — the context-window prep step
    * between cleaning and packing: each document becomes ceil(n/stride)
    * chunks of up to `ChunkLen` tokens starting every `Stride` tokens
    * (overlap = ChunkLen - Stride), the shape RAG indexes and
    * fixed-context pretraining both consume. Pure per-row explode —
    * no shuffle, no state; output volume is bounded by
    * n_tokens/Stride per doc, so the pass stays linear at 100 TB. */
  val ChunkLen = 64
  val ChunkStride = 48

  val llmChunkDocuments: QFn = (spark, sfDir) => {
    val starts = sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(ChunkStride))
    val chunk = slice(col("toks"), col("start_tok") + 1, lit(ChunkLen))
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), tokens.as("toks"))
      .select(col("doc_id"), col("toks"), explode(starts).as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / ChunkStride).cast("int").as("chunk_idx"),
        col("start_tok").cast("int"),
        size(chunk).as("n_chunk_tokens"),
        element_at(chunk, 1).as("first_tok"),
        element_at(chunk, -1).as("last_tok"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Per-document top-3 TF-IDF terms. tf = in-doc term count (wordcount
    * shape: map-side partial agg, shuffle carries one row per distinct
    * (doc, token)); df = a count window over the SAME tf frame partitioned
    * by token — one extra shuffle of the small tf frame instead of the
    * second corpus scan + explode that a groupBy+join spelling costs
    * (Catalyst does not dedupe the shared subplan across a self-join);
    * N arrives via a broadcast single-row cross join (a count-only parquet
    * scan — row-group metadata, no column IO).
    * Ranking uses the rational score tf*(N+1)/(df+1): rare-in-corpus,
    * frequent-in-doc terms first — like log tf-idf it is monotone in both
    * tf and idf (though not the identical order), and unlike the log it
    * is bit-reproducible across engines (+,*,/ are IEEE-exact on these
    * small integers; libm's ln is not correctly-rounded, so two engines
    * could rank differently on near-ties). The reported tfidf column is
    * the classic smoothed-log value rounded to 4dp. */
  val llmTfidfTopterms: QFn = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sfDir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(tokens).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val rscore = col("tf") * (col("n_docs") + 1.0) / (col("df") + 1.0)
    val w = Window.partitionBy("doc_id")
      .orderBy(rscore.desc, col("token").asc)
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
      .crossJoin(broadcast(n))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("token"),
        col("tf").cast("int").as("tf"), col("df").cast("int").as("df"),
        round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 4)
          .as("tfidf"),
        col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** Corpus bigram counts, top-40 by occurrence — the n-gram LM counting
    * workload (its 100 TB form is "count every n-gram in the crawl", the
    * canonical wordcount-at-scale job). Same two-level agg discipline as
    * vocab_topk: the explode multiplies rows ~token-count×, but map-side
    * partial aggregation collapses them before the shuffle, which carries
    * one row per (partition, distinct bigram). Single-token docs are
    * filtered BEFORE the transform — Spark's sequence(1, 0) yields a
    * DESCENDING [1, 0], not an empty array, so the guard is load-bearing. */
  val llmBigramCounts: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "documents")
      .select(tokens.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(40)

  /** Deterministic corpus shuffle — the "randomize training order" step
    * every pretraining run needs, spelled the way it distributes: a Lehmer
    * mix h = doc_id·48271 mod (2^31−1) gives each doc a pseudo-random sort
    * key, docs hash into 64 shards, and order is (shard, h) — i.e.
    * repartition + sortWithinPartitions, never a global ORDER BY h (a
    * 100 TB permutation must not funnel through one range sort; readers
    * consume shards in any order, each internally shuffled). pos is the
    * within-shard position, the same shard-keyed window as pack_sequences.
    * Reproducible across runs/retries by construction (no rand()). The
    * multiply stays exact below doc_id ≈ 2^32; beyond that swap in
    * xxhash64 (same plan, hash-only oracle). */
  val llmShuffleShards: QFn = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        pmod(col("doc_id") * 48271L, lit(2147483647L)).as("h"))
      .withColumn("shard", pmod(col("h"), lit(64)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .orderBy("doc_id")
  }

  /** Fused quality-filter pipeline — the C4-style cleaning decision as ONE
    * codegen'd scan: the quality score (length + stopword signals), the
    * Gopher repetition fraction, and the keep gate computed together, so
    * the corpus is read once instead of once per signal. Running the
    * signal ops separately and joining their verdicts costs three scans
    * and two shuffles for the same decision — at 100 TB the fusion IS the
    * operator. Gates compare the 4dp-ROUNDED signals (the same values the
    * standalone ops emit), so the three engines' verdicts are identical by
    * construction. */
  val llmQualityFilter: QFn = (spark, sfDir) => {
    val nTok = size(tokens)
    val nDistinct = size(array_distinct(tokens))
    val quality = round(lit(0.5) * least(lit(1.0), nTok.cast("double") / 100.0) +
      lit(0.5) * (markerHits(markerWords.head._2).cast("double") / 6.0), 4)
    val dupFrac = when(nTok === 0, 0.0)
      .otherwise(round(lit(1.0) - nDistinct.cast("double") / nTok.cast("double"), 4))
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), quality.as("quality"), dupFrac.as("dup_frac"))
      // thresholds calibrated on the corpus (round 6): the old
      // quality>=0.3 && dup<=0.2 gate kept 0 of 500 docs — a filter that
      // drops everything is miscalibrated, not strict. 0.2/0.55 keeps the
      // best ~32% (sf0.01), giving downstream pipeline stages a real
      // survivor set to work on
      .withColumn("keep", col("quality") >= 0.2 && col("dup_frac") <= 0.55)
      .orderBy("doc_id")
  }

  /** Document-length histogram per language — the corpus-profiling pass
    * run before setting chunking/packing budgets: fixed 500-char buckets,
    * top bucket open-ended (least(…, 19)). One map-side-combinable hash
    * aggregate whose shuffle carries ≤ lang × 20 rows regardless of corpus
    * size — the cheapest possible 100 TB profile. Bucket arithmetic is
    * integer-exact so both engines bin identically (no float-edge
    * ambiguity like a quantile-based histogram would have). */
  val llmLengthHistogram: QFn = (spark, sfDir) => {
    val width = 500
    Tables(spark, sfDir, "documents")
      .select(col("lang"),
        least(floor(col("n_chars") / width), lit(19)).cast("int").as("bucket"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("bucket"), (col("bucket") * width).as("lo_chars"),
        col("n_docs"))
      .orderBy("lang", "bucket")
  }

  /** Unigram-LM document scoring — the CCNet/Gopher-style "perplexity
    * filter" reduced to its engine shape: build the corpus unigram model
    * (token → count), score every document by its mean negative log
    * probability, and the pipeline drops the high-NLL tail as
    * boilerplate/gibberish. Plan: one explode + hash aggregate for the
    * model (map-side combine — the shuffle carries distinct tokens, not
    * occurrences), corpus total as a broadcast scalar, then ONE shuffle
    * joining occurrences to the model on token. At 100 TB the vocab is
    * Zipf-skewed, so the production variant broadcasts the head of the
    * vocabulary and shuffle-joins only the tail — same outputs, same model.
    *
    * Determinism: each token's NLL is quantized to integer micro-nats
    * (floor(ln(total/cnt)·1e6 + 0.5), i.e. round-half-up) BEFORE summation,
    * so the per-doc sum is exact integer arithmetic — immune to float
    * summation order — and the single final division is deterministic. The
    * half-offset keeps the grid boundary away from representable ln values:
    * Spark (Java Math.log) and DuckDB (libm) may differ by 1 ulp, and with
    * a plain floor that ulp can flip the quantized micro-nat exactly when
    * ln(x)·1e6 sits on an integer; ln of a rational ratio is irrational
    * except at ratio 1 (ln = 0, where both engines agree exactly), so no
    * true value sits on the shifted boundary and a 1-ulp divergence can
    * never cross it. */
  val llmUnigramLogprob: QFn = (spark, sfDir) => {
    val occ = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens).as("token"))
    val model = unigramModel(spark, sfDir)
    val total = model.agg(sum(col("cnt")).as("total_tokens"))
    val nll = model.crossJoin(broadcast(total))
      .select(col("token"),
        floor(log(col("total_tokens").cast("double") / col("cnt")) * 1e6 + 0.5)
          .cast("long").as("nll_q"))
    occ.join(nll, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll_q")).as("nll_micro"))
      .select(col("doc_id"), col("n_tokens"), col("nll_micro"),
        round(col("nll_micro").cast("double") / col("n_tokens") / 1e6, 4)
          .as("avg_nll"))
      .orderBy("doc_id")
  }

  /** Bigram positions of a tokenized doc as (prev, cur) structs — the
    * zip-of-shifted-slices spelling (codegen'd HOFs, no posexplode of the
    * whole corpus twice). slice lengths are size-1 ≥ 0, so 1-token docs
    * yield an empty pair array and explode drops them (the unigram start
    * term still scores the doc). */
  private val bigramPairs: Column = expr(
    "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1), " +
      "(p, c) -> struct(p AS prev, c AS cur))")

  /** Persisted bigram model ((prev, cur) → count), one per (session,
    * sfDir) — companion to [[unigramModel]]: one explode + hash aggregate,
    * map-side combine, shuffle carries distinct pairs only. */
  private[graft] def bigramModel(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    memo(spark, sfDir, "bigramModel") {
      memo.persist(Tables(spark, sfDir, "documents")
        .withColumn("toks", tokens)
        .select(explode(bigramPairs).as("pair"))
        .select(col("pair.prev").as("prev"), col("pair.cur").as("cur"))
        .groupBy("prev", "cur").agg(count(lit(1)).as("cnt_bi")))
    }

  /** Bigram-LM perplexity scoring — the full CCNet shape that
    * [[llmUnigramLogprob]] reduces: every position i ≥ 1 is scored by the
    * Jelinek-Mercer interpolated conditional
    * P(cur|prev) = 0.7·cnt(prev,cur)/cnt(prev) + 0.3·cnt(cur)/total
    * (the unigram interpolation term is what gives unseen continuations
    * mass when the model is trained on a different corpus than it scores),
    * and position 0 by the unigram start term ln(total/cnt). Two model
    * passes (unigram + bigram, both map-side-combined and persisted), then
    * ONE shuffle joining occurrences to the pair-NLL table on (prev, cur).
    * At 100 TB both models are Zipf-skewed: broadcast the head, shuffle
    * the tail — same outputs.
    *
    * Determinism: identical to llmUnigramLogprob — every position's NLL is
    * quantized to micro-nats with the half-offset grid
    * (floor(−ln(P)·1e6 + 0.5)) before the exact integer per-doc sum; the
    * interpolation arithmetic is spelled with the same literal op order on
    * both sides (CAST-to-double divisions, 0.7/0.3 double literals), so
    * the doubles entering ln are bit-identical and a 1-ulp ln divergence
    * cannot cross the shifted boundary. */
  val llmPerplexityScore: QFn = (spark, sfDir) =>
    perplexityScored(spark, sfDir)
      .select("doc_id", "n_scored", "nll_micro", "avg_nll")
      .orderBy("doc_id")

  /** Per-doc interpolated-bigram NLL scores, persisted once per corpus —
    * the verifiedPairs policy applied to the scoring pipeline: both
    * consumers (llm_perplexity_score emits it, llm_perplexity_buckets
    * cuts terciles over it) previously re-derived the whole occurrence
    * join per REFERENCE — the buckets op touched it twice per call (cut
    * aggregate + bucket join), the round-11 bench's wandering
    * perplexity_buckets row. */
  private[graft] def perplexityScored(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    memo(spark, sfDir, "perplexityScored") {
    val docs = Tables(spark, sfDir, "documents").withColumn("toks", tokens)
    val uni = unigramModel(spark, sfDir)
    val total = uni.agg(sum(col("cnt")).as("total_tokens"))
    val pairNll = bigramModel(spark, sfDir)
      .join(uni.select(col("token").as("prev"), col("cnt").as("cnt_prev")), "prev")
      .join(uni.select(col("token").as("cur"), col("cnt").as("cnt_cur")), "cur")
      .crossJoin(broadcast(total))
      .select(col("prev"), col("cur"),
        floor(-log(
          lit(0.7) * (col("cnt_bi").cast("double") / col("cnt_prev")) +
            lit(0.3) * (col("cnt_cur").cast("double") / col("total_tokens")))
          * 1e6 + 0.5).cast("long").as("nll_q"))
    val occ = docs.select(col("doc_id"), explode(bigramPairs).as("pair"))
      .select(col("doc_id"), col("pair.prev").as("prev"), col("pair.cur").as("cur"))
    val body = occ.join(pairNll, Seq("prev", "cur"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum(col("nll_q")).as("pair_micro"))
    val firstNll = docs
      .select(col("doc_id"), element_at(col("toks"), 1).as("token"))
      .join(uni, "token").crossJoin(broadcast(total))
      .select(col("doc_id"),
        floor(log(col("total_tokens").cast("double") / col("cnt")) * 1e6 + 0.5)
          .cast("long").as("first_q"))
    memo.persist(firstNll.join(body, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("n_pairs"), lit(0L)) + 1L).as("n_scored"),
        (coalesce(col("pair_micro"), lit(0L)) + col("first_q")).as("nll_micro"))
      .withColumn("avg_nll",
        round(col("nll_micro").cast("double") / col("n_scored") / 1e6, 4)))
  }

  /** CCNet-style head/middle/tail corpus split by LM perplexity — the
    * standard pretraining-data quality partition: documents bucket by
    * their interpolated-bigram avg NLL at the exact tercile cuts. The
    * cuts are computed as a 1-row aggregate and BROADCAST back onto the
    * scored frame (the filter_last_3_months in-plan-bounds pattern) —
    * never a global ntile window, which would funnel every document
    * through one partition at 100 TB. Exact `percentile` here so the
    * DuckDB quantile_cont oracle agrees bit-for-bit; at scale swap for
    * approx_percentile and the shape is unchanged. Bucket means use the
    * decimal-sum / double-divide spelling so the 3-row aggregate is
    * partition-order-independent. */
  val llmPerplexityBuckets: QFn = (spark, sfDir) => {
    // Cut on the INTEGER micro-NLL-per-token, not the rounded double:
    // interpolated quantiles differ between engines by ~1 ulp (Spark's
    // a+(b−a)f vs DuckDB's a(1−f)+bf), and on 4-decimal doubles dense
    // with ties a 1-ulp cut difference moves whole tie-groups across the
    // boundary (measured: ±2 docs per bucket). On integer micro-units the
    // data points sit ≥1 apart, so a 1e-9 cut difference can never change
    // membership — the comparison is engine-exact while the cut itself
    // stays an ordinary percentile.
    val scored = perplexityScored(spark, sfDir)
      .select(col("doc_id"), col("avg_nll"),
        expr("nll_micro * 1000 div n_scored").as("micro_tok"))
    val cuts = scored.agg(
      expr("percentile(micro_tok, array(0.33333333, 0.66666667))").as("cs"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("avg_nll"),
        when(col("micro_tok") <= expr("cs[0]"), "head")
          .when(col("micro_tok") <= expr("cs[1]"), "middle")
          .otherwise("tail").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("avg_nll").cast("decimal(18,4)")).cast("double") /
          count(lit(1)), 4).as("mean_nll"),
        round(min(col("avg_nll")), 4).as("min_nll"),
        round(max(col("avg_nll")), 4).as("max_nll"))
      .orderBy("bucket")
  }

  /** Per-doc token entropy — the lexical-diversity signal of the Gopher
    * repetition family: H = ln(n) − (1/n)·Σ c_t·ln(c_t) over the doc's
    * own token counts. Degenerate docs (one token repeated, template
    * spam) score near 0; diverse prose approaches ln(n_distinct). Pure
    * per-doc arithmetic — a (doc, token) aggregate then a per-doc
    * aggregate, both map-side-combinable; no model join, no corpus-wide
    * state, linear at any corpus size.
    *
    * Determinism: the same micro-nat discipline as the perplexity ops —
    * each ln is quantized with the half-offset grid floor(ln·1e6 + 0.5)
    * and everything after is exact integer arithmetic: ent_scaled =
    * n·q(ln n) − Σ c_t·q(ln c_t), so summation order cannot matter and a
    * 1-ulp ln divergence between engines cannot flip any term (ln of an
    * integer ≥ 2 is irrational; ln 1 = 0 exactly on both engines —
    * DeterminismSpec walks every corpus-real c and n through ±1 ulp). */
  val llmTokenEntropy: QFn = (spark, sfDir) => {
    def q(x: org.apache.spark.sql.Column) =
      floor(log(x.cast("double")) * 1e6 + 0.5).cast("long")
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * q(col("c"))).as("s_micro"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_tokens") * q(col("n_tokens")) - col("s_micro"))
          .as("ent_scaled"),
        round((col("n_tokens") * q(col("n_tokens")) - col("s_micro"))
          .cast("double") / col("n_tokens") / 1e6, 4).as("entropy"))
      .orderBy("doc_id")
  }

  /** Canonical text normalization — the stage every corpus passes BEFORE
    * dedup/fingerprinting (visually identical strings must byte-match or
    * composed-vs-decomposed "café" counts as two documents and every
    * hash-based stage downstream silently under-dedups): Unicode NFC (the
    * native [[graft.functions.NfcNormalize]] expression — zero-allocation
    * pass-through on already-NFC text), lowercase, control chars
    * ([\x00-\x1f\x7f]) → space, space runs collapsed, ends trimmed.
    * Stateless per-row — no shuffle, linear at any corpus size, and the
    * whole chain is one projection over the scan. Full DuckDB oracle:
    * both engines implement Unicode TR#15 NFC and RE2/Java agree on the
    * explicit byte-class patterns (no \s dialect drift). */
  /** The canonical normalization chain, shared verbatim by
    * [[llmTextNormalize]] (which emits it) and DedupOps'
    * llm_dedup_exact_normalized (which keys on it) — one definition so
    * the dedup key cannot drift from the normalize operator. */
  private[graft] def normalizedText: Column =
    trim(regexp_replace(regexp_replace(
      lower(expr("nfc_normalize(text)")),
      "[\\x00-\\x1f\\x7f]", " "), " +", " "))

  val llmTextNormalize: QFn = (spark, sfDir) => {
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), normalizedText.as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        length(col("norm_text")).cast("long").as("n_chars_norm"))
      .orderBy("doc_id")
  }

  /** Curriculum ordering — easy→hard training order by document length
    * terciles (the classic curriculum-learning schedule: short documents
    * first, the length cutoffs learned from the corpus itself). The
    * cutoffs are a 1-row exact-percentile aggregate broadcast onto the
    * scan (the filter_last_3_months anchor pattern — no driver collect,
    * no hardcoded lengths that rot as the corpus drifts), bucketing is
    * stateless per-row arithmetic, and the curriculum IS the global sort
    * by (bucket, n_tokens, doc_id) — a range-exchange sort, the same
    * scale class as sort_global_export (and at 100 TB the writer
    * consumes it as sorted shards, not a single file). Exact interpolated
    * percentile pairs with DuckDB quantile_cont — full oracle; at 100 TB
    * swap the cutoff aggregate for percentile_approx (the
    * agg_percentile_price precedent — exact percentile buffers its
    * partition's values, the sketch is constant-state) and the oracle
    * drops to rows-only, nothing else changes. */
  val llmCurriculumOrder: QFn = (spark, sfDir) => {
    val d = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), size(tokens).cast("long").as("n_tokens"))
    val cuts = d.agg(
      expr("percentile(n_tokens, 1.0/3)").as("c1"),
      expr("percentile(n_tokens, 2.0/3)").as("c2"))
    d.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") <= col("c1"), 0)
          .when(col("n_tokens") <= col("c2"), 1)
          .otherwise(2).as("bucket"))
      .orderBy("bucket", "n_tokens", "doc_id")
  }

  /** Dataset card — the per-language fact sheet shipped next to every
    * released corpus (docs, token/char volume, source diversity, length
    * spread), with the ALL grand-total row from the same single pass
    * (`rollup`, one multi-grouping hash aggregate — no second scan, no
    * union of a separate total query). Everything the card states is a
    * sum/count/min/max — exact at any scale, map-side combinable, output
    * bounded by the language count. Full DuckDB oracle via ROLLUP. */
  val llmDatasetCard: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "documents")
      .select(col("lang"), col("source"), col("n_chars"),
        size(tokens).cast("long").as("n_tokens"))
      .rollup(col("lang"))
      // grouping() distinguishes the rollup grand-total row from a DATA
      // group whose lang is NULL (round-13 review: coalesce alone would
      // emit two indistinguishable 'ALL' rows on such a corpus, with
      // engine-dependent ordering); the fixtures have no NULL langs, so
      // the oracle output is unchanged — the guard is for real corpora.
      // grouping() is only legal INSIDE the aggregate list, so the flag
      // is computed here and consumed by the projection below.
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("source")).as("n_sources"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        grouping(col("lang")).cast("int").as("gflag"))
      .select(
        when(col("gflag") === 1, lit("ALL"))
          .otherwise(coalesce(col("lang"), lit("(null)"))).as("lang"),
        col("n_docs"), col("total_tokens"), col("total_chars"),
        col("n_sources"), col("min_tokens"), col("max_tokens"))
      .orderBy("lang")

  /** Contrastive training pairs over document chunks — the dataset an
    * embedding model trains on: anchor chunk, its POSITIVE (the next
    * chunk of the same document — adjacent text shares meaning), and an
    * IN-BATCH NEGATIVE (the standard contrastive idiom: a chunk from a
    * different document in the same deterministic shard, not a global
    * random draw — global sampling needs corpus-wide coordination; batch
    * negatives need none and are what real training loops use anyway).
    * Two windows: positives ride a doc-bounded lead; negatives a
    * shard-partitioned lead ordered (chunk_idx, doc_id), so the next row
    * is almost always another document's chunk (same-doc collisions at
    * shard boundaries are filtered). Deterministic end to end — shard is
    * pmod(doc_id), both leads replay in DuckDB verbatim — full oracle.
    * Shards bound the negative-window sort; at 100 TB the shard count
    * scales with the corpus exactly as llm_shuffle_shards documents. */
  val llmContrastivePairs: QFn = (spark, sfDir) => {
    val c = llmChunkDocuments(spark, sfDir)
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("chunk_idx")
    val wShard = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("chunk_idx", "doc_id")
    c.withColumn("pos_chunk_idx", lead(col("chunk_idx"), 1).over(wDoc))
      .withColumn("shard", pmod(col("doc_id"), lit(32)).cast("int"))
      .withColumn("neg_doc_id", lead(col("doc_id"), 1).over(wShard))
      .withColumn("neg_chunk_idx", lead(col("chunk_idx"), 1).over(wShard))
      .filter(col("pos_chunk_idx").isNotNull &&
        col("neg_doc_id").isNotNull && col("neg_doc_id") =!= col("doc_id"))
      .select("doc_id", "chunk_idx", "pos_chunk_idx",
        "neg_doc_id", "neg_chunk_idx")
      .orderBy("doc_id", "chunk_idx")
  }

  /** Masked-LM corruption plan — the other self-supervised objective
    * next to [[llmContrastivePairs]]: which token positions get masked,
    * decided DETERMINISTICALLY (every 7th position, offset 3 — a fixed
    * grid, so the plan is reproducible across retries and both engines;
    * production pipelines seed per-epoch, which is this grid with a
    * different offset). Per doc: token count, masked count, and the
    * first masked position — the numbers a data loader needs to size
    * label tensors (null position = document too short to mask). Stateless
    * per-row HOF arithmetic over the token array: no shuffle, fully
    * linear, full DuckDB oracle. */
  val llmMaskSpans: QFn = (spark, sfDir) => {
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), tokens.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        expr("filter(sequence(1, size(toks)), i -> (i - 1) % 7 = 3)").as("pos"))
      .withColumn("n_masked", size(col("pos")).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("n_masked"),
        element_at(col("pos"), 1).as("first_masked_pos"))
      .orderBy("doc_id")
  }

  // -----------------------------------------------------------------------
  // Weak-form oracles (round 15) — verification frames Verify dumps in
  // place of the raw outputs (Bench still times the production plans).
  // -----------------------------------------------------------------------

  /** Fingerprint verification frame: the distinct-shingle count is
    * hash-independent (distinct-of-hashes = distinct-of-8-grams, the
    * llm_decontaminate collision argument), so `n_shingles` hash-matches
    * DuckDB verbatim — the stronger half of the op's output; the min-hash
    * itself is pinned by `dup_consistent` (identical raw text ⇒ identical
    * shingle set ⇒ identical fp_min, checked per raw-text group). */
  private val fingerprintVerifyFrame: QFn = (spark, sfDir) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("text")
    llmFingerprint(spark, sfDir)
      .join(Tables(spark, sfDir, "documents").select("doc_id", "text"),
        Seq("doc_id"))
      .withColumn("gmin", min(col("fp_min")).over(w))
      .withColumn("gmax", max(col("fp_min")).over(w))
      .select(col("doc_id"), col("n_shingles"),
        (col("gmin") === col("gmax")).as("dup_consistent"))
      .orderBy("doc_id")
  }

  /** BPE-train verification frame: the FIRST merge is fully
    * DuckDB-replayable (argmax adjacent-character pair over the weighted
    * distinct-word table, ties to the lexicographically smallest — the
    * trainer's own rule before any engine-specific state exists), and the
    * remaining iterative sequence is pinned by structure: consecutive
    * 1..n steps, strictly positive exact counts, and a merge count inside
    * [1, min(configured, Σ(len(w)−1))] — each merge removes ≥1 symbol
    * from some distinct word, so the corpus cannot sustain more. */
  private val bpeTrainVerifyFrame: QFn = (spark, sfDir) => {
    val m = llmBpeTrain(spark, sfDir)
    val firstM = m.filter(col("step") === 1)
      .select(col("merge_left"), col("merge_right"), col("pair_count"))
    val stats = m.agg(count(lit(1)).as("n"), min(col("step")).as("min_s"),
      max(col("step")).as("max_s"), countDistinct(col("step")).as("nd_s"),
      min(col("pair_count")).as("min_c"))
    // trainer bound over the PRUNED vocab — the same minCount gate
    // boundedVocab applies (review r15: the unpruned sum over-counts the
    // merge budget when SPARK_GRAFT_BPE_MINCOUNT > 1)
    val sumLen = Tables(spark, sfDir, "documents")
      .select(explode(tokens).as("w")).filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= bpeMinCount)
      .agg(sum(length(col("w")) - 1).cast("long").as("sum_len"))
    firstM.crossJoin(broadcast(stats)).crossJoin(broadcast(sumLen))
      .select(col("merge_left"), col("merge_right"), col("pair_count"),
        (col("min_s") === 1 && col("max_s") === col("n") &&
          col("nd_s") === col("n")).as("steps_ok"),
        (col("min_c") >= 1).as("counts_ok"),
        (col("n") >= 1 &&
          col("n") <= least(lit(bpeNumMerges.toLong), col("sum_len")))
          .as("merges_bounded"))
  }

  /** BPE-apply verification frame: per-doc word count hash-matches DuckDB
    * (the tokenizer split is hash-free), and the subword count is pinned
    * by its structural envelope — ≥ words (merging never splits) and
    * ≤ total word characters (splitting never exceeds one symbol per code
    * point). `fully_merged_ok` pins the train→apply contract CONDITIONED
    * on exhaustion (review r15 — an unconditional pin false-reds under a
    * small SPARK_GRAFT_BPE_MERGES override): when training stops BEFORE
    * the configured merge count, the pair heap ran dry, every vocab word
    * is one symbol, and n_bpe_tokens must equal n_words exactly (the
    * fixture case: 31-word vocab exhausts at ~89 < 1000); when the merge
    * budget is the binding constraint the implication doesn't hold and
    * the boolean is vacuously true. */
  private val bpeApplyVerifyFrame: QFn = (spark, sfDir) => {
    val exhausted = bpeMerges(spark, sfDir).length < bpeNumMerges
    val chars = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id")
      .agg(sum(length(col("w"))).cast("long").as("n_chars"))
    llmBpeApply(spark, sfDir).join(chars, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        (col("n_bpe_tokens") >= col("n_words")).as("tokens_ge_words"),
        (col("n_bpe_tokens") <= col("n_chars")).as("tokens_le_chars"),
        (if (exhausted) col("n_bpe_tokens") === col("n_words")
         else lit(true)).as("fully_merged_ok"))
      .orderBy("doc_id")
  }

  val verifyQueries: Map[String, QFn] = Map(
    "llm_fingerprint" -> fingerprintVerifyFrame,
    "llm_bpe_train" -> bpeTrainVerifyFrame,
    "llm_bpe_apply" -> bpeApplyVerifyFrame)

  val queries: Map[String, QFn] = Map(
    "llm_mask_spans" -> llmMaskSpans,
    "llm_contrastive_pairs" -> llmContrastivePairs,
    "llm_curriculum_order" -> llmCurriculumOrder,
    "llm_dataset_card" -> llmDatasetCard,
    "llm_text_normalize" -> llmTextNormalize,
    "llm_token_entropy" -> llmTokenEntropy,
    "llm_unigram_logprob" -> llmUnigramLogprob,
    "llm_perplexity_buckets" -> llmPerplexityBuckets,
    "llm_perplexity_score" -> llmPerplexityScore,
    "llm_quality_filter" -> llmQualityFilter,
    "llm_length_histogram" -> llmLengthHistogram,
    "llm_bigram_counts" -> llmBigramCounts,
    "llm_shuffle_shards" -> llmShuffleShards,
    "llm_export_shards" -> llmExportShards,
    "llm_chunk_documents" -> llmChunkDocuments,
    "llm_tfidf_topterms" -> llmTfidfTopterms,
    "llm_pack_sequences" -> llmPackSequences,
    "llm_pii_scrub" -> llmPiiScrub,
    "llm_repetition_filter" -> llmRepetitionFilter,
    "llm_vocab_topk" -> llmVocabTopk,
    "llm_text_stats" -> llmTextStats,
    "llm_token_count" -> llmTokenCount,
    "llm_quality_score" -> llmQualityScore,
    "llm_lang_id" -> llmLangId,
    "llm_fingerprint" -> llmFingerprint,
    "llm_bpe_train" -> llmBpeTrain,
    "llm_bpe_apply" -> llmBpeApply,
  )

  // shared by llm_perplexity_score and the tercile-bucket consumer
  private val perplexityOracleSql: String =
    "WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents), " +
          "idx AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i FROM t), " +
          "occ AS (SELECT doc_id, toks[CAST(i AS INT)] AS prev, toks[CAST(i AS INT)+1] AS cur FROM idx), " +
          "uni AS (SELECT token, count(*) AS cnt FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token), " +
          "tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM uni), " +
          "bi AS (SELECT prev, cur, count(*) AS cnt_bi FROM occ GROUP BY prev, cur), " +
          "pn AS (SELECT prev, cur, CAST(floor(-ln(" +
          "CAST(0.7 AS DOUBLE) * (CAST(cnt_bi AS DOUBLE) / pc.cnt) + " +
          "CAST(0.3 AS DOUBLE) * (CAST(cc.cnt AS DOUBLE) / total_tokens)" +
          ") * 1e6 + 0.5) AS BIGINT) AS nll_q " +
          "FROM bi JOIN uni pc ON bi.prev = pc.token JOIN uni cc ON bi.cur = cc.token, tot), " +
          "body AS (SELECT doc_id, count(*) AS n_pairs, CAST(sum(nll_q) AS BIGINT) AS pair_micro " +
          "FROM occ JOIN pn USING (prev, cur) GROUP BY doc_id), " +
          "fn AS (SELECT doc_id, CAST(floor(ln(CAST(total_tokens AS DOUBLE) / cnt) * 1e6 + 0.5) AS BIGINT) AS first_q " +
          "FROM (SELECT doc_id, toks[1] AS token FROM t) f JOIN uni USING (token), tot) " +
          "SELECT doc_id, CAST(coalesce(n_pairs, 0) + 1 AS BIGINT) AS n_scored, " +
          "CAST(coalesce(pair_micro, 0) + first_q AS BIGINT) AS nll_micro, " +
          "ROUND(CAST(coalesce(pair_micro, 0) + first_q AS DOUBLE) / (coalesce(n_pairs, 0) + 1) / 1e6, 4) AS avg_nll " +
          "FROM fn LEFT JOIN body USING (doc_id) ORDER BY doc_id"

  // `def`, not `val` (review r15): the bpe_train oracle interpolates the
  // SPARK_GRAFT_BPE_MINCOUNT knob, and an object-initializer val would
  // surface a malformed env var as ExceptionInInitializerError — the same
  // EnvKnobs failure mode the bpeNumMerges val→def change retired.
  def oracleSql: Map[String, String] = {
    val hitsSql = markerWords.map { case (l, ws) => l -> markerHitsSql(ws) }.toMap
    Map(
      // same micro-nat grid as the unigram oracle; all post-ln arithmetic
      // is integer so only the per-term ln quantization must agree
      "llm_token_entropy" ->
        ("WITH occ AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token " +
          "FROM documents), " +
          "pt AS (SELECT doc_id, token, count(*) AS c FROM occ GROUP BY 1, 2), " +
          "a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
          "count(*) AS n_distinct, " +
          "CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s_micro " +
          "FROM pt GROUP BY 1) " +
          "SELECT doc_id, n_tokens, n_distinct, " +
          "n_tokens * CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) - s_micro AS ent_scaled, " +
          "ROUND(CAST(n_tokens * CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) - s_micro AS DOUBLE) " +
          "/ n_tokens / 1e6, 4) AS entropy " +
          "FROM a ORDER BY doc_id"),
      "llm_unigram_logprob" ->
        ("WITH occ AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token " +
          "FROM documents), " +
          "model AS (SELECT token, count(*) AS cnt FROM occ GROUP BY token), " +
          "tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM model), " +
          "nll AS (SELECT token, CAST(floor(ln(CAST(total_tokens AS DOUBLE) / cnt) * 1e6 + 0.5) AS BIGINT) AS nll_q " +
          "FROM model, tot) " +
          "SELECT doc_id, count(*) AS n_tokens, CAST(sum(nll_q) AS BIGINT) AS nll_micro, " +
          "ROUND(CAST(sum(nll_q) AS DOUBLE) / count(*) / 1e6, 4) AS avg_nll " +
          "FROM occ JOIN nll USING (token) GROUP BY doc_id ORDER BY doc_id"),
      // Interpolation arithmetic spelled with the SAME op order as the
      // Spark plan (cast-to-double divisions, double 0.7/0.3 literals).
      "llm_perplexity_score" -> perplexityOracleSql,
      // buckets replay the scored CTE and cut at DuckDB's quantile_cont,
      // which matches Spark's exact percentile interpolation (the
      // agg_percentile_price precedent)
      "llm_perplexity_buckets" ->
        ("WITH scored AS (" + perplexityOracleSql + "), " +
          "m AS (SELECT doc_id, avg_nll, (nll_micro * 1000) // n_scored AS micro_tok FROM scored), " +
          "cuts AS (SELECT quantile_cont(micro_tok, [0.33333333, 0.66666667]) AS cs FROM m) " +
          "SELECT CASE WHEN micro_tok <= cs[1] THEN 'head' " +
          "WHEN micro_tok <= cs[2] THEN 'middle' ELSE 'tail' END AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n_docs, " +
          "ROUND(CAST(SUM(CAST(avg_nll AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS mean_nll, " +
          "ROUND(min(avg_nll), 4) AS min_nll, ROUND(max(avg_nll), 4) AS max_nll " +
          "FROM m CROSS JOIN cuts GROUP BY 1 ORDER BY 1"),
      "llm_curriculum_order" ->
        ("WITH d AS (SELECT doc_id, CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens " +
          "FROM documents), " +
          "c AS (SELECT quantile_cont(n_tokens, 1.0/3) AS c1, quantile_cont(n_tokens, 2.0/3) AS c2 FROM d) " +
          "SELECT doc_id, n_tokens, CAST(CASE WHEN n_tokens <= c1 THEN 0 " +
          "WHEN n_tokens <= c2 THEN 1 ELSE 2 END AS INT) AS bucket " +
          "FROM d, c ORDER BY bucket, n_tokens, doc_id"),
      "llm_dataset_card" ->
        ("WITH d AS (SELECT lang, source, n_chars, " +
          "CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens " +
          "FROM documents) " +
          "SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' " +
          "ELSE coalesce(lang, '(null)') END AS lang, " +
          "CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, " +
          "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
          "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, " +
          "min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens " +
          "FROM d GROUP BY ROLLUP(lang) ORDER BY lang"),
      // same chain, same explicit byte-class patterns (no \s dialect
      // drift); DuckDB regexp_replace needs the 'g' flag Spark implies
      "llm_text_normalize" ->
        ("SELECT doc_id, trim(regexp_replace(regexp_replace(" +
          "lower(nfc_normalize(text)), '[\\x00-\\x1f\\x7f]', ' ', 'g'), " +
          "' +', ' ', 'g')) AS norm_text, " +
          "CAST(length(trim(regexp_replace(regexp_replace(" +
          "lower(nfc_normalize(text)), '[\\x00-\\x1f\\x7f]', ' ', 'g'), " +
          "' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm " +
          "FROM documents ORDER BY doc_id"),
      "llm_pii_scrub" ->
        ("WITH d AS (SELECT doc_id, text || ' contact: user' || CAST(doc_id AS VARCHAR) || " +
          "'@example.com or +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' AS dirty " +
          "FROM documents), c AS (SELECT doc_id, dirty, " +
          "regexp_replace(regexp_replace(dirty, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'), " +
          "'\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean FROM d) " +
          "SELECT doc_id, CAST(len(regexp_extract_all(clean, '<EMAIL>')) AS INT) AS n_emails, " +
          "CAST(len(regexp_extract_all(clean, '<PHONE>')) AS INT) AS n_phones, " +
          "CAST(length(dirty) - length(clean) AS INT) AS chars_removed, " +
          "substr(clean, -40, 40) AS tail FROM c ORDER BY doc_id"),
      "llm_repetition_filter" ->
        ("WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks " +
          "FROM documents), m AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens, " +
          "CAST(len(list_distinct(toks)) AS INT) AS n_distinct FROM t) " +
          "SELECT doc_id, n_tokens, n_distinct, " +
          "CASE WHEN n_tokens = 0 THEN 0.0 ELSE " +
          "ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 4) END AS dup_frac, " +
          "(CASE WHEN n_tokens = 0 THEN 0.0 ELSE " +
          "ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 4) END) <= 0.2 AS keep " +
          "FROM m ORDER BY doc_id"),
      "llm_vocab_topk" ->
        ("SELECT token, count(*) AS doc_freq FROM (" +
          "SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS token " +
          "FROM documents) WHERE length(token) >= 2 " +
          "GROUP BY 1 ORDER BY doc_freq DESC, token LIMIT 50"),
      "llm_text_stats" ->
        ("SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
          "min(n_chars) AS min_chars, max(n_chars) AS max_chars, " +
          "ROUND(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars, " +
          "CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT) AS total_tokens " +
          "FROM documents GROUP BY 1 ORDER BY 1"),
      // shard via the same LCG hash the shuffle op uses; token totals via
      // the token_count spelling — the manifest must match the raw corpus
      // even though Spark computes it from the exported files
      "llm_export_shards" ->
        ("SELECT CAST((doc_id * 48271) % 2147483647 % 64 AS INT) AS shard, " +
          "count(*) AS n_docs, " +
          "CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT) AS total_tokens " +
          "FROM documents GROUP BY 1 ORDER BY 1"),
      "llm_token_count" ->
        ("SELECT doc_id, CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS INT) AS ws_tokens, " +
          "CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS bpe_tokens " +
          "FROM documents ORDER BY doc_id"),
      "llm_quality_filter" ->
        ("WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks, text " +
          "FROM documents), " +
          "s AS (SELECT doc_id, " +
          "ROUND(0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) + " +
          s"0.5 * (CAST(${hitsSql("en")} AS DOUBLE) / 6.0), 4) AS quality, " +
          "CASE WHEN len(toks) = 0 THEN 0.0 ELSE " +
          "ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) END AS dup_frac " +
          "FROM t) " +
          "SELECT doc_id, quality, dup_frac, " +
          "quality >= 0.2 AND dup_frac <= 0.55 AS keep FROM s ORDER BY doc_id"),
      "llm_quality_score" ->
        ("SELECT doc_id, n_chars, " +
          "CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS INT) AS n_tokens, " +
          "CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct, " +
          s"${hitsSql("en")} AS stop_kinds, " +
          "ROUND(0.5 * least(1.0, CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE) / 100.0) + " +
          s"0.5 * (CAST(${hitsSql("en")} AS DOUBLE) / 6.0), 4) AS quality " +
          "FROM documents ORDER BY doc_id"),
      "llm_lang_id" ->
        ("SELECT doc_id, lang, " +
          "CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh' " +
          s"WHEN ${hitsSql("en")} >= ${hitsSql("de")} AND ${hitsSql("en")} >= ${hitsSql("es")} AND ${hitsSql("en")} >= ${hitsSql("fr")} THEN 'en' " +
          s"WHEN ${hitsSql("de")} >= ${hitsSql("es")} AND ${hitsSql("de")} >= ${hitsSql("fr")} THEN 'de' " +
          s"WHEN ${hitsSql("es")} >= ${hitsSql("fr")} THEN 'es' ELSE 'fr' END AS pred_lang, " +
          s"${hitsSql("en")} AS s_en, ${hitsSql("de")} AS s_de, ${hitsSql("es")} AS s_es, ${hitsSql("fr")} AS s_fr " +
          "FROM documents ORDER BY doc_id"),
      "llm_shuffle_shards" ->
        ("WITH h AS (SELECT doc_id, (doc_id * 48271) % 2147483647 AS h FROM documents), " +
          "s AS (SELECT doc_id, h, CAST(h % 64 AS INT) AS shard FROM h) " +
          "SELECT doc_id, h, shard, CAST(row_number() OVER " +
          "(PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos " +
          "FROM s ORDER BY doc_id"),
      "llm_length_histogram" ->
        ("SELECT lang, bucket, bucket * 500 AS lo_chars, count(*) AS n_docs " +
          "FROM (SELECT lang, CAST(least(floor(n_chars / 500.0), 19) AS INT) AS bucket " +
          "FROM documents) GROUP BY lang, bucket ORDER BY lang, bucket"),
      "llm_bigram_counts" ->
        ("WITH t AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents), " +
          "b AS (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bigram " +
          "FROM t WHERE len(toks) >= 2) " +
          "SELECT bigram, count(*) AS n FROM b GROUP BY 1 ORDER BY n DESC, bigram LIMIT 40"),
      "llm_mask_spans" ->
        ("WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks " +
          "FROM documents), " +
          "m AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens, " +
          "list_filter(range(1, len(toks) + 1), i -> (i - 1) % 7 = 3) AS pos FROM t) " +
          "SELECT doc_id, n_tokens, CAST(len(pos) AS BIGINT) AS n_masked, " +
          "CAST(pos[1] AS INT) AS first_masked_pos " +
          "FROM m ORDER BY doc_id"),
      // same chunk CTE as llm_chunk_documents, then the two leads replay
      // Spark's window specs verbatim (doc-bounded positive, shard-bounded
      // negative ordered (chunk_idx, doc_id))
      "llm_contrastive_pairs" ->
        ("WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks " +
          "FROM documents), " +
          s"s AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 1, 0) + 1, $ChunkStride)) AS start_tok FROM t), " +
          s"c AS (SELECT doc_id, CAST(start_tok / $ChunkStride AS INT) AS chunk_idx FROM s), " +
          "w AS (SELECT doc_id, chunk_idx, " +
          "lead(chunk_idx) OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS pos_chunk_idx, " +
          "lead(doc_id) OVER (PARTITION BY doc_id % 32 ORDER BY chunk_idx, doc_id) AS neg_doc_id, " +
          "lead(chunk_idx) OVER (PARTITION BY doc_id % 32 ORDER BY chunk_idx, doc_id) AS neg_chunk_idx " +
          "FROM c) " +
          "SELECT doc_id, chunk_idx, pos_chunk_idx, neg_doc_id, neg_chunk_idx " +
          "FROM w WHERE pos_chunk_idx IS NOT NULL AND neg_doc_id IS NOT NULL " +
          "AND neg_doc_id <> doc_id ORDER BY doc_id, chunk_idx"),
      "llm_chunk_documents" ->
        ("WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks " +
          s"FROM documents), " +
          s"s AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 1, 0) + 1, $ChunkStride)) AS start_tok FROM t), " +
          s"c AS (SELECT doc_id, CAST(start_tok / $ChunkStride AS INT) AS chunk_idx, " +
          s"CAST(start_tok AS INT) AS start_tok, toks[start_tok + 1 : start_tok + $ChunkLen] AS chunk FROM s) " +
          "SELECT doc_id, chunk_idx, start_tok, CAST(len(chunk) AS INT) AS n_chunk_tokens, " +
          "chunk[1] AS first_tok, chunk[len(chunk)] AS last_tok " +
          "FROM c ORDER BY doc_id, chunk_idx"),
      "llm_tfidf_topterms" ->
        ("WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token " +
          "FROM documents), " +
          "f AS (SELECT doc_id, token, count(*) AS tf FROM t WHERE length(token) >= 2 GROUP BY 1, 2), " +
          "d AS (SELECT token, count(*) AS df FROM f GROUP BY 1), " +
          "n AS (SELECT count(*) AS n_docs FROM documents), " +
          "r AS (SELECT f.doc_id, f.token, f.tf, d.df, n.n_docs, " +
          "row_number() OVER (PARTITION BY f.doc_id " +
          "ORDER BY f.tf * (n.n_docs + 1.0) / (d.df + 1.0) DESC, f.token) AS rnk " +
          "FROM f JOIN d USING (token) CROSS JOIN n) " +
          "SELECT doc_id, token, CAST(tf AS INT) AS tf, CAST(df AS INT) AS df, " +
          "ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf, CAST(rnk AS INT) AS rnk " +
          "FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"),
      "llm_pack_sequences" ->
        ("WITH d AS (SELECT doc_id, CAST(doc_id % 32 AS INT) AS shard, " +
          "CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS INT) AS n_tokens " +
          "FROM documents), " +
          "s AS (SELECT *, sum(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY shard " +
          "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_tok FROM d) " +
          "SELECT doc_id, shard, n_tokens, " +
          "CAST(floor((end_tok - n_tokens) / 2048) AS INT) AS bin, " +
          "CAST((end_tok - n_tokens) % 2048 AS INT) AS bin_offset " +
          "FROM s ORDER BY doc_id"),
      // weak-form oracles (round 15): these keys' Verify dumps are the
      // verification frames above, not the raw sketch / merge outputs.
      // fingerprint: distinct-of-hashes = distinct-of-grams, so the
      // shingle count replays on raw substrings; the min-hash is pinned
      // per raw-text group (equal text ⇒ equal fp_min).
      "llm_fingerprint" ->
        ("WITH g AS (SELECT doc_id, " +
          "count(DISTINCT substr(text, CAST(i AS BIGINT), 8)) AS n_shingles " +
          "FROM documents, " +
          "unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS u(i) " +
          "GROUP BY doc_id) " +
          "SELECT doc_id, CAST(n_shingles AS INT) AS n_shingles, " +
          "TRUE AS dup_consistent FROM g ORDER BY doc_id"),
      // bpe_train: the first merge is the plain weighted argmax over
      // adjacent character pairs of the distinct-word table — replayed
      // exactly, tie-break and all, INCLUDING the minCount tail prune the
      // trainer applies (review r15: an unpruned replay diverges under
      // SPARK_GRAFT_BPE_MINCOUNT > 1); the iterative rest is structural.
      "llm_bpe_train" ->
        ("WITH w AS (SELECT w, count(*) AS cnt FROM (SELECT " +
          "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w " +
          s"FROM documents) WHERE len(w) > 0 GROUP BY w " +
          s"HAVING count(*) >= $bpeMinCount), " +
          "p AS (SELECT substr(w, CAST(i AS BIGINT), 1) AS l, " +
          "substr(w, CAST(i AS BIGINT) + 1, 1) AS r, " +
          "CAST(sum(cnt) AS BIGINT) AS c " +
          "FROM w, unnest(range(1, greatest(length(w) - 1, 0) + 1)) AS u(i) " +
          "GROUP BY 1, 2) " +
          "SELECT l AS merge_left, r AS merge_right, c AS pair_count, " +
          "TRUE AS steps_ok, TRUE AS counts_ok, TRUE AS merges_bounded " +
          "FROM p ORDER BY c DESC, l, r LIMIT 1"),
      "llm_bpe_apply" ->
        ("SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
          "CAST(sum(length(w)) AS BIGINT) AS n_chars, " +
          "TRUE AS tokens_ge_words, TRUE AS tokens_le_chars, " +
          "TRUE AS fully_merged_ok " +
          "FROM (SELECT doc_id, " +
          "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w " +
          "FROM documents) WHERE len(w) > 0 GROUP BY doc_id ORDER BY doc_id"),
    )
  }
}
