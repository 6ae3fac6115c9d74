package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QFn
import graft.tables.Tables
import graft.util.VerifyBounds

/** SURVEY.md §2.10 [north-star] — deduplication for LLM training data:
  * exact (hash group-by), MinHash+LSH banding, exact n-gram Jaccard over
  * LSH candidates, SimHash, and embedding-cosine near-dup via random
  * projection buckets.
  *
  * Scale design (100 TB): every candidate-generation step is a
  * bucket-equi-join (shuffle on band/bucket hash), never an O(n²) cross
  * join; pairwise verification only runs inside buckets. Signatures are
  * built with codegen'd higher-order functions (transform/aggregate/
  * zip_with + xxhash64) — no UDFs, no driver collection.
  */
object DedupOps {

  // ---- MinHash/LSH tuning (measured on the driver testdata: planted
  // near-dup pairs sit at 5-gram Jaccard >= 0.9; background pairs at
  // ~0.18-0.28). Banding uses the first 16 of K=32 permutations as
  // 4 bands x 4 rows: P(candidate | j=0.9) = 1-(1-0.9^4)^4 ~ 0.986;
  // P(candidate | j=0.26) ~ 1.8%. The FULL K=32 signature sharpens the
  // Jaccard estimate (est std at j=0.5 is 0.088 vs 0.125 at K=16), so the
  // est >= 0.5 cut rejects band-lucky background pairs much harder.
  private val K = 32
  private val Bands = 4
  private val R = 4

  /** Every index, count and stored-table name this module builds once per
    * (session, sfDir) — see [[graft.util.SessionMemo]]. Entries live until
    * the harness exits or [[clearCaches]] releases them. */
  private val memo = new graft.util.SessionMemo

  /** File-bucket count for every materialized index table (gram / sig /
    * sim / emb / span). Bucketed scans do not split within a bucket, so
    * this is the scan-parallelism AND the co-located-join width of every
    * index consumer — a BUILD-TIME layout decision that must follow
    * corpus size (round 17: the fixed 16-bucket layout capped the x32
    * containment consumer at 16-way scans — 5.2x cost for 4x data; with
    * buckets scaled to the tier the growth is ~linear, BASELINE r17).
    * 16 suits the sf0.1 fixture; a 100 TB build sets
    * SPARK_GRAFT_INDEX_BUCKETS to executor-count x cores. Read once per
    * JVM — the count is baked into each table at build time. */
  private val indexBuckets: Int =
    graft.util.EnvKnobs.positiveInt("SPARK_GRAFT_INDEX_BUCKETS", 16)

  /** THE index-table layout: `df` hash-bucketed on `keys` into
    * [[indexBuckets]] files and sorted on the same keys. repartition(N,
    * keys) before the bucketed write = one file per bucket, not cores×N
    * fragments. Spark validates the spec on append, so every generation
    * written through here shares one hash layout. */
  private def bucketedWriter(df: DataFrame, keys: Seq[String]) =
    df.repartition(indexBuckets, keys.map(col): _*)
      .write.format("parquet")
      .bucketBy(indexBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)

  /** Writes `df` as the bucketed catalog table `<table>_<tag>` under the
    * fresh scratch dir `<dir>_<tag>` (tag = Scratch.pathTag(sfDir)),
    * replacing any previous build; returns the table name. */
  private def writeIndex(df: DataFrame, sfDir: String, table: String, dir: String,
      keys: Seq[String]): String = {
    val tag = graft.util.Scratch.pathTag(sfDir)
    val tbl = s"${table}_$tag"
    val path = s"${graft.util.Scratch.dir(s"${dir}_$tag")}/$tbl"
    bucketedWriter(df, keys).mode("overwrite").option("path", path).saveAsTable(tbl)
    tbl
  }

  /** Appends `delta` to the index table `tbl` under the same layout. */
  private def appendIndex(delta: DataFrame, tbl: String, keys: Seq[String]): Unit =
    bucketedWriter(delta, keys).mode("append").saveAsTable(tbl)

  /** Two-generation index (round 19, VERDICT r18 #3) — the index-
    * MAINTENANCE pattern a daily pipeline needs: a 100 TB index is never
    * rebuilt for a 0.1% delta, it grows one bucketed file set per
    * generation. "Yesterday's" generation (even `id`) is written as the
    * bucketed table, "today's" delta (odd `id`) goes to `append`, which
    * lands it under the identical bucket spec — so every key-bucketed
    * consumer still reads both generations co-located with ZERO exchanges
    * (PlanSpec pins it per family): append cost is one delta-sized write,
    * consume cost is unchanged, and the generation split is a layout
    * event, invisible to results (NearDupSpec). */
  private def twoGenIndex(src: DataFrame, sfDir: String, table: String, dir: String,
      id: String, keys: Seq[String])(append: (DataFrame, String) => Unit): String = {
    val parity = pmod(col(id), lit(2))
    val tbl = writeIndex(src.filter(parity === 0), sfDir, table, dir, keys)
    append(src.filter(parity === 1), tbl)
    tbl
  }

  /** A stored index table as a join input: the merge hint keeps a
    * test-scale side from broadcasting — at corpus scale both sides of
    * every index self-join are the full table, and the co-located
    * sort-merge join over bucketed scans is the real plan. */
  private def stored(spark: SparkSession, tbl: String): DataFrame =
    spark.table(tbl).hint("merge")

  /** Build-side source selection (round 19) of the signature and
    * embedding tables, whose persists carry columns or feed consumers the
    * tables do not: the builders read the in-memory persist `name` when an
    * in-memory consumer already materialized it (the bench session — one
    * signature pass serves both families), and the RAW plan when it is
    * cold (the offline-build pipeline — where persisting would stage the
    * whole corpus in executor storage just to write it out once; the r18
    * curve showed exactly that persist co-resident with later builds
    * inflating them 3-9×). */
  private def buildSource(spark: SparkSession, sfDir: String, name: String)(
      plan: => DataFrame): DataFrame =
    memo.peek[DataFrame](spark, sfDir, name).getOrElse(plan)

  /** Unpersist every index frame and forget the per-session caches. Safe to
    * call between corpora; the next operator call rebuilds lazily. */
  def clearCaches(): Unit = memo.clear()

  /** Release the executor-memory BUILDER persists but KEEP the stored
    * tables (names + files) — the post-index-build state of a real
    * pipeline: the linear passes that assembled the bucketed tables ran
    * once, their working frames are dead weight afterwards, and the
    * consumers read the files. Round 18: ScaleCheck's planscale section
    * calls this between building the tables and timing the consumers —
    * builder persists co-resident in the measuring JVM (then a ×128 gram
    * persist of ~30 GB MEMORY_AND_DISK, since replaced by the stored gram
    * table) inflated the signature consumers 3-6× via storage/GC pressure
    * (BASELINE.md round 18, minhash ×128 residual: consume 3.3 s alone vs
    * 19.6-32.5 s beside the persists). In-memory frame
    * caches are cleared with their persists so a later in-memory
    * consumer rebuilds instead of silently recomputing per use. */
  def releaseBuilderPersists(): Unit = memo.releasePersists()

  /** Raw signature plan (doc_id, hsh, sig) — the linear pass behind both
    * the executor-memory [[sigIndex]] persist AND (round 19) the stored
    * table builds when that persist is cold: an offline index build pipes
    * this straight into the bucketed write instead of staging a
    * corpus-sized persist it will never read again (the ×128 build
    * decomposition, BASELINE r19 — co-resident builder persists were the
    * dominant superlinear term of the build curve). */
  private def sigPlan(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      // single-parquet-file input = one split; spread the hash-heavy
      // signature compute across all cores before the linear pass (at
      // 100 TB the file splits already provide this parallelism)
      .repartition(spark.sparkContext.defaultParallelism)
      // hsh: hashed 5-gram shingle set (64-bit, collision-negligible) —
      // exact Jaccard verification intersects longs, never strings. The
      // round-11 native ngram_hashes/minhash_sig expressions replace the
      // HOF spelling (array_distinct∘transform∘substring∘xxhash64 and
      // the K×|hsh| permutation lambdas): HOFs are interpreted per
      // element, these run one tight loop per row over the original
      // UTF8 bytes — element-exact equivalence pinned by TextHashSpec.
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .select(col("doc_id"), expr("ngram_hashes(t, 5)").as("hsh"))
      .withColumn("sig", expr(s"minhash_sig(hsh, $K)"))

  /** Shingles + minhash signature per doc, computed ONCE per (session,
    * sfDir) and persisted: the banded self-join and the exact-Jaccard
    * verification would otherwise each re-derive the whole signature
    * subtree (Spark self-joins recompute, they don't share). At 100 TB this
    * is the materialized signature index every LSH system builds before
    * pair generation — one linear pass, then all candidate work reads it. */
  private[graft] def sigIndex(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "sigIndex")(memo.persist(sigPlan(spark, sfDir)))

  /** Banding projection over any signature source. */
  private[graft] def banded(src: DataFrame): DataFrame =
    src.select(col("doc_id"), col("sig"),
      posexplode(expr(s"transform(sequence(0, ${Bands - 1}), " +
        s"b -> xxhash64(${(1 to R).map(i => s"element_at(sig, $R * b + $i)").mkString(", ")}, b))"))
        .as(Seq("band", "bhash")))

  /** (doc_id, sig, band, band_hash) — the LSH index: docs agreeing on all R
    * rows of a band collide. sig rides along so pair rows already carry both
    * signatures (no extra join back). */
  private[graft] def bandedIndex(spark: SparkSession, sfDir: String): DataFrame =
    banded(sigIndex(spark, sfDir))

  /** Candidate pairs (a < b) of a banded index sharing >= 1 LSH band, with
    * the signature-estimated Jaccard. The join key is (band, bhash) — an
    * equi-join that scales with data, not with n². `idx` is the in-memory
    * [[bandedIndex]] or a (band, bhash)-bucketed stored table, whose
    * co-located scans leave no exchange on the band hash. */
  private def minhashPairs(idx: DataFrame): DataFrame = {
    val a = idx.withColumnsRenamed(Map("doc_id" -> "doc_a", "sig" -> "sig_a"))
    val b = idx.withColumnsRenamed(Map("doc_id" -> "doc_b", "sig" -> "sig_b"))
    a.join(b, Seq("band", "bhash"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("est",
        expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))") / lit(K.toDouble))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"),
        round(first(col("est")), 4).as("est_jaccard"))
  }

  /** [[minhashPairs]] over the in-memory banded index, cached: the pair
    * frame is small (collisions only) but the self-join producing it is
    * the most expensive dedup stage, and three operators (minhash,
    * ngram-jaccard, cluster) consume it. */
  private[graft] def minhashCandidates(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "minhashCandidates")(memo.persist(minhashPairs(bandedIndex(spark, sfDir))))

  /** Exact dedup keyed on the CANONICALIZED text (TextOps.normalizedText
    * — NFC + lowercase + control-strip + whitespace collapse, one shared
    * definition so the key cannot drift from llm_text_normalize): the
    * production composition of the normalize stage with exact dedup.
    * llm_dedup_exact's lower/trim key treats composed-vs-decomposed
    * Unicode and whitespace-variant re-crawls as distinct documents —
    * this operator is why the normalize stage exists. Same plan shape:
    * one hash shuffle on the 256-bit digest, map-side combined. */
  val llmDedupExactNormalized: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "documents")
      .withColumn("h", sha2(graft.llm.TextOps.normalizedText, 256))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")

  /** Exact dedup: group by normalized-text hash, keep the lowest doc_id
    * (sha2-256 collision-free at any realistic corpus size). */
  val llmDedupExact: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "documents")
      .withColumn("h", sha2(lower(trim(col("text"))), 256))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")

  /** MinHash+LSH near-dup pairs: signature-estimated Jaccard >= 0.5
    * (captures the planted >= 0.9 near-dups; background ~0.25 pairs are
    * rejected). xxhash64-based — no DuckDB oracle; NearDupSpec asserts the
    * planted pairs are found. One cut over any [[minhashPairs]] frame: the
    * in-memory op reads the cached candidates, its stored-index twins
    * ([[llmDedupMinhashIndexed]], [[llmSigIndexAppend]]) the bucketed
    * tables. */
  private def minhashNearDups(pairs: DataFrame): DataFrame =
    pairs
      .filter(col("est_jaccard") >= VerifyBounds.JaccardThreshold)
      .select("doc_a", "doc_b", "n_shared_bands", "est_jaccard")
      .orderBy("doc_a", "doc_b")

  val llmDedupMinhash: QFn = (spark, sfDir) =>
    minhashNearDups(minhashCandidates(spark, sfDir))

  /** LSH candidates verified by exact hashed-shingle Jaccard >= 0.5 — the
    * verification stage shared by ngram_jaccard (which reports it) and
    * cluster (which builds its edge set from it); cached and persisted like
    * the candidate frame so the second consumer reads the (tiny) verified
    * pair set instead of re-running the intersect joins. Exact Jaccard over
    * HASHED shingles: intersect long arrays (cheap) and derive
    * |union| = |A| + |B| - |A∩B| arithmetically — no string-array
    * concat/distinct per pair. The distinct-shingle sets make |A|,|B| exact. */
  private[graft] def verifiedPairs(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "verifiedPairs") {
      memo.persist(jaccardVerified(spark, sfDir,
        minhashCandidates(spark, sfDir).select("doc_a", "doc_b"), "doc_a", "doc_b"))
    }

  /** Candidate pairs (columns `a`, `b`) kept where their exact hashed-
    * shingle Jaccard (from [[sigIndex]]) is >= 0.5, as (a, b, jaccard). */
  private def jaccardVerified(spark: SparkSession, sfDir: String, cands: DataFrame,
      a: String, b: String): DataFrame = {
    val sh = sigIndex(spark, sfDir)
      .select(col("doc_id"), col("hsh"), size(col("hsh")).as("n_sh"))
    cands
      .join(sh.withColumnsRenamed(Map("doc_id" -> a, "hsh" -> "h_a", "n_sh" -> "n_a")), Seq(a))
      .join(sh.withColumnsRenamed(Map("doc_id" -> b, "hsh" -> "h_b", "n_sh" -> "n_b")), Seq(b))
      .withColumn("i", size(array_intersect(col("h_a"), col("h_b"))))
      .withColumn("jaccard", round(
        col("i").cast("double") / (col("n_a") + col("n_b") - col("i")), 4))
      .filter(col("jaccard") >= VerifyBounds.JaccardThreshold)
      .select(a, b, "jaccard")
  }

  /** Exact n-gram Jaccard verification over the LSH candidate set — the
    * scalable exact-similarity join: candidates come from banding, exact
    * set overlap is computed only for them. */
  val llmDedupNgramJaccard: QFn = (spark, sfDir) =>
    verifiedPairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** Near-dup cluster resolution — connected components over the
    * exact-verified near-dup pair graph (LSH candidates → exact Jaccard
    * >= 0.5, [[verifiedPairs]]) via min-label propagation with pointer
    * doubling: each round every
    * doc adopts the minimum label among itself and its neighbors, then
    * shortcuts through its current representative (label := label-of-label).
    * The shortcut gives O(log diameter) convergence, so the 20-round bound
    * covers components of diameter ~2^20 — effectively any real pair graph —
    * instead of failing silently on chains longer than the round count.
    * Each round is three keyed shuffles; localCheckpoint caps lineage growth
    * — the same loop GraphX/Pregel would run, without the RDD detour.
    * Edges from EXACT (not estimated) Jaccard keep the operator
    * engine-independent: the DuckDB oracle replays the full pipeline
    * (gram join → Jaccard filter → recursive-CTE reachability), verified
    * identical at sf0.001/0.01/0.1; NearDupSpec additionally checks a
    * union-find ground truth. Output: one row per doc with its cluster id;
    * `is_canonical` marks the cluster representative (min doc_id) a dedup
    * pass would keep. */
  val llmDedupCluster: QFn = (spark, sfDir) => clusters(spark, sfDir)._1

  /** [[llmDedupCluster]]'s frame and the rounds its label loop ran —
    * ScaleCheck records them against the ⌈log2⌉ pointer-doubling bound. */
  private[graft] def clusters(spark: SparkSession, sfDir: String): (DataFrame, Int) = {
    val (labels, rounds) = connectedComponents(
      sigIndex(spark, sfDir).select(col("doc_id"), col("doc_id").as("label")),
      verifiedPairs(spark, sfDir).select("doc_a", "doc_b"))
    (labels
      .select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy("doc_id"), rounds)
  }

  /** Min-label connected components over (seed: doc_id,label; pairs:
    * doc_a,doc_b one direction) — the pointer-doubling loop shared by
    * [[llmDedupCluster]] (full graph) and [[llmDedupClusterIncremental]]
    * (base generation + contracted delta graph). Returns the converged
    * (doc_id, label) frame, label = min reachable seed label, and the
    * number of rounds the loop ran. */
  private[graft] def connectedComponents(seed: DataFrame,
      pairs: DataFrame): (DataFrame, Int) = {
    // Round 21 (guide §2.4 — remove shuffles outright): SELF-LOOPS ride in
    // the edge list, so "min over self and neighbors" is ONE join + ONE
    // aggregate per round instead of join + aggregate + a second join of
    // the label table back onto the neighbor minima. The old shape
    // (nbrMin left-joined into labels, least(label, nl)) shuffled the
    // label table twice per round (once into the neighbor join, once into
    // the combine join); with the self-edge the aggregate's min already
    // covers the node's own label and the label table shuffles ONCE.
    // Identical values by construction: min({self} ∪ neighbors) =
    // least(label, min(neighbors)). Contract (all callers comply): every
    // pair endpoint is in the seed — a stray endpoint would previously
    // have been dropped by the combine join, here the self-loop set
    // defines the node universe, so seed self-loops alone decide
    // membership and the pair union only adds endpoints already seeded.
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .unionByName(seed.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b")))
      // rejoined every round — materialized once, LAZILY (round 21): the
      // first round's aggregate job computes-and-caches it; an eager
      // checkpoint here would spend a whole extra job on a frame the very
      // next job reads anyway
      .localCheckpoint(eager = false)
    var labels = seed
    // Iterate to fixpoint with a hard bound as a pathological-graph stop.
    // Convergence check: labels only ever move DOWNWARD (least of self and
    // neighbors), so sum(label) strictly decreases iff any label changed —
    // one agg over the just-checkpointed frame per round, instead of a
    // join+count against the previous round. decimal(38,0) so the sum
    // cannot overflow at any corpus size.
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var changed = 1L
    var rounds = 0
    // localCheckpoint blocks of superseded rounds are released as soon as
    // the next round materializes (eager checkpoint) — otherwise the loop
    // accumulates up to 20 label tables of executor storage in a long-lived
    // session. Only the latest round's blocks (the result's backing data —
    // lineage is truncated, so they must outlive consumption) and the
    // pinned `edges` frame remain.
    def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    var prevCkpt: org.apache.spark.sql.DataFrame = null
    while (changed > 0 && rounds < 20) {
      // min over self (via the seeded self-loop) and all neighbors — the
      // round-21 one-join spelling of least(label, min(neighbor labels))
      val stepped = edges
        .join(labels.withColumnsRenamed(Map("doc_id" -> "doc_b", "label" -> "nbl")), Seq("doc_b"))
        .groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("nbl")).as("label"))
      // pointer doubling: follow the label one more hop. The probe side
      // joins on stepped's grouping key (doc_id), so its required
      // partitioning is already satisfied by the aggregate's exchange —
      // only the label-side shuffle is new.
      val next = stepped
        .join(stepped.select(col("doc_id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        // LAZY checkpoint (round 21): the convergence sum right below is
        // the action that materializes this round's labels — one Spark job
        // per round where eager + sum cost two. Lineage is still truncated
        // and the blocks cached before any reuse (the sum IS the first
        // consumer), so release/convergence semantics are unchanged.
        .localCheckpoint(eager = false)
      val newSum = labelSum(next)
      if (prevCkpt != null) releaseCheckpoint(prevCkpt)
      prevCkpt = next
      changed = if (newSum.compareTo(prevSum) == 0) 0L else 1L
      prevSum = newSum
      labels = next
      rounds += 1
    }
    (labels, rounds)
  }

  /** Stored cluster state of the BASE generation (even doc_ids — the
    * driver-stable stand-in for "yesterday's corpus", the same split the
    * other maintenance ops use): CC labels over the base-side verified
    * pair graph, built once per (session, sfDir) like every other index
    * artifact and persisted. The label of a base doc is the min doc_id of
    * its base component — the cluster table a daily pipeline stores
    * between runs. Stored as PARQUET, not an executor-memory persist
    * (ADVICE r19): the pre-r20 MEMORY_AND_DISK persist was built in
    * warmup and stayed resident through the whole timed bench loop —
    * exactly the co-tenant storage pressure the r19 build-path work
    * eliminated from the index builders — and a cluster table a pipeline
    * keeps BETWEEN daily runs lives on disk by definition. The consumer
    * reads the files (labels are 2 longs/doc — a cheap columnar scan);
    * zero storage residue after the build. */
  private[graft] def baseClusters(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "baseClusters") {
      val basePairs = verifiedPairs(spark, sfDir)
        .filter(pmod(col("doc_a"), lit(2)) === 0 && pmod(col("doc_b"), lit(2)) === 0)
        .select("doc_a", "doc_b")
      val dir = graft.util.Scratch.dir(
        s"base_clusters_${graft.util.Scratch.pathTag(sfDir)}")
      connectedComponents(
        Tables(spark, sfDir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("doc_id").as("label")),
        basePairs)._1
        .write.mode("overwrite").parquet(s"$dir/labels")
      spark.read.parquet(s"$dir/labels")
    }

  /** Delta-edge ceiling of the incremental-CC broadcast hints (round 21,
    * ADVICE r20 medium): every frame those hints broadcast — touched
    * endpoints, restricted labels, reduced labels — is bounded by 2× the
    * DELTA pair count, not by corpus size, so the corpus-docCount proxy
    * alone under-gates a duplicate-heavy delta (a dense delta on a mid-
    * sized corpus could force-broadcast past driver comfort and OOM
    * instead of degrading). Worst case admitted here: 2 × 6M endpoints ×
    * (doc_id, label) longs ≈ 190 MB framed — same comfort budget as
    * [[BroadcastDocCap]]'s 200 MB. Above the cap the hints drop
    * and AQE converts from actual exchange sizes. */
  private val ClusterBroadcastEdgeCap = 6000000L

  /** Delta pair count, one cheap count over the persisted verified-pair
    * frame per (session, sfDir) — the actual-broadcast-side bound the
    * hints gate on (the docCount precedent; ADVICE r20). */
  private def deltaPairCount(spark: SparkSession, sfDir: String): Long =
    memo(spark, sfDir, "deltaPairCount") {
      verifiedPairs(spark, sfDir)
        .filter(pmod(col("doc_a"), lit(2)) === 1 || pmod(col("doc_b"), lit(2)) === 1)
        .count()
    }

  /** Plan shape of the incremental-CC plans, which join the corpus-sized
    * stored labels against delta-sized frames: [[Flat]] joins the labels
    * whole (the planner and AQE pick the strategy); [[Restricted]] first
    * narrows them by a semi-join to the touched endpoints, with the
    * delta-sized frames under a broadcast hint when `broadcast`. Both
    * shapes produce identical rows (NearDupSpec pins each side of each
    * gate). */
  private[graft] sealed trait Shape {
    /** `df` under a broadcast hint when this shape carries one. */
    def hinted(df: DataFrame): DataFrame = this match {
      case Restricted(true) => broadcast(df)
      case _ => df
    }
  }
  private[graft] case object Flat extends Shape
  private[graft] final case class Restricted(broadcast: Boolean) extends Shape

  /** Corpus floor below which the stored labels are joined whole, a
    * plan decision derived from n (the simChunkGeom / projBitsFor
    * precedent): the restricted shape's extra stages (endpoint distinct,
    * broadcast, semi-join — each a sequential driver stage) are pure
    * orchestration overhead when the table is tiny.
    * The incremental-CC scale shape measured 2-3× the flat plan on the
    * 5k-doc bench fixture (9.6-11.0 s vs the 4.0 s band, reproduced in
    * isolation) while the same shape at 320k+ docs is flat-in-corpus
    * where the old plan grew superlinearly (BASELINE.md round-20
    * follow-up). */
  private val RestrictFloor = 50000L

  /** Broadcast ceiling of the restricted shape (ADVICE r18 / VERDICT r18
    * #2; tightened ADVICE r19): the touched endpoints are bounded above
    * by the corpus count — a deliberately CONSERVATIVE proxy, since
    * counting them would execute the contraction a second time, while
    * docCount is already cached. The cost of the proxy is only a missed broadcast on
    * >cap corpora whose restricted sets happen to be tiny — and AQE still
    * converts those to broadcast at runtime from actual exchange sizes.
    * The cap is sized for the worst case the proxy admits: 25M doc_id
    * longs ≈ 200 MB broadcast — well under executor/driver memory
    * comfort on any plausible profile, not just under Spark's 8 GB /
    * 512M-row BroadcastExchange hard caps past which the hint would FAIL
    * the job (the r18 cap of 100M put the worst case at 800 MB, near
    * typical comfort limits — ADVICE r19). Above the cap the semi-join
    * runs unhinted: both sides shuffle on doc_id — linear, exactly the
    * keyed join any layout pays — so a pathologically dense delta
    * degrades instead of dying. */
  private val BroadcastDocCap = 25000000L

  /** The corpus-size policy of the incremental-CC plans, read from the
    * cached docCount: [[Flat]] below [[RestrictFloor]] docs, else
    * [[Restricted]] with broadcast hints up to [[BroadcastDocCap]] docs
    * and while `bcastOk` holds — an extra bound evaluated only on that
    * side, so the flat path runs no job for it. */
  private[graft] def corpusShape(spark: SparkSession, sfDir: String,
      bcastOk: => Boolean = true): Shape = {
    val n = docCount(spark, sfDir)
    if (n < RestrictFloor) Flat else Restricted(n <= BroadcastDocCap && bcastOk)
  }

  /** Contraction stage of [[llmDedupClusterIncremental]], split out
    * because the op's FINAL plan cannot show it: the CC loop eagerly
    * materializes its input (localCheckpoint), so the semi-join /
    * broadcast shape of this frame lives in earlier jobs. PlanSpec pins
    * it here by construction instead. */
  private[graft] def clusterContraction(spark: SparkSession, sfDir: String,
      shape: Shape): DataFrame = {
    val base = baseClusters(spark, sfDir)
    val newPairs = verifiedPairs(spark, sfDir)
      .filter(pmod(col("doc_a"), lit(2)) === 1 || pmod(col("doc_b"), lit(2)) === 1)
      .select("doc_a", "doc_b")
    val labels = shape match {
      case Flat => base // join labels whole
      case Restricted(_) =>
        // the touched endpoints — bounded by 2× the delta edge count
        val ends = newPairs.select(col("doc_a").as("doc_id"))
          .unionByName(newPairs.select(col("doc_b").as("doc_id")))
          .distinct()
        // corpus-sized stored labels: one SCAN, restricted to rows that
        // can influence contraction before anything joins them
        shape.hinted(base.join(shape.hinted(ends), Seq("doc_id"), "left_semi"))
    }
    // contract endpoints through the (possibly restricted) stored labels
    // — delta docs are not in base → coalesce to themselves; self-loops
    // drop. The semi-join only removes base rows matching no pair
    // endpoint, which could never match these left joins: both shapes
    // produce identical rows (NearDupSpec pins it).
    newPairs
      .join(labels.select(col("doc_id").as("doc_a"), col("label").as("rep_a")),
        Seq("doc_a"), "left")
      .join(labels.select(col("doc_id").as("doc_b"), col("label").as("rep_b")),
        Seq("doc_b"), "left")
      .select(coalesce(col("rep_a"), col("doc_a")).as("doc_a"),
        coalesce(col("rep_b"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
  }

  /** Incremental near-dup cluster maintenance (round 19, VERDICT r18 #7
    * stretch — the consumer-side continuation of generation-append): fold
    * a DELTA BATCH (odd doc_ids) into the STORED cluster state
    * ([[baseClusters]]) without re-running connected components over the
    * whole corpus. The algorithm is graph contraction — the standard
    * incremental-CC move: every new pair's endpoints map through the
    * stored labels (base docs collapse to their component representative;
    * delta docs map to themselves), CC runs on the CONTRACTED graph whose
    * nodes are the TOUCHED endpoints of the contracted edges (round 20 —
    * delta-EDGE-sized, strictly smaller than r19's base-reps+delta-docs
    * seed, which was corpus-sized because most components are singletons)
    * — and base docs take their representative's new label.
    * Min-label composition is associative (min over a merged component =
    * min(min of each part)), so the result is BYTE-IDENTICAL to
    * [[llmDedupCluster]] run from scratch on the full corpus — the
    * NearDupSpec pin and the shared recursive-CTE DuckDB oracle both
    * enforce exactly that. At 100 TB: the from-scratch loop is O(log d)
    * rounds of corpus-sized shuffles every day; this runs the same loop
    * over delta-edge-sized frames. Measured crossover vs from-scratch:
    * BASELINE.md round 20, incremental-CC crossover — which also
    * exposed that "broadcastable" was an unenforced adjective: the
    * contraction joins are LEFT-outer with the delta on the LEFT, so the
    * planner cannot broadcast the delta side, and the corpus-sized label
    * table shuffled TWICE (doc_a, then doc_b) plus once more in the
    * expansion. Round-20 restructure: the stored labels are first
    * restricted by a broadcast semi-join to the TOUCHED endpoints (a
    * delta-edge-bounded set), so both contraction joins are delta×delta;
    * the expansion joins broadcast the delta-sized `reduced` labels as
    * their BUILD side. Net: the corpus-sized label table is SCANNED
    * (twice: restriction + expansion), never shuffled. Identical results
    * by construction — the semi-join only drops base rows matching no
    * pair endpoint, which contributed nothing to the left joins anyway
    * (NearDupSpec pins byte-equality on both gate sides). [[corpusShape]]
    * picks the shape: below [[RestrictFloor]] docs the flat plan stays
    * (the scale shape's extra stages are pure overhead on a tiny label
    * table — measured 2-3× on the bench fixture), and above
    * [[BroadcastDocCap]] docs or [[ClusterBroadcastEdgeCap]] delta pairs
    * the broadcast hints drop so AQE converts from actual exchange sizes,
    * degrading to keyed shuffles instead of dying. */
  val llmDedupClusterIncremental: QFn = (spark, sfDir) =>
    clusterIncremental(spark, sfDir,
      corpusShape(spark, sfDir, deltaPairCount(spark, sfDir) <= ClusterBroadcastEdgeCap))

  /** [[llmDedupClusterIncremental]] under a given plan shape — NearDupSpec
    * and PlanSpec pass each shape at fixture scale. */
  private[graft] def clusterIncremental(spark: SparkSession, sfDir: String,
      shape: Shape): DataFrame = {
    val base = baseClusters(spark, sfDir)
    // LAZY checkpoint (round 21): the contracted edge set feeds THREE
    // consumers (the CC seed's endpoint-distinct, the CC loop's edge list,
    // and the loop's convergence pre-sum over the seed) — uncheckpointed,
    // the contraction joins re-ran once per consumer (measured ~0.4 s each
    // at fixture). One delta-edge-bounded frame, materialized by the first
    // consumer's job, read cached by the rest.
    val contracted = clusterContraction(spark, sfDir, shape).localCheckpoint(eager = false)
    val deltaDocs = Tables(spark, sfDir, "documents")
      .filter(pmod(col("doc_id"), lit(2)) === 1).select("doc_id")
    // CC node set restricted to TOUCHED nodes — the distinct endpoints of
    // the contracted edge set (round 20): a node with no contracted edge
    // can never change label (base reps keep their component, edge-less
    // delta docs label themselves), so seeding CC with every base label +
    // every delta doc — as this op did in round 19 — ran the label loop
    // over a CORPUS-sized node frame even for a tiny delta (most docs are
    // singleton components, so distinct base labels ≈ n). With the
    // touched-only seed the loop's every frame is bounded by the delta
    // edge count; the corpus-sized inputs (stored labels, delta docs)
    // each join ONCE, outside the loop, against delta-sized sides.
    // Byte-identity with the full-seed plan (and with from-scratch CC)
    // is by the same min-label associativity as before; untouched nodes
    // re-enter via coalesce in the expansion below. NearDupSpec pins it.
    val touchedSeed = contracted.select(col("doc_a").as("doc_id"))
      .unionByName(contracted.select(col("doc_b").as("doc_id")))
      .distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
    val reduced = connectedComponents(touchedSeed, contracted)._1
    // expand: base docs via their representative; delta docs directly.
    // min over the contracted component = min(base reps ∪ delta docs) =
    // min of the merged full component, since each base rep IS its
    // component's min and delta ids are present verbatim. Left joins +
    // coalesce: nodes the delta never touched keep their stored label
    // (base) or themselves (delta) — exactly what the full seed produced.
    // The expansion hints ride the contraction's shape: flat leaves a tiny
    // `reduced` to the planner/AQE, and above the broadcast caps the hint
    // must be absent (AQE converts from actual sizes instead).
    val baseOut = base
      .join(shape.hinted(reduced
        .select(col("doc_id").as("label"), col("label").as("cl"))),
        Seq("label"), "left")
      .select(col("doc_id"), coalesce(col("cl"), col("label")).as("cluster_id"))
    val deltaOut = deltaDocs
      .join(shape.hinted(reduced), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    baseOut.unionByName(deltaOut)
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Raw per-doc bitsums plan — the token-aggregate pass of the SimHash
    * build. MUST be materialized (persist) before the 128-way fold reads
    * it: the persist is a hard barrier, without which CollapseProject
    * re-inlines the token aggregate into every bit (64× blowup measured
    * at 276 s vs 3 s on sf0.1). */
  private def bitsumsPlan(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).as("n_tok"),
        expr(
          "aggregate(transform(split(lower(trim(text)), '\\\\s+'), " +
            "t -> struct(xxhash64(t) as h1, xxhash64(t, cast(1 as bigint)) as h2)), " +
            "array_repeat(cast(0 as bigint), 128), " +
            "(acc, s) -> zip_with(acc, transform(sequence(0, 127), " +
            "j -> CASE WHEN (shiftright(IF(j < 64, s.h1, s.h2), j % 64) & 1) = 1 THEN cast(1 as bigint) ELSE cast(-1 as bigint) END), " +
            "(a, b) -> a + b))").as("bitsums"))

  /** Fingerprint fold over a MATERIALIZED bitsums frame. */
  private def simFoldPlan(bitsums: DataFrame): DataFrame = {
    def fold(lo: Int): String =
      s"aggregate(sequence($lo, ${lo + 63}), cast(0 as bigint), (s, j) -> s + " +
        "CASE WHEN element_at(bitsums, j + 1) > 0 " +
        s"THEN shiftleft(cast(1 as bigint), j - $lo) ELSE cast(0 as bigint) END)"
    bitsums.select(col("doc_id"),
      expr(fold(0)).as("simhash"),
      expr(fold(64)).as("simhash2"),
      col("n_tok"))
  }

  /** 128-bit SimHash over word tokens (sign of per-bit +-1 sums), banded
    * into 8 x 16-bit chunks for candidate generation; exact Hamming
    * distance via bit_count(xor) over both halves. Top pairs by Hamming
    * distance. 128 bits (not 64): the candidate join's pigeonhole geometry
    * is chunk-width-fixed, so the only way to grow the bucket space with
    * the corpus is more chunks — 8 x 16-bit chunks halve the per-chunk
    * random-collision rate AND double the bucket count vs the round-5
    * 4 x 16 layout, pushing the per-band saturation bound from ~65536·4 to
    * ~65536·8 colliding docs with a strictly stronger Hamming<=7 retention
    * guarantee.
    *
    * The index: 128-bit SimHash per doc as two 64-bit halves, persisted: (a) the
    * persist is a hard barrier, so the 128-way bit fold reads the
    * materialized bitsums column instead of CollapseProject re-inlining the
    * token aggregate into every bit (64× blowup measured at 276 s vs 3 s on
    * sf0.1); (b) the chunked self-join reuses it instead of recomputing
    * both sides. The two halves come from decorrelated token hashes —
    * xxhash64(t) and xxhash64(t, 1L) (Spark chains the second arg into the
    * hash state, so the streams are independent); each token's pair is
    * computed ONCE via the struct transform, not once per bit. The
    * intermediate bitsums frame is persisted through the memo too, so
    * clearCaches can actually release it. */
  private[graft] def simIndex(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "simIndex") {
      memo.persist(simFoldPlan(memo.persist(bitsumsPlan(spark, sfDir))))
    }

  /** Documents-corpus row count — the n the simhash chunk geometry derives
    * from. One Spark count job per (session, sfDir), then cached (Catalyst
    * may collapse it to parquet footer stats, but that is not guaranteed). */
  private def docCount(spark: SparkSession, sfDir: String): Long =
    memo(spark, sfDir, "docCount")(Tables(spark, sfDir, "documents").count())

  /** Chunk geometry of the candidate join, DERIVED from corpus size the
    * way projBitsFor derives RP width: (chunks, bits per chunk). Below
    * [[SimWideThreshold]] docs: 8×16-bit chunks — pigeonhole-guaranteed
    * retention of every Hamming≤7 pair, 65,536 values per chunk. Past it
    * the 16-bit value space saturates (expected RANDOM collisions per doc
    * = n·8/2^16 overtakes the measured structural level ~150/doc near
    * n ≈ 1.2M — BASELINE.md round-7 width table), so the join flips to
    * 4×32-bit chunks: 4.3e9 values per chunk holds random collisions
    * under 1/doc out to 10^9 docs, with the retention guarantee
    * tightening to Hamming≤3 — the right trade at that scale, where
    * wider-radius 128-bit pairs are overwhelmingly collision noise, and
    * exactly the radius the top-200 Hamming ranking surfaces. The same
    * fingerprints serve both geometries (only the join key changes), so
    * an index built small keeps working as the corpus grows past the
    * flip. */
  private[graft] val SimWideThreshold = 1000000L
  private[graft] def simChunkGeom(n: Long): (Int, Int) =
    if (n <= SimWideThreshold) (8, 16) else (4, 32)

  /** This corpus's chunk geometry — FingerprintSpec passes the wide one
    * to [[simhashCandidates]] directly to exercise the >1M-doc branch. */
  private[graft] def simGeom(spark: SparkSession, sfDir: String): (Int, Int) =
    simChunkGeom(docCount(spark, sfDir))

  /** The length band of a fingerprint row: length(bin(x)) is the exact
    * integer bit length of the token count = floor(log2)+1. */
  private val lengthBand: Column = length(bin(col("n_tok").cast("long")))

  /** One row per (doc, chunk) of a fingerprint frame carrying `lb`: the
    * `geom` = (chunks, bits) split of the two 64-bit halves — the chunk
    * projection the in-memory candidate join and [[simTable]] share. */
  private def simChunks(sim: DataFrame, geom: (Int, Int)): DataFrame = {
    val (nChunks, w) = geom
    val perHalf = nChunks / 2
    val mask = (1L << w) - 1
    sim.select(col("doc_id"), col("simhash"), col("simhash2"), col("lb"),
      posexplode(expr(
        s"transform(sequence(0, ${nChunks - 1}), " +
          s"c -> shiftright(IF(c < $perHalf, simhash, simhash2), $w * (c % $perHalf)) & $mask)"))
        .as(Seq("chunk", "cval")))
  }

  /** Candidate generation joins on (chunk, cval, length band): the chunk
    * split over the 128-bit fingerprint ([[simChunkGeom]]: 8×16-bit below
    * 1M docs, 4×32-bit above) guarantees any pair within the pigeonhole
    * radius (Hamming<=7 / <=3 respectively) collides on >=1 chunk, and
    * the SECOND band key bounds the random-collision
    * growth the fixed 65536-value chunk space alone cannot. The band is
    * bitlen(n_tok) — one full octave, exact integer arithmetic, no float
    * log2 — and the probe side emits band±1, so retention is GUARANTEED
    * for every pair with token-count ratio <= 2 (ratio < 2 implies bitlen
    * differs by at most 1; ratio exactly 2 shifts bitlen by exactly 1 —
    * both inside the ±1 probe; this includes a doc vs its own 2×
    * repetition, whose simhash is identical). Worst-case retained ratio is
    * just under 4 (bitlen diff 1 spans at most min 2^(b-1) vs max
    * 2^(b+1)-1); every ratio >= 4 pair is dropped — far beyond any
    * near-dup. Within-band chunk collisions are O(n_band²·8/65536);
    * corpora grow mostly by adding docs across the length spectrum, so
    * bands multiply the constant the way more buckets do for the RP
    * index, while the 8-chunk geometry halves the per-chunk collision
    * rate vs 4×16/64-bit.
    *
    * This is the raw (chunk, cval, band)-collision pair stream, pre-dedup —
    * split out so ScaleCheck can count candidate work directly. `geom` is
    * the (chunks, bits) split, [[simGeom]] for the registered ops.
    * `useBand=false` drops the length-band key so ScaleCheck can measure
    * what the 128-bit chunk geometry alone holds. */
  private[graft] def simhashCandidates(spark: SparkSession, sfDir: String,
      geom: (Int, Int), useBand: Boolean = true): DataFrame = {
    val chunked = simChunks(simIndex(spark, sfDir)
      .withColumn("lb", if (useBand) lengthBand else lit(0)), geom)
    val a = chunked.withColumnsRenamed(Map(
      "doc_id" -> "doc_a", "simhash" -> "sim_a", "simhash2" -> "sim_a2"))
    val b = chunked.withColumnsRenamed(Map(
      "doc_id" -> "doc_b", "simhash" -> "sim_b", "simhash2" -> "sim_b2"))
    val probed =
      if (useBand) b.withColumn("lb", explode(array(col("lb") - 1, col("lb"), col("lb") + 1)))
      else b
    a.join(probed, Seq("chunk", "cval", "lb"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** Top pairs by full 128-bit Hamming distance over any chunk-collision
    * pair stream — the ranking both SimHash twins share. */
  private[graft] def simhashRanked(pairs: DataFrame): DataFrame =
    pairs
      .groupBy("doc_a", "doc_b")
      .agg(first(expr("bit_count(sim_a ^ sim_b) + bit_count(sim_a2 ^ sim_b2)")).as("hamming"))
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(VerifyBounds.SimhashPairCap)

  val llmDedupSimhash: QFn = (spark, sfDir) =>
    simhashRanked(simhashCandidates(spark, sfDir, simGeom(spark, sfDir)))

  // ---- Embedding near-dup: random-hyperplane sign bits -> 2^bits buckets;
  // exact cosine only within buckets. Projections are seeded (42) so the
  // plan is deterministic across runs and engines. Within-bucket pair work
  // is O(n²/2^bits), so the width is DERIVED from the corpus count instead
  // of being a fixed constant: bits = smallest b with n <= 8·2^b holds
  // bucket occupancy (and thus per-bucket pair cost) at ~8 vectors as the
  // corpus grows. Integer thresholds, not ceil(log2(n/8)) — a 1-ulp log2
  // wobble at an exact power of two could disagree with the oracle's SQL
  // replay of the same rule. 500 vectors -> 6 bits (identical to the
  // previous fixed width, so the verified tiers are unchanged), 2k -> 8,
  // 128k -> 14, ~1e9 (a 100 TB corpus of 100 KB docs) -> 24. The seeded
  // projection list extends deterministically: the first b arrays are the
  // same for every corpus, bigger corpora just use more of them.
  private val MinProjBits = 4
  private[graft] val MaxProjBits = 24
  private val TargetOccupancy = 8L
  private[graft] def projBitsFor(n: Long): Int = {
    var b = MinProjBits
    while (b < MaxProjBits && n > TargetOccupancy * (1L << b)) b += 1
    b
  }
  private val projections: Seq[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(MaxProjBits)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** Corpus row count — the n every adaptive index width derives from. One
    * parquet metadata count per (session, sfDir), then cached. */
  private[graft] def embCount(spark: SparkSession, sfDir: String): Long =
    memo(spark, sfDir, "embCount")(Tables(spark, sfDir, "embeddings").count())
  private[graft] def embBits(spark: SparkSession, sfDir: String): Int =
    projBitsFor(embCount(spark, sfDir))

  /** Expects an array<double> vector. Each hyperplane dot product is the
    * native codegen'd vector_dot against a literal array — `bits` tight
    * loops instead of a 384-term unrolled element_at expression (which
    * blows past JIT size limits and drops to interpreted evaluation). */
  private def llmRpBucket(vec: Column, bits: Int): Column =
    projections.take(bits).zipWithIndex.map { case (p, i) =>
      val parr = array(p.toIndexedSeq.map(lit): _*)
      val dot = call_function("vector_dot", vec, parr)
      when(dot > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** DuckDB rendering of [[projBitsFor]]: the same integer threshold chain,
    * rendered ALL the way to [[MaxProjBits]] (ADVICE r6: a 14-bit oracle
    * cap against Spark's 24-bit cap would silently diverge on bucket
    * assignment past 131,072 embeddings — rendering the full chain makes
    * the two sides agree for every possible n, with both capping at 24
    * identically). */
  private[graft] val MaxOracleBits = MaxProjBits
  private[graft] def projBitsSqlDuck(n: String): String =
    (MinProjBits until MaxOracleBits)
      .map(b => s"WHEN $n <= ${TargetOccupancy * (1L << b)} THEN $b")
      .mkString("(CASE ", " ", s" ELSE $MaxOracleBits END)")

  /** DuckDB rendering of [[llmRpBucket]], generated from the SAME seeded
    * `projections` array (the way TextOps shares markerWords) so the plan
    * and the oracle cannot drift. Scala's Double.toString is the shortest
    * round-trip representation, so DuckDB parses back the identical bits,
    * and list_sum folds left like Spark's aggregate — the sign decisions
    * match exactly. Every term is gated on `i < pbExpr`, the SQL image of
    * `projections.take(bits)`, so the oracle adapts its width with n the
    * way the plan does. */
  private[graft] def bucketSqlDuck(embExpr: String, pbExpr: String): String =
    projections.take(MaxOracleBits).zipWithIndex.map { case (p, i) =>
      val lits = p.mkString("[", ", ", "]")
      s"CASE WHEN $i < $pbExpr AND list_sum(list_transform(list_zip($embExpr, CAST($lits AS DOUBLE[])), p -> p[1] * p[2])) > 0 THEN ${1 << i} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** DuckDB CTE producing the embIndex columns (vec_id, label, emb, norm,
    * bucket) plus the adaptive-width inputs (nn = corpus count, pb =
    * derived projection bits) — shared by the embedding near-dup and ANN
    * oracles. */
  private[graft] def embIndexSqlDuck: String =
    "SELECT vec_id, label, emb, norm, nn, pb, " +
      bucketSqlDuck("emb", "pb") + " AS bucket FROM " +
      "(SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb, " +
      "sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS norm, " +
      "nn, " + projBitsSqlDuck("nn") + " AS pb " +
      "FROM embeddings, (SELECT count(*) AS nn FROM embeddings) c) s"

  /** Cosine via the native codegen'd dot (graft.functions.VectorDot) —
    * bit-identical to the old HOF fold (same left-to-right summation). */
  private[graft] def cosineExpr(a: String, b: String): Column = {
    val (ca, cb) = (s"cast($a as array<double>)", s"cast($b as array<double>)")
    expr(s"vector_dot($ca, $cb)") /
      (sqrt(expr(s"vector_dot($ca, $ca)")) * sqrt(expr(s"vector_dot($cb, $cb)")))
  }

  /** Pair dot product over pre-cast double arrays (native expression, stays
    * in whole-stage codegen); norms come precomputed from embIndex so
    * cosine is dot / (norm·norm). */
  private[graft] def dotExpr(a: String, b: String): Column =
    expr(s"vector_dot($a, $b)")

  /** Raw embedding-index plan — see [[sigPlan]] for the build-side split. */
  private[graft] def embPlan(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        expr("cast(embedding as array<double>)").as("emb"))
      .withColumn("norm", sqrt(expr("vector_dot(emb, emb)")))
      .withColumn("bucket", llmRpBucket(col("emb"), embBits(spark, sfDir)))

  /** Embedding index, computed ONCE per (session, sfDir) and persisted:
    * double-cast vector, L2 norm, and RP bucket. Every similarity/near-dup
    * op reads this instead of re-deriving the 384-term bucket expression
    * and per-side norms inside self-joins. At 100 TB this is the vector
    * index build pass every ANN system runs before querying. */
  private[graft] def embIndex(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "embIndex")(memo.persist(embPlan(spark, sfDir)))

  /** Embedding-cosine near-dup candidates: top-100 most similar pairs among
    * RP-bucket collisions (testdata has no >= 0.95 pairs, so ranking — not
    * thresholding — is the meaningful output). `e` is the in-memory
    * [[embIndex]] or a bucket-bucketed stored index, whose scans join
    * bucket i against bucket i with zero exchanges below the ranking. */
  private def embPairs(e: DataFrame): DataFrame = {
    val a = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
      col("norm").as("norm_a"), col("bucket"))
    val b = e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
      col("norm").as("norm_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dotExpr("emb_a", "emb_b") / (col("norm_a") * col("norm_b")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(100)
  }

  val llmDedupEmbedding: QFn = (spark, sfDir) => embPairs(embIndex(spark, sfDir))

  /** Semantic-dedup demo threshold for the near-random fixture vectors
    * (within-bucket pair cosines top out near 0.49 across the test tiers);
    * production corpora with true semantic duplicates run ~0.95. Stored in
    * exact micro-units so the Spark plan and the oracle compare integers. */
  private val SemTauQ = 350000L

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) re-expressed on the
    * engine's own index machinery: cluster the corpus, and within each
    * cluster drop every vector that has a near-duplicate partner LESS
    * representative of the cluster (lower centroid-cosine; the paper's
    * keep-the-low-centroid-sim rule, which preferentially retains the
    * cluster's diverse edge over its redundant core). The clusters here
    * are the RP buckets the index already carries — occupancy is held ~8
    * by the derived width, so the within-cluster pairwise pass is
    * O(occupancy) per vector = linear in n, the property that makes
    * SemDeDup viable at 100 TB where global pairwise is n².
    *
    * Determinism is the hard part and shapes the plan: centroids are
    * accumulated with the native vector_sumq aggregate (exact integer
    * micro-unit sums — order-independent, unlike float vector_avg), and
    * both the pair cosine and the centroid cosine are quantized to
    * micro-units before any comparison, so the keep/drop ordering is an
    * integer ordering the DuckDB oracle replays exactly. Plan shape: one
    * bucketed-scan aggregate (no exchange below it), centroids broadcast
    * back, one exchange-free within-bucket self-join. */
  val llmDedupSemantic: QFn = (spark, sfDir) => {
    val e = spark.table(embTable(spark, sfDir))
    val cent = e.groupBy("bucket")
      .agg(count(lit(1)).as("n_bucket"), expr("vector_sumq(emb)").as("sq"))
      .select(col("bucket"),
        expr("transform(sq, s -> CAST(s AS DOUBLE) / (1e6 * n_bucket))")
          .as("cvec"))
      .withColumn("cnorm", sqrt(expr("vector_dot(cvec, cvec)")))
    val s = e.join(broadcast(cent), "bucket")
      .select(col("vec_id"), col("bucket"), col("norm"), col("emb"),
        when(col("norm") * col("cnorm") === 0, lit(0L))
          .otherwise(floor(dotExpr("emb", "cvec") / (col("norm") * col("cnorm"))
            * 1e6 + 0.5).cast("long"))
          .as("csim_q"))
    val a = s.select(col("vec_id").as("va"), col("bucket"),
      col("norm").as("na"), col("emb").as("ea"), col("csim_q").as("ca"))
    val b = s.select(col("vec_id").as("vb"), col("bucket"),
      col("norm").as("nb"), col("emb").as("eb"), col("csim_q").as("cb"))
    val psimQ = when(col("na") * col("nb") === 0, lit(0L))
      .otherwise(floor(dotExpr("ea", "eb") / (col("na") * col("nb"))
        * 1e6 + 0.5).cast("long"))
    val dropped = a.hint("merge").join(b, Seq("bucket"))
      .filter(col("va") =!= col("vb") && psimQ >= SemTauQ &&
        (col("cb") < col("ca") ||
          (col("cb") === col("ca") && col("vb") < col("va"))))
      .select(col("va").as("vec_id")).distinct()
    s.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("bucket"), col("csim_q"))
      .orderBy("vec_id")
  }

  /** The embedding index MATERIALIZED as a parquet table bucketed on the
    * RP bucket — the durable vector index: vectors, norms, and bucket
    * assignments are computed once at build time, and the near-dup
    * self-join reads bucket i against bucket i with no exchange on either
    * side (the in-memory [[embIndex]] persist still shuffles both sides of
    * the join; the bucketed table ships the partitioning with the files).
    * 16 file buckets carry the RP bucket column (2^bits values) — files
    * arrive pre-hashed on the join key. */
  private[graft] def embTable(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "embTable") {
      writeIndex(buildSource(spark, sfDir, "embIndex")(embPlan(spark, sfDir)),
        sfDir, "emb_bkt", "emb_index", EmbKeys)
    }

  private val EmbKeys = Seq("bucket")

  /** Vector-index build + occupancy profile: bucket count, vector count,
    * and the max bucket size — the numbers that tell an operator whether
    * the derived width actually bounded the hot bucket (occupancy ~8 ⇒
    * max far below n). Full DuckDB oracle via the shared index CTE. */
  val llmEmbIndexBuild: QFn = (spark, sfDir) =>
    spark.table(embTable(spark, sfDir))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("c")).cast("long").as("n_vectors"),
        max(col("c")).as("max_bucket"))

  val llmDedupEmbeddingIndexed: QFn = (spark, sfDir) =>
    embPairs(stored(spark, embTable(spark, sfDir)))

  /** Table property recording the RP width an emb index was bucketed
    * under — the append-soundness invariant made CHECKABLE (round 20,
    * VERDICT r19 #8): [[projBitsFor]] grows with corpus count, so a
    * pipeline that appends a delta under a width derived AFTER the
    * corpus crossed an occupancy boundary would bucket the delta
    * differently than a rebuild — silently missing every cross-width
    * pair. The builder stamps the width at base-write time;
    * [[embAppendGuard]] re-derives it before every append leg. */
  private[graft] val EmbBitsProperty = "graft.proj_bits"

  /** Refuses an append whose RP width disagrees with the width the base
    * generation was bucketed under. A width flip is the REBUILD trigger
    * for this family (the emb analogue of sim's simChunkGeom boundary,
    * SURVEY §2.10): there is no sound append across it, because bucket
    * ids from different widths are incomparable key spaces. */
  private[graft] def embAppendGuard(spark: SparkSession, tbl: String, bits: Int): Unit = {
    val stored = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .properties.get(EmbBitsProperty)
    require(stored.contains(bits.toString),
      s"emb index $tbl was bucketed under proj_bits=${stored.getOrElse("<unset>")} " +
        s"but the current corpus derives proj_bits=$bits — appending under a " +
        "different RP width would bucket the delta differently than a full " +
        "rebuild (silently losing cross-width pairs); a width flip is this " +
        "family's REBUILD trigger, not an append")
  }

  /** Two-generation embedding index ([[twoGenIndex]] over even/odd
    * vec_ids): the ANN serving family's generation-append maintenance.
    * The RP bucket of a vector is generation-independent (seeded
    * projections + width derived from the FULL corpus count), which is
    * what makes append sound: a delta vector lands in the same bucket it
    * would get in a full rebuild. */
  private[graft] def embAppendTable(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "embAppendTable") {
      val bits = embBits(spark, sfDir)
      twoGenIndex(buildSource(spark, sfDir, "embIndex")(embPlan(spark, sfDir)),
        sfDir, "emb_app", "emb_append", "vec_id", EmbKeys) { (delta, tbl) =>
        // stamp the width the base generation was bucketed under; the
        // append leg re-derives and guards on ITS OWN path
        spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          s"('$EmbBitsProperty' = '$bits')")
        embAppendLeg(spark, sfDir, tbl, delta)
      }
    }

  /** THE append entry point of the emb family (round 21, ADVICE r20 #2):
    * re-derives the RP width from the CURRENT corpus and guards it
    * against the table's stamped width before any rows land — so the
    * width-drift refusal sits on the path the invariant protects (a
    * later-session append over a grown corpus), not only inside the
    * single-session builder where stamp and guard trivially agree.
    * Any future append caller goes through here by construction. */
  private[graft] def embAppendLeg(spark: SparkSession, sfDir: String,
      tbl: String, delta: DataFrame): Unit = {
    embAppendGuard(spark, tbl, embBits(spark, sfDir))
    appendIndex(delta, tbl, EmbKeys)
  }

  val llmEmbIndexAppend: QFn = (spark, sfDir) =>
    embPairs(stored(spark, embAppendTable(spark, sfDir)))

  /** The banded MinHash signature index MATERIALIZED as a parquet table
    * bucketed on the LSH band hash (the join key of candidate generation).
    * The in-memory [[sigIndex]]/[[bandedIndex]] path recomputes shingles +
    * K permutations every session and shuffles both sides of the banded
    * self-join; the stored table pays the signature pass once and joins
    * co-located. Bucketed on BOTH join columns (band, bhash): co-partition
    * elimination requires the bucket columns to cover every join key
    * (requireAllClusterKeysForCoPartition) — a bhash-only layout would be
    * hash-equivalent in principle but the planner rightly refuses it. */
  private[graft] def sigTable(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "sigTable") {
      writeIndex(banded(buildSource(spark, sfDir, "sigIndex")(sigPlan(spark, sfDir))),
        sfDir, "sig_bkt", "sig_index", SigKeys)
    }

  private val SigKeys = Seq("band", "bhash")

  /** Signature-index build + band profile: per band, row count and
    * distinct band-hash count (≈ distinct buckets LSH can route to).
    * xxhash64-based → no DuckDB oracle; NearDupSpec asserts equality with
    * the in-memory banded index. */
  val llmSigIndexBuild: QFn = (spark, sfDir) =>
    spark.table(sigTable(spark, sfDir))
      .groupBy("band")
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("bhash")).as("n_buckets"))
      .orderBy("band")

  /** Two-generation signature index ([[twoGenIndex]] over even/odd
    * doc_ids). */
  private[graft] def sigAppendTable(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "sigAppendTable") {
      twoGenIndex(banded(buildSource(spark, sfDir, "sigIndex")(sigPlan(spark, sfDir))),
        sfDir, "sig_app", "sig_append", "doc_id", SigKeys)(appendIndex(_, _, SigKeys))
    }

  /** MinHash near-dup pairs over the MATERIALIZED signature index, with
    * both sides of the candidate join reading the bucketed table: no
    * signature recompute, no exchange on the band hash. */
  val llmDedupMinhashIndexed: QFn = (spark, sfDir) =>
    minhashNearDups(minhashPairs(stored(spark, sigTable(spark, sfDir))))

  /** Minhash near-dup pairs from the APPENDED two-generation index. no_oracle
    * (xxhash64 signatures), same waiver as the other sig-index ops. */
  val llmSigIndexAppend: QFn = (spark, sfDir) =>
    minhashNearDups(minhashPairs(stored(spark, sigAppendTable(spark, sfDir))))

  /** The chunked SimHash index MATERIALIZED as a parquet table bucketed on
    * (chunk, cval) — the candidate join's full key set, so both sides of
    * the self-join read co-located files with no exchange (same
    * requireAllClusterKeysForCoPartition contract as [[sigTable]]). The
    * length band moves OUT of the join key and into a post-join filter
    * (abs(lb_a − lb_b) <= 1 — identical retention semantics to the
    * in-memory ±1 band probe, since colliding on the same (chunk, cval)
    * plus band distance <= 1 is exactly the banded-join predicate), which
    * is what makes a fixed 16-bucket layout possible: band values grow
    * with document length and cannot be bucket keys. Chunk geometry at
    * build time follows [[simChunkGeom]]; the stored rows carry the
    * fingerprint halves so consumers rank by full 128-bit Hamming without
    * touching the documents table. */
  private[graft] def simTable(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "simTable") {
      val geom = simGeom(spark, sfDir)
      // Build source (round 19): the in-memory fingerprint persist when a
      // consumer already built it, else a BUILD-LOCAL bitsums persist
      // (the fold's semantic barrier — see bitsumsPlan) released the
      // moment the files are written, instead of living co-resident with
      // the next builder (the r18/r19 neighbor effect).
      val (src, release) = memo.peek[DataFrame](spark, sfDir, "simIndex") match {
        case Some(df) => (df, () => ())
        case None =>
          val bs = bitsumsPlan(spark, sfDir)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (simFoldPlan(bs), () => { bs.unpersist(); () })
      }
      try writeIndex(simChunks(src.withColumn("lb", lengthBand), geom),
        sfDir, "sim_bkt", "sim_index", Seq("chunk", "cval"))
      finally release()
    }

  /** SimHash-index build + chunk profile: per chunk position, row count
    * and distinct chunk values (how full the 2^w value space runs).
    * xxhash64-based → no DuckDB oracle; FingerprintSpec asserts the
    * indexed consumer equals the in-memory operator byte-for-byte. */
  val llmSimIndexBuild: QFn = (spark, sfDir) =>
    spark.table(simTable(spark, sfDir))
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("cval")).as("n_cvals"))
      .orderBy("chunk")

  /** SimHash near-dup pairs over the MATERIALIZED chunk index —
    * byte-identical results to [[llmDedupSimhash]] (FingerprintSpec
    * asserts), with both sides of the candidate join reading the bucketed
    * table: no fingerprint recompute, no exchange on (chunk, cval); the
    * band check runs as a post-join filter. */
  val llmDedupSimhashIndexed: QFn = (spark, sfDir) => {
    val idx = stored(spark, simTable(spark, sfDir))
    val a = idx.withColumnsRenamed(Map(
      "doc_id" -> "doc_a", "simhash" -> "sim_a", "simhash2" -> "sim_a2", "lb" -> "lb_a"))
    val b = idx.withColumnsRenamed(Map(
      "doc_id" -> "doc_b", "simhash" -> "sim_b", "simhash2" -> "sim_b2", "lb" -> "lb_b"))
    simhashRanked(a.join(b, Seq("chunk", "cval"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("lb_a") - col("lb_b")) <= 1))
  }

  /** Incremental dedup — the production ingest shape: a DELTA BATCH (odd
    * doc_ids, the driver-stable stand-in for "today's crawl") deduped
    * AGAINST the existing corpus (even doc_ids) through the stored
    * signature index — batch×corpus, never corpus×corpus. Candidates come
    * from the bucketed sig table (the parity predicates push into both
    * bucketed scans); verification is exact hashed-shingle Jaccard >= 0.5
    * from the signature index. Output (doc_new, doc_old, jaccard) — the
    * pairs an ingest pipeline drops or links before appending. The DuckDB
    * oracle replays the exact cross-side gram join, so — like
    * llm_dedup_ngram_jaccard — it doubles as an LSH recall gate: a banding
    * regression that misses a true cross pair fails correctness, not just
    * a property spec. */
  val llmDedupIncrementalBatch: QFn = (spark, sfDir) => {
    val idx = stored(spark, sigTable(spark, sfDir))
    val newSide = idx.filter(pmod(col("doc_id"), lit(2)) === 1)
      .withColumnsRenamed(Map("doc_id" -> "doc_new", "sig" -> "sig_new"))
    val oldSide = idx.filter(pmod(col("doc_id"), lit(2)) === 0)
      .withColumnsRenamed(Map("doc_id" -> "doc_old", "sig" -> "sig_old"))
    val cands = newSide.join(oldSide, Seq("band", "bhash"))
      .select("doc_new", "doc_old").distinct()
    jaccardVerified(spark, sfDir, cands, "doc_new", "doc_old")
      .orderBy("doc_new", "doc_old")
  }

  /** The stored per-doc gram sets ([[gramSetTable]]) as a frame, rows as
    * [[gramSetPlan]]: the exact-verification operand of containment. */
  private[graft] def gramSets(spark: SparkSession, sfDir: String): DataFrame =
    spark.table(gramSetTable(spark, sfDir))

  /** One row per doc of a (doc_id, g) gram frame: `gs` its distinct gram
    * hashes, SORTED so the per-pair intersection runs as
    * sorted_intersect_count's two-pointer merge; `n` their count; `c` how
    * many of them have document frequency above [[RareDfCap]] — the
    * per-doc half of [[containmentKept]]'s bound. `c` is `n` minus the
    * doc's grams in `lowDf`, the (g, ds) groups of every gram of df ≤
    * RareDfCap, so no gram-keyed aggregate runs here. */
  private def gramSetPlan(grams: DataFrame, lowDf: DataFrame): DataFrame = {
    val sets = grams.select("doc_id", "g").groupBy("doc_id")
      .agg(sort_array(collect_set(col("g"))).as("gs"), count(lit(1)).as("n"))
    val nLow = lowDf.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_low"))
    sets.join(nLow, Seq("doc_id"), "left")
      .select(col("doc_id"), col("gs"), col("n"),
        (col("n") - coalesce(col("n_low"), lit(0L))).as("c"))
  }

  /** The per-doc gram sets MATERIALIZED as a parquet table bucketed on
    * doc_id — the set index containment verifies against, so a call
    * assembles no sets and shuffles no gram rows. Written with
    * [[gramRareTable]] from one capped aggregate over the stored
    * [[gramTable]]'s rows. */
  private[graft] def gramSetTable(spark: SparkSession, sfDir: String): String =
    gramDerivedTables(spark, sfDir)._2

  /** The stored rare-gram groups (g, ds) — exactly
    * `rareGroups(grams_bkt, "g")` — bucketed on g: the blocking input of
    * containment, read instead of re-aggregating every gram row per call. */
  private[graft] def gramRareTable(spark: SparkSession, sfDir: String): String =
    gramDerivedTables(spark, sfDir)._1

  /** (rare-gram table, gram-set table), written from ONE capped
    * `groupBy(g).collect_upto` pass over the g-bucketed gram table (no
    * exchange on g). Its df ≤ RareDfCap groups are held for the two writes
    * and released: the rare table keeps the df ≥ 2 ones, and the set
    * table's `c` needs the df = 1 ones too, which the rare table drops. */
  private def gramDerivedTables(spark: SparkSession, sfDir: String): (String, String) =
    memo(spark, sfDir, "gramDerivedTables") {
      val gs = grams(spark, sfDir)
      val lowDf = cappedGroups(gs.select("doc_id", "g"), "g")
        .filter(size(col("ds")) <= RareDfCap)
        .persist()
      try {
        (writeIndex(lowDf.filter(size(col("ds")) >= 2),
            sfDir, "gram_rare_bkt", "gram_rare_index", GramKeys),
          writeIndex(gramSetPlan(gs, lowDf),
            sfDir, "gram_sets_bkt", "gram_set_index", Seq("doc_id")))
      } finally lowDf.unpersist()
    }

  /** Upper df bound of rare-key blocking: only keys (gram hashes / winnow
    * fps) present in 2..RareDfCap docs generate candidate pairs, so the
    * candidate count is ≤ rare_keys · C(RareDfCap, 2) — linear in corpus
    * size. Shared by the containment and span families (and their
    * oracles' BETWEEN 2 AND 5 literals). */
  private[graft] val RareDfCap = 5

  /** THE shared one-scan candidate generator of the rare-key blocking
    * family (round 18 — VERDICT r17 #1 unified the four call sites):
    * one `groupBy(key).collect_upto(doc_id, RareDfCap+1)` pass over any
    * (doc_id, key) source — a key-bucketed stored table (where the
    * aggregate runs partial-per-bucket with no exchange on the key) or a
    * raw posting — keeping groups with df ∈ [2, RareDfCap].
    * `collect_upto` (native, graft.functions.CollectUpto) bounds the
    * aggregation state at RareDfCap+1 longs per key, so a hot stopword-
    * like key never materializes its posting list before being discarded
    * (ADVICE r17 — plain collect_list held O(df) state per hot key);
    * capped groups read as size RareDfCap+1 and fail the BETWEEN, which
    * is exactly the old count-then-semi-join semantics in one scan. */
  private[graft] def rareGroups(src: DataFrame, key: String): DataFrame =
    cappedGroups(src, key).filter(size(col("ds")).between(2, RareDfCap))

  /** (key, ds) for every key of (doc_id, key) `src`: its doc_ids, capped
    * at RareDfCap+1 (a capped group is hot). */
  private def cappedGroups(src: DataFrame, key: String): DataFrame = {
    // the collected value column is doc_id by contract (ADVICE r18: a
    // caller with a differently named id column would hit an opaque
    // AnalysisException — or silently collect a stray doc_id column)
    require(src.columns.contains("doc_id"),
      s"rareGroups collects doc_id per $key group; source has ${src.columns.mkString(", ")}")
    graft.functions.GraftFunctions.ensure(src.sparkSession)
    src.groupBy(key)
      .agg(expr(s"collect_upto(doc_id, ${RareDfCap + 1})").as("ds"))
  }

  /** Ordered candidate pairs out of [[rareGroups]] output: the ≤
    * C(RareDfCap,2)=10 (doc_a < doc_b) pairs per surviving key explode
    * out of the grouped row — one row per (key, pair) occurrence, so
    * callers count multiplicity per pair (containment's m, span's
    * n_shared_fp). */
  private[graft] def rarePairs(groups: DataFrame): DataFrame =
    groups
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))

  /** Rare-gram candidate groups (g, ds) of containment, read from the
    * stored [[gramRareTable]]. */
  private[graft] def rareGramGroups(spark: SparkSession, sfDir: String): DataFrame =
    spark.table(gramRareTable(spark, sfDir))

  /** Train/eval decontamination — the benchmark-leakage check every
    * training corpus runs: split the corpus (even doc_id = train, odd =
    * eval), hash each doc's distinct 13-grams, and flag eval docs sharing
    * any 13-gram with the train side. The collision test is a semi-join on
    * the gram hash — shuffle scales with distinct grams, never pairs.
    * Brute-force-verified in NearDupSpec. `grams` is a g-bucketed stored
    * table, so both sides of the semi-join are bucketed scans with no
    * exchange on g anywhere in the plan (PlanSpec asserts) — the only
    * shuffle left is the final per-doc aggregate. */
  private def decontam(grams: DataFrame): DataFrame = {
    val trainGrams = grams.filter(col("is_train")).select("g").distinct()
    grams.filter(!col("is_train"))
      .join(trainGrams, Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  /** Decontamination behind an EXPLICIT bloom prefilter — the engine-
    * native runtime filter (join_runtime_bloom) made into a reusable
    * artifact: the train-side distinct grams aggregate into one bloom
    * (`bloom_filter_agg`, ~1 MB of bits for ~1M grams at ~2% FPP), the
    * test side probes it via the registered `bloom_might_contain` (a
    * scalar subquery — the expression refuses anything non-constant, so
    * the bloom is evaluated once and shipped with the plan), and only
    * the surviving grams enter the exact semi-join that kills the false
    * positives. Result is therefore IDENTICAL to
    * [[llmDecontaminateIndexed]] (blooms never false-negative) and shares
    * its full DuckDB oracle. The SQL reads the stored [[gramTable]] by its
    * catalog name; the bloom's view carries the corpus tag, so two corpora
    * on one session never read each other's bloom.
    * At 100 TB the bloom is the shipping format of a decontamination
    * list: the eval-set gram bloom is built once, broadcast to every
    * ingest job, and cuts the semi-join's shuffle to the ~matching
    * fraction + FPP instead of every gram of every new document —
    * PlanSpec asserts the probe sits under the join, not above it. */
  val llmDecontaminateBloom: QFn = (spark, sfDir) => {
    val tbl = gramTable(spark, sfDir)
    val bloom = s"train_bloom_${graft.util.Scratch.pathTag(sfDir)}"
    trainBloom(spark, sfDir).createOrReplaceTempView(bloom)
    spark.sql(
      s"""WITH tr AS (SELECT DISTINCT g FROM $tbl WHERE is_train)
        |SELECT doc_id, count(*) AS n_shared_grams
        |FROM $tbl t
        |WHERE NOT t.is_train
        |  AND bloom_might_contain((SELECT b FROM $bloom), t.g)
        |  AND t.g IN (SELECT g FROM tr)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** The train-gram bloom, built ONCE per (session, sfDir) and persisted
    * — the decontamination-list artifact the bloom op exists for: ~1 MB
    * of bits, aggregated in one pass over the train grams, then reused
    * by every probe (Warmup builds it untimed next to the other
    * indexes, so the op's bench row measures the probe+confirm, which
    * is its steady state once the list is shipped). */
  private[graft] def trainBloom(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "trainBloom") {
      memo.persist(grams(spark, sfDir)
        .filter(col("is_train")).select("g").distinct()
        .agg(expr("bloom_filter_agg(g)").as("b")))
    }

  /** The exploded 13-gram-hash rows (doc_id, is_train, g) MATERIALIZED as
    * a parquet table hash-bucketed on the gram hash — the gram family's
    * only materialization, and the artifact a 100 TB pipeline actually
    * builds: the gram pass over the corpus runs ONCE at index-build time,
    * and every consumer (decontamination, passage profiling, containment,
    * the set and two-generation tables) scans the bucketed files with NO
    * exchange on g — the bucketed scan already reports HashPartitioning(g,
    * N), so gram-keyed distincts and joins are co-located for free (the
    * Bucketing.sinkBucketedColocated pattern applied to an index instead
    * of a fact table). Native ngram_hashes (round 11) gives the same
    * distinct-gram-hash set as the HOF array_distinct∘transform∘xxhash64∘
    * substring spelling, one tight eval per row; the hoisted normalized
    * text keeps lower(trim(text)) evaluated once per doc. Built once per
    * (session, sfDir); consumers call this idempotently. */
  private[graft] def gramTable(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "gramTable") {
      writeIndex(Tables(spark, sfDir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), lower(trim(col("text"))).as("t"))
        .select(col("doc_id"), (pmod(col("doc_id"), lit(2)) === 0).as("is_train"),
          explode(expr("ngram_hashes(t, 13)")).as("g")),
        sfDir, "grams_bkt", "gram_index", GramKeys)
    }

  private val GramKeys = Seq("g")

  /** The stored [[gramTable]]'s rows. */
  private def grams(spark: SparkSession, sfDir: String): DataFrame =
    spark.table(gramTable(spark, sfDir))

  /** Index build + profile: write the bucketed gram table (no-op if this
    * session already built it) and report the per-split row/distinct-gram
    * counts — the sanity numbers a pipeline records after every index
    * build. The distinct count runs partial-per-bucket with no exchange on
    * g (the build's bucketing pays for itself in the very first query).
    * Distinct-of-hashes equals distinct-of-grams (the 64-bit collision
    * argument the decontaminate oracle already rests on). */
  val llmGramIndexBuild: QFn = (spark, sfDir) =>
    grams(spark, sfDir)
      .groupBy("is_train")
      .agg(count(lit(1)).as("n_gram_rows"),
        countDistinct(col("g")).as("n_distinct_grams"))
      .orderBy("is_train")

  /** Two-generation gram index ([[twoGenIndex]]): the most-consumed index
    * family (decontaminate / containment / passage all read it) —
    * "yesterday's" generation is the train docs (even doc_ids), "today's"
    * delta the eval docs. At 100 TB a 0.1% delta costs one delta-sized
    * gram pass + write instead of rebuilding the biggest table on the
    * board (the ×128 build decomposition that motivated this is in
    * BASELINE.md round 19). */
  private[graft] def gramAppendTable(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "gramAppendTable") {
      twoGenIndex(grams(spark, sfDir), sfDir, "grams_app", "gram_append", "doc_id",
        GramKeys)(appendIndex(_, _, GramKeys))
    }

  /** Decontamination served from the APPENDED two-generation gram index:
    * the eval generation probes the train generation ACROSS the
    * generation boundary. */
  val llmGramIndexAppend: QFn = (spark, sfDir) =>
    decontam(stored(spark, gramAppendTable(spark, sfDir)))

  /** Decontamination over the stored gram index; registered as both
    * llm_decontaminate and llm_decontaminate_indexed. */
  val llmDecontaminateIndexed: QFn = (spark, sfDir) =>
    decontam(stored(spark, gramTable(spark, sfDir)))

  /** Repeated-passage profile — the WITHIN-corpus counterpart of
    * decontamination (the signal behind Lee et al.'s substring-level
    * dedup): for every doc, what fraction of its distinct 13-grams also
    * appears in at least one OTHER document. Boilerplate, licence headers,
    * and templated spam score high; unique prose scores ~0. Reads the
    * same stored gram index as llm_decontaminate (one linear gram pass
    * per corpus, shared by both operators); cross-doc repetition is a
    * count-distinct-docs aggregate per gram plus one semi-join back —
    * shuffles carry distinct grams, never doc pairs. The per-doc fraction
    * is integer-ratio arithmetic, so the rounded score is engine-exact. */
  val llmDedupPassage: QFn = (spark, sfDir) => {
    val gs = grams(spark, sfDir).select("doc_id", "g")
    val shared = gs.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val perDoc = gs.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val rep = gs.join(shared, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_repeated"))
    perDoc.join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        round(coalesce(col("n_repeated"), lit(0L)).cast("double")
          / col("n_grams"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Containment (asymmetric overlap) dedup — the doc-inside-doc signal
    * symmetric Jaccard structurally misses: a 300-gram doc fully embedded
    * in a 3000-gram doc has Jaccard ≈ 0.1 (invisible to the ≥0.5 near-dup
    * pass) but containment |A∩B|/|A| = 1.0 — quotation farms, page
    * wrappers around syndicated articles, and doc-plus-boilerplate
    * composites all look exactly like this. Candidates come from
    * RARE-GRAM BLOCKING (the posting-list/prefix-filter idiom): only
    * 13-grams appearing in 2..5 docs generate pairs, so the candidate
    * count is bounded by Σ_rare-grams C(df,2) ≤ rare_grams · C(5,2) —
    * linear in corpus size by construction, where an unblocked
    * posting-list self-join is quadratic in the head gram's df. Pairs
    * explode out of the stored rare-gram groups ([[gramRareTable]]) and
    * are verified against the doc_id-bucketed [[gramSetTable]] by
    * [[containmentVerified]], so a call aggregates no gram rows and
    * assembles no sets: the only exchanges left are keyed on doc pairs.
    * At 100 TB both tables are built once at index-build time and every
    * call rides the same files. Both containment directions are
    * reported; the ≥0.5 keep-gate is on the max. Registered as both
    * llm_dedup_containment and llm_dedup_containment_indexed. */
  val llmDedupContainmentIndexed: QFn = (spark, sfDir) =>
    containmentVerified(containmentCandidates(rareGramGroups(spark, sfDir)),
      gramSets(spark, sfDir))

  /** Candidate pairs (doc_a, doc_b, m) out of rare-gram groups: `m` is the
    * number of grams of df in [2, RareDfCap] the two docs share. */
  private[graft] def containmentCandidates(groups: DataFrame): DataFrame =
    rarePairs(groups).groupBy("doc_a", "doc_b").agg(count(lit(1)).as("m"))

  /** The candidates that can still reach containment 0.5, with their set
    * sizes (doc_a, doc_b, n_a, n_b). Every shared gram outside a pair's
    * `m` has df > RareDfCap, so it is among the `c` hot grams of BOTH docs:
    * n_shared ≤ m + min(c_a, c_b). A pair with 2·(m + min(c_a, c_b)) <
    * min(n_a, n_b) therefore has max containment below 0.5 and drops here,
    * an exact prune that joins only the skinny (doc_id, n, c) columns —
    * no gram array moves for it. */
  private[graft] def containmentKept(cand: DataFrame, sets: DataFrame): DataFrame = {
    def side(s: String) = sets.select(col("doc_id").as(s"doc_$s"),
      col("n").as(s"n_$s"), col("c").as(s"c_$s"))
    cand.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
      .filter(lit(2) * (col("m") + least(col("c_a"), col("c_b")))
        >= least(col("n_a"), col("n_b")))
      .select("doc_a", "doc_b", "n_a", "n_b")
  }

  /** Exact containment verification: the candidates [[containmentKept]]
    * leaves join their sorted gram sets, the native two-pointer merge
    * (sorted_intersect_count, which fails loudly on unsorted input) counts
    * the shared grams, and pairs whose max containment direction clears
    * 0.5 report both directions. */
  private def containmentVerified(cand: DataFrame, sets: DataFrame): DataFrame =
    containmentKept(cand, sets)
      .join(sets.select(col("doc_id").as("doc_a"), col("gs").as("gs_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("gs").as("gs_b")), Seq("doc_b"))
      .withColumn("n_shared", expr("sorted_intersect_count(gs_a, gs_b)"))
      .filter(greatest(col("n_shared") / col("n_a"),
        col("n_shared") / col("n_b")) >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        round(col("n_shared").cast("double") / col("n_a"), 4).as("cont_a"),
        round(col("n_shared").cast("double") / col("n_b"), 4).as("cont_b"))
      .orderBy("doc_a", "doc_b")

  /** Substring-level (span) dedup via WINNOWING fingerprints
    * (Schleimer/Wilkerson/Aiken 2003, the MOSS idiom — and the spirit of
    * suffix-array substring dedup à la Lee et al. 2022, expressed as a
    * bounded-index equi-join instead of a suffix array): documents that
    * EMBED the same literal run ≥ w+n−1 = 23 chars, even when their
    * overall gram sets are dissimilar (Jaccard and MinHash both miss a
    * paragraph pasted into an otherwise-unrelated page; containment
    * needs one side mostly-contained — a shared boilerplate block
    * triggers neither). The native winnow_fps expression selects each
    * 16-window's min gram hash (~2/(w+1) ≈ 12% of positions), so the
    * posting index is ~8.5× smaller than full gram inversion while the
    * shared-run guarantee holds by construction (TextHashSpec pins it).
    * Candidates come from the same rare-fp blocking as containment
    * (fps in 2..5 docs → pairs bounded by rare_fps·C(5,2), linear in
    * corpus size); pairs are ranked by shared-rare-fp count with the
    * estimated shared-span chars (n_fp·(w+1)/2 — the winnow density
    * inverted). no_oracle (xxhash64 winnowing not expressible in
    * DuckDB); NearDupSpec plants spliced spans and brute-checks
    * soundness.
    *
    * Candidate pairs explode out of the stored rare-fp groups
    * ([[spanRareTable]]): the ≤C(5,2)=10 ordered pairs per fp of df 2..5,
    * so a call aggregates no fingerprint rows and only the doc-pair
    * aggregate shuffles (PlanSpec asserts zero fp-keyed exchanges).
    * Registered as both llm_dedup_span and llm_dedup_span_indexed. */
  val llmDedupSpanIndexed: QFn = (spark, sfDir) =>
    spanPairsFromGroups(spark.table(spanRareTable(spark, sfDir)))

  /** (doc_id, fp) winnow-fingerprint rows of a (doc_id, text) frame —
    * the linear scan the bucketed [[spanTable]] build runs once per
    * corpus. */
  private def spanFps(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .select(col("doc_id"), explode(expr("winnow_fps(t, 8, 16)")).as("fp"))

  /** Span pair scoring: multiplicity per ordered pair
    * = shared-rare-fp count, ≥2 to report, with the estimated shared-span
    * chars (n_fp·(w+1)/2 — the winnow density inverted). */
  private def spanPairsFromGroups(groups: DataFrame): DataFrame =
    rarePairs(groups)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= 2)
      .withColumn("est_span_chars", expr("n_shared_fp * 17 div 2"))
      .orderBy("doc_a", "doc_b")

  /** Core of [[llmDedupSpanIndexed]] over any (doc_id, text) frame — NearDupSpec
    * replays it on corpora with planted spliced spans (uncached; spec
    * corpora are synthetic one-shots). */
  private[graft] def spanPairs(docs: DataFrame): DataFrame =
    spanPairsFromGroups(rareGroups(spanFps(docs), "fp"))

  /** Materialized winnow-fp posting table, bucketed on fp — the span
    * family's build-once artifact (companion to gramTable/sigTable): the
    * winnow pass runs once at index-build time; every consumer join on fp
    * is then exchange-free. */
  private[graft] def spanTable(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "spanTable") {
      writeIndex(spanFps(Tables(spark, sfDir, "documents").select("doc_id", "text")),
        sfDir, "span_bkt", "span_index", Seq("fp"))
    }

  /** The stored rare-fp groups (fp, ds) — exactly
    * `rareGroups(span_bkt, "fp")` — bucketed on fp: one exchange-free
    * `groupBy(fp).collect_upto(doc_id, 6)` pass over the fp-bucketed
    * [[spanTable]] per corpus (a hot boilerplate fingerprint holds ≤6
    * doc_ids in its buffer, never its posting list). */
  private[graft] def spanRareTable(spark: SparkSession, sfDir: String): String =
    memo(spark, sfDir, "spanRareTable") {
      writeIndex(rareGroups(spark.table(spanTable(spark, sfDir)).select("doc_id", "fp"), "fp"),
        sfDir, "span_rare_bkt", "span_rare_index", Seq("fp"))
    }

  /** Span-index build + profile: posting rows and distinct fingerprints —
    * the density numbers a pipeline records per build (fps/doc ≈ 12% of
    * gram positions is the winnow selectivity claim, measured per corpus
    * by ScaleCheck's span section). The distinct count runs
    * partial-per-bucket with no exchange on fp. xxhash64-based →
    * no DuckDB oracle; NearDupSpec asserts profile equality with a
    * direct winnow pass over the corpus. */
  val llmSpanIndexBuild: QFn = (spark, sfDir) =>
    spark.table(spanTable(spark, sfDir))
      .agg(count(lit(1)).as("n_fp_rows"),
        countDistinct(col("fp")).as("n_distinct_fps"))

  /** End-to-end corpus-cleaning pipeline — the composition a real
    * training-data build runs, as ONE operator with per-stage survivor
    * counts (the funnel every pipeline dashboard shows):
    *   0 raw → 1 quality filter (TextOps.llmQualityFilter's keep rule)
    *   → 2 exact dedup (min doc_id per normalized-text hash)
    *   → 3 near-dup removal (drop any doc with a smaller-id exact-verified
    *     Jaccard≥0.5 neighbor among stage-2 survivors — single-pass rule,
    *     deterministic without union-find).
    * Every stage reuses the shared per-corpus indexes (quality scan,
    * verified pair set), so the composite costs barely more than its most
    * expensive member; the DuckDB oracle replays all four stages from raw
    * text. Semi/anti joins keyed on doc_id — linear at any corpus size. */
  val llmPipelineCleanCorpus: QFn = (spark, sfDir) => {
    val docs = Tables(spark, sfDir, "documents")
    val kept1 = graft.llm.TextOps.llmQualityFilter(spark, sfDir)
      .filter(col("keep")).select("doc_id")
    val kept2 = docs.join(kept1, Seq("doc_id"), "left_semi")
      .withColumn("h", sha2(lower(trim(col("text"))), 256))
      .groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val pairs = verifiedPairs(spark, sfDir).select("doc_a", "doc_b")
    val dropped = pairs
      .join(kept2.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(kept2.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
      .select(col("doc_b").as("doc_id")).distinct()
    val kept3 = kept2.join(dropped, Seq("doc_id"), "left_anti")
    def stage(i: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i).as("stage"), lit(name).as("stage_name"), col("n_docs"))
    stage(0, "raw", docs)
      .unionByName(stage(1, "quality_filter", kept1))
      .unionByName(stage(2, "exact_dedup", kept2))
      .unionByName(stage(3, "neardup_removal", kept3))
      .orderBy("stage")
  }

  /** Inter-source contamination matrix (round 18, VERDICT r17 #3) — the
    * dataset-mixing signal a multi-source corpus build reads BEFORE
    * weighting sources: for every (source_a, source_b) with any overlap,
    * the count and fraction of source A's docs that have an exact-verified
    * Jaccard≥0.5 near-dup partner in source B ("which crawls duplicate
    * each other", including the A=B diagonal — a source's internal dup
    * rate). Pure composition over the persisted verified-pair graph
    * ([[verifiedPairs]] — exact hashed-shingle Jaccard over LSH
    * candidates, the llm_dedup_ngram_jaccard argument, so the matrix is
    * FULLY DuckDB-replayable from raw text) symmetrized and labeled by
    * documents.source. Scale shape: the pair graph is collision-sized
    * (≪ corpus), the label join is keyed on doc_id, the matrix aggregate
    * is keyed on (source_a, source_b) with map-side partials, and the
    * per-source size table (|sources| rows) broadcasts — nothing here
    * rescans text. Docs with multiple partners in B count ONCE
    * (distinct doc_a). */
  val llmSourceOverlap: QFn = (spark, sfDir) => {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "source")
    val pairs = verifiedPairs(spark, sfDir).select("doc_a", "doc_b")
    val sym = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val labeled = sym
      .join(docs.withColumnsRenamed(
        Map("doc_id" -> "doc_a", "source" -> "source_a")), Seq("doc_a"))
      .join(docs.withColumnsRenamed(
        Map("doc_id" -> "doc_b", "source" -> "source_b")), Seq("doc_b"))
    val overlap = labeled.groupBy("source_a", "source_b")
      .agg(countDistinct(col("doc_a")).as("n_overlap_docs"))
    val sizes = docs.groupBy(col("source").as("source_a"))
      .agg(count(lit(1)).as("n_docs_a"))
    overlap.join(broadcast(sizes), Seq("source_a"))
      .select(col("source_a"), col("source_b"), col("n_overlap_docs"),
        col("n_docs_a"),
        round(col("n_overlap_docs").cast("double") / col("n_docs_a"), 4)
          .as("overlap_rate"))
      .orderBy("source_a", "source_b")
  }

  val queries: Map[String, QFn] = Map(
    "llm_source_overlap" -> llmSourceOverlap,
    "llm_pipeline_clean_corpus" -> llmPipelineCleanCorpus,
    "llm_gram_index_build" -> llmGramIndexBuild,
    "llm_gram_index_append" -> llmGramIndexAppend,
    "llm_emb_index_append" -> llmEmbIndexAppend,
    "llm_dedup_cluster_incremental" -> llmDedupClusterIncremental,
    "llm_decontaminate_indexed" -> llmDecontaminateIndexed,
    "llm_emb_index_build" -> llmEmbIndexBuild,
    "llm_dedup_embedding_indexed" -> llmDedupEmbeddingIndexed,
    "llm_sig_index_build" -> llmSigIndexBuild,
    "llm_dedup_minhash_indexed" -> llmDedupMinhashIndexed,
    "llm_sig_index_append" -> llmSigIndexAppend,
    "llm_sim_index_build" -> llmSimIndexBuild,
    "llm_dedup_simhash_indexed" -> llmDedupSimhashIndexed,
    "llm_dedup_incremental_batch" -> llmDedupIncrementalBatch,
    "llm_dedup_passage" -> llmDedupPassage,
    "llm_dedup_containment" -> llmDedupContainmentIndexed,
    "llm_dedup_containment_indexed" -> llmDedupContainmentIndexed,
    "llm_dedup_span" -> llmDedupSpanIndexed,
    "llm_span_index_build" -> llmSpanIndexBuild,
    "llm_dedup_span_indexed" -> llmDedupSpanIndexed,
    "llm_decontaminate" -> llmDecontaminateIndexed,
    "llm_decontaminate_bloom" -> llmDecontaminateBloom,
    "llm_dedup_exact" -> llmDedupExact,
    "llm_dedup_exact_normalized" -> llmDedupExactNormalized,
    "llm_dedup_minhash" -> llmDedupMinhash,
    "llm_dedup_ngram_jaccard" -> llmDedupNgramJaccard,
    "llm_dedup_simhash" -> llmDedupSimhash,
    "llm_dedup_embedding" -> llmDedupEmbedding,
    "llm_dedup_semantic" -> llmDedupSemantic,
    "llm_dedup_cluster" -> llmDedupCluster,
  )

  // -----------------------------------------------------------------------
  // Weak-form oracles for the xxhash-sketch dedup/index ops (round 15 —
  // the same estimate⋈exact-twin pattern Advanced.verifyQueries set for
  // the approx aggregates): Verify dumps a VERIFICATION frame whose exact
  // columns DuckDB replays verbatim and whose bound booleans the oracle
  // pins TRUE. Consumed ONLY by Verify — Bench times the production plans.
  // -----------------------------------------------------------------------

  /** MinHash recall/accuracy frame, shared by the three signature-pair
    * producers (in-memory, indexed, two-generation append — byte-identical
    * outputs, each frame exercising ITS OWN path): one row per TRUE
    * Jaccard≥0.5 pair (exact hashed-shingle Jaccard via [[verifiedPairs]],
    * whose pair SET DuckDB replays from raw 5-gram substrings — the
    * llm_dedup_ngram_jaccard argument, so a banding regression that drops
    * a true pair fails rows_match), `detected` asserting the pair also
    * cleared the est_jaccard≥0.5 sketch gate, and `est_ok` asserting the
    * K=32 signature estimate sits within 0.25 of the exact Jaccard
    * (measured max |est−exact| across tiers: 0.17 at sf0.1; binomial σ at
    * J=0.5, K=32 is 0.088 — 0.25 is ~2.8σ). Pairs the sketch detects
    * SPURIOUSLY (est≥0.5, exact<0.5 — one at sf0.1) stay out of the row
    * set, but their COUNT is now pinned (round 16, closing the last
    * unpinned direction of the LSH contract): `fp_bounded` asserts the
    * spurious-detection count never exceeds
    * max([[VerifyBounds.MinhashFpFloor]],
    * ceil([[VerifyBounds.MinhashFpFrac]] · n_true)) — 4× headroom at the
    * fixture tiers (0 measured), ~13× at sf0.1 (1 measured vs cap 12).
    * A hashing/banding bug that inflates false positives now fails the
    * oracle, not just precision-minded eyeballs. */
  private def minhashVerifyFrame(out: QFn): QFn = (spark, sfDir) => {
    val det = out(spark, sfDir).select(col("doc_a"), col("doc_b"),
      col("est_jaccard"))
    val vp = verifiedPairs(spark, sfDir)
    // spurious = detected pairs absent from the exact >=threshold set;
    // both sides are pair-count-sized (<=256 rows at sf0.1), so the
    // anti-join + scalar count are metadata work broadcast onto the frame
    val fpCount = det.join(vp.select("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"), "left_anti")
      .agg(count(lit(1)).as("n_fp"))
    val trueCount = vp.agg(count(lit(1)).as("n_true"))
    vp.join(det, Seq("doc_a", "doc_b"), "left")
      .crossJoin(broadcast(fpCount)).crossJoin(broadcast(trueCount))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("est_jaccard").isNotNull.as("detected"),
        (col("est_jaccard").isNotNull &&
          abs(col("est_jaccard") - col("jaccard"))
            <= VerifyBounds.MinhashEstTol).as("est_ok"),
        (col("n_fp") <= greatest(lit(VerifyBounds.MinhashFpFloor),
          ceil(lit(VerifyBounds.MinhashFpFrac) * col("n_true")).cast("long")))
          .as("fp_bounded"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash verification frame (shared by the in-memory and indexed
    * twins): the top-200 ranking itself is sketch-valued, but three
    * engine-independent claims about it are checkable — the panel is
    * non-empty and never exceeds its 200-pair cap (`pairs_bounded`; the
    * candidate count itself is corpus-dependent chunk-collision structure,
    * so exact size is NOT pinned — review r15), every EXACT-duplicate
    * document pair appears in it with Hamming 0 (identical text ⇒
    * identical 128-bit fingerprint ⇒ collides on every chunk and its own
    * length band — pinned TRUE over the 8 planted dup pairs at sf0.1,
    * vacuous at the dup-free tiers), and no reported distance exceeds the
    * 128-bit space's midpoint (measured max: 17). Jaccard≥0.9 pairs are
    * NOT asserted: at sf0.1 the 200-pair cut drops 28 of 182 — the
    * ranking's honest behavior, graded by FingerprintSpec instead. */
  private def simhashVerifyFrame(out: QFn): QFn = (spark, sfDir) => {
    val o = out(spark, sfDir).select("doc_a", "doc_b", "hamming")
    // exact-dup discovery joins on the sha2 digest, not the raw lowered
    // text (VERDICT r15 nit #1) — even Verify obeys the production
    // dedup's 32-byte-shuffle discipline; the pair set is identical
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), sha2(lower(trim(col("text"))), 256).as("t"))
    val dups = docs.as("x").join(docs.as("y"),
        col("x.t") === col("y.t") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val dupOk = dups.join(o, Seq("doc_a", "doc_b"), "left")
      .agg(coalesce(min(coalesce(col("hamming") === 0, lit(false))),
        lit(true)).as("dup_zero_ok"))
    val stats = o.agg(count(lit(1)).as("n_pairs"), max(col("hamming")).as("mh"))
    Tables(spark, sfDir, "documents").agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dupOk))
      .select(col("n_docs"),
        (col("n_pairs").between(1, VerifyBounds.SimhashPairCap))
          .as("pairs_bounded"),
        col("dup_zero_ok"),
        (col("mh") <= VerifyBounds.SimhashHamBound).as("ham_bound_ok"))
  }

  /** Span-dedup verification frame (shared by llm_dedup_span and
    * llm_dedup_span_indexed): rare-fp blocking makes the detected pair SET df-dependent at
    * the fingerprint level (not DuckDB-expressible — a long shared run of
    * COMMON vocabulary is invisible once its winnowed fps exceed df 5),
    * so the frame asserts the operator's sound half: every reported pair
    * genuinely shares ≥2 distinct 8-gram shingles (n_shared_fp≥2 implies
    * it by construction — fps ARE selected 8-gram hashes — re-verified
    * here against the full per-doc shingle sets), and the pair list is
    * non-empty at every tier. */
  private def spanVerifyFrame(out: QFn): QFn = (spark, sfDir) => {
    val h8 = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr("ngram_hashes(lower(trim(text)), 8)").as("h8"))
    val checked = out(spark, sfDir).select("doc_a", "doc_b")
      .join(h8.select(col("doc_id").as("doc_a"), col("h8").as("h_a")),
        Seq("doc_a"))
      .join(h8.select(col("doc_id").as("doc_b"), col("h8").as("h_b")),
        Seq("doc_b"))
      .agg(coalesce(min(size(array_intersect(col("h_a"), col("h_b"))) >= 2),
          lit(true)).as("precision_ok"),
        (count(lit(1)) >= 1).as("nonempty_ok"))
    Tables(spark, sfDir, "documents").agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(checked))
  }

  /** Signature-index profile frame: per-band row count is STRUCTURAL
    * (every doc emits exactly one row per band — hash-matched against
    * DuckDB's corpus count), and the distinct band-hash count is bounded
    * above by the distinct-normalized-text count (equal text ⇒ equal
    * signature ⇒ equal band hash) and below by 3/5 of it (collisions only
    * from near-dup banding agreement — measured floor across tiers: 0.83
    * at sf0.1's 45k-pair l23 regime). */
  private val sigIndexVerifyFrame: QFn = (spark, sfDir) => {
    val texts = Tables(spark, sfDir, "documents")
      .agg(countDistinct(lower(trim(col("text")))).as("n_texts"))
    llmSigIndexBuild(spark, sfDir).crossJoin(broadcast(texts))
      .select(col("band"), col("n_rows"),
        (col("n_buckets") <= col("n_texts") &&
          col("n_buckets") >= col("n_texts") * VerifyBounds.SigBucketFloorNum /
            VerifyBounds.SigBucketFloorDen).as("buckets_ok"))
      .orderBy("band")
  }

  /** SimHash-index profile frame: chunk count replays [[simChunkGeom]]
    * from the corpus count in SQL (8 below 1M docs, 4 past it — the same
    * derive-in-both-engines pattern as projBitsSqlDuck), per-chunk rows
    * are structural (= corpus count), and distinct chunk values are
    * bounded by [n_texts/8, min(n_texts, 2^w)] (equal text ⇒ equal chunk
    * value; the floor holds 2× margin under the 31-word fixture's heavy
    * fingerprint correlation — measured min ratio 0.21 at sf0.1). */
  private val simIndexVerifyFrame: QFn = (spark, sfDir) => {
    val (_, w) = simGeom(spark, sfDir)
    val texts = Tables(spark, sfDir, "documents")
      .agg(countDistinct(lower(trim(col("text")))).as("n_texts"))
    llmSimIndexBuild(spark, sfDir).crossJoin(broadcast(texts))
      .select(col("chunk"), col("n_rows"),
        (col("n_cvals") <= least(col("n_texts"), lit(1L << w)) &&
          col("n_cvals") >= col("n_texts") / VerifyBounds.SimCvalFloorDiv)
          .as("cvals_ok"))
      .orderBy("chunk")
  }

  /** Winnow-posting profile frame: gram-position total replays in DuckDB
    * (Σ max(len−7, 1) over normalized text), and the posting size must
    * sit inside the winnow density envelope — selection picks one min per
    * 16-window, so density is ≥ 1/16 by the window guarantee and ≈ 2/17
    * expected (measured 10.5-10.6% at every tier); the [1/16, 1/5] band
    * gives ~2× headroom both ways without admitting a broken winnow. */
  private val spanIndexVerifyFrame: QFn = (spark, sfDir) => {
    val d = Tables(spark, sfDir, "documents")
      .select(length(lower(trim(col("text")))).as("len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(greatest(col("len") - 7, lit(1))).cast("long").as("n_positions"))
    llmSpanIndexBuild(spark, sfDir).crossJoin(broadcast(d))
      .select(col("n_docs"), col("n_positions"),
        (col("n_fp_rows") >= col("n_positions") / VerifyBounds.SpanDensityLoDiv &&
          col("n_fp_rows") <= col("n_positions") / VerifyBounds.SpanDensityHiDiv)
          .as("density_ok"),
        (col("n_distinct_fps") <= col("n_fp_rows")).as("distinct_ok"))
  }

  /** Verification-frame overrides consumed by Verify (SparkEntry wires
    * them next to Advanced.verifyQueries). */
  val verifyQueries: Map[String, QFn] = Map(
    "llm_dedup_minhash" -> minhashVerifyFrame(llmDedupMinhash),
    "llm_dedup_minhash_indexed" -> minhashVerifyFrame(llmDedupMinhashIndexed),
    "llm_sig_index_append" -> minhashVerifyFrame(llmSigIndexAppend),
    "llm_dedup_simhash" -> simhashVerifyFrame(llmDedupSimhash),
    "llm_dedup_simhash_indexed" -> simhashVerifyFrame(llmDedupSimhashIndexed),
    "llm_dedup_span" -> spanVerifyFrame(llmDedupSpanIndexed),
    "llm_dedup_span_indexed" -> spanVerifyFrame(llmDedupSpanIndexed),
    "llm_sig_index_build" -> sigIndexVerifyFrame,
    "llm_sim_index_build" -> simIndexVerifyFrame,
    "llm_span_index_build" -> spanIndexVerifyFrame)

  /** Estimate-vs-exact deltas for the sketch rows' approx_deltas.json
    * evidence (companion to Advanced.approxDeltas): MinHash signature
    * estimates against exact hashed-shingle Jaccard, one row per true
    * pair — report-sized (≤256 pairs at sf0.1). Only the base operator
    * reports (the indexed/append twins are byte-identical by NearDupSpec,
    * so their deltas would be copies). */
  def approxDeltas(spark: SparkSession, sfDir: String,
      ops: Set[String]): Seq[(String, String, String, Double, Double)] =
    if (!ops("llm_dedup_minhash")) Nil
    else llmDedupMinhash(spark, sfDir)
      .join(verifiedPairs(spark, sfDir), Seq("doc_a", "doc_b"))
      .select("doc_a", "doc_b", "est_jaccard", "jaccard")
      .collect().toSeq.map { r =>
        ("llm_dedup_minhash",
          s"${r.getAs[Long]("doc_a")}|${r.getAs[Long]("doc_b")}", "jaccard",
          r.getAs[Double]("est_jaccard"), r.getAs[Double]("jaccard"))
      }

  // Weak-form oracle SQL for the sketch verification frames above. The
  // MinHash frame's row set is the exact-Jaccard≥0.5 pair set — the same
  // raw-substring replay as the ngram_jaccard oracle — with the sketch
  // claims as TRUE-pinned booleans; shared verbatim by the three
  // signature-pair producers (byte-identical outputs by NearDupSpec).
  private val minhashVerifyOracleSql: String =
    ("WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS BIGINT), 5) AS gram " +
      "FROM d, unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS u(i)), " +
      "n AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id), " +
      "c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i " +
      "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2) " +
      "SELECT doc_a, doc_b, " +
      "ROUND(CAST(i AS DOUBLE) / (na.n_sh + nb.n_sh - i), 4) AS jaccard, " +
      "TRUE AS detected, TRUE AS est_ok, TRUE AS fp_bounded " +
      "FROM c JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b " +
      "WHERE ROUND(CAST(i AS DOUBLE) / (na.n_sh + nb.n_sh - i), 4) >= " +
      s"${VerifyBounds.JaccardThreshold} " +
      "ORDER BY doc_a, doc_b")

  private val simhashVerifyOracleSql: String =
    ("SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS pairs_bounded, " +
      "TRUE AS dup_zero_ok, TRUE AS ham_bound_ok FROM documents")

  private val spanVerifyOracleSql: String =
    ("SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
      "TRUE AS precision_ok, TRUE AS nonempty_ok FROM documents")

  // shared by llm_dedup_containment and llm_dedup_containment_indexed
  private val containmentOracleSql: String =
    ("WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS BIGINT), 13) AS gram " +
      "FROM d, unnest(range(1, greatest(length(t) - 12, 1) + 1)) AS u(i)), " +
      "rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) BETWEEN 2 AND 5), " +
      "pg AS (SELECT doc_id, gram FROM g WHERE gram IN (SELECT gram FROM rare)), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM pg a JOIN pg b ON a.gram = b.gram AND a.doc_id < b.doc_id), " +
      "n AS (SELECT doc_id, count(*) AS n_g FROM g GROUP BY doc_id), " +
      "s AS (SELECT c.doc_a, c.doc_b, count(*) AS ns " +
      "FROM cand c JOIN g ga ON ga.doc_id = c.doc_a " +
      "JOIN g gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram " +
      "GROUP BY 1, 2) " +
      "SELECT s.doc_a, s.doc_b, CAST(ns AS BIGINT) AS n_shared, " +
      "na.n_g AS n_a, nb.n_g AS n_b, " +
      "ROUND(CAST(ns AS DOUBLE) / na.n_g, 4) AS cont_a, " +
      "ROUND(CAST(ns AS DOUBLE) / nb.n_g, 4) AS cont_b " +
      "FROM s JOIN n na ON na.doc_id = s.doc_a " +
      "JOIN n nb ON nb.doc_id = s.doc_b " +
      "WHERE greatest(CAST(ns AS DOUBLE) / na.n_g, CAST(ns AS DOUBLE) / nb.n_g) >= 0.5 " +
      "ORDER BY s.doc_a, s.doc_b")

  // shared verbatim by llm_decontaminate, its bloom/indexed twins, and the
  // two-generation append consumer — all four are result-identical by
  // construction (blooms never false-negative; bucketing/generations are
  // layout events)
  private val decontaminateOracleSql: String =
    ("WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, doc_id % 2 = 0 AS is_train, " +
      "substr(t, CAST(i AS BIGINT), 13) AS gram " +
      "FROM d, unnest(range(1, greatest(length(t) - 12, 1) + 1)) AS u(i)), " +
      "tr AS (SELECT DISTINCT gram FROM g WHERE is_train) " +
      "SELECT doc_id, count(*) AS n_shared_grams " +
      "FROM g JOIN tr USING (gram) WHERE NOT is_train " +
      "GROUP BY doc_id ORDER BY doc_id")

  // shared by the in-memory, indexed, and two-generation embedding pair
  // producers (byte-identical by NearDupSpec)
  private lazy val embeddingPairsOracleSql: String =
    (s"WITH e AS ($embIndexSqlDuck) " +
      "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
      "ROUND(list_sum(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2])) / (a.norm * b.norm), 6) AS cosine " +
      "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id " +
      "ORDER BY cosine DESC, vec_a, vec_b LIMIT 100")

  // shared by the from-scratch and incremental cluster ops (byte-identical
  // by construction — min-label composition over graph contraction — and
  // by NearDupSpec)
  private val clusterOracleSql: String =
    ("WITH RECURSIVE d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS BIGINT), 5) AS gram " +
      "FROM d, unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS u(i)), " +
      "n AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id), " +
      "c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i " +
      "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "p AS (SELECT doc_a, doc_b FROM c JOIN n na ON na.doc_id = doc_a " +
      "JOIN n nb ON nb.doc_id = doc_b " +
      "WHERE ROUND(CAST(i AS DOUBLE) / (na.n_sh + nb.n_sh - i), 4) >= 0.5), " +
      "e AS (SELECT doc_a AS a, doc_b AS b FROM p " +
      "UNION SELECT doc_b, doc_a FROM p), " +
      "reach(s, t) AS (SELECT doc_id, doc_id FROM documents " +
      "UNION SELECT r.s, e.b FROM reach r JOIN e ON r.t = e.a) " +
      "SELECT s AS doc_id, min(t) AS cluster_id, (min(t) = s) AS is_canonical " +
      "FROM reach GROUP BY s ORDER BY doc_id")

  val oracleSql: Map[String, String] = Map(
    // generation-append consumers + incremental cluster (round 19): each
    // must be result-INVISIBLE relative to its from-scratch twin, so each
    // shares that twin's full oracle verbatim
    "llm_gram_index_append" -> decontaminateOracleSql,
    "llm_emb_index_append" -> embeddingPairsOracleSql,
    "llm_dedup_cluster_incremental" -> clusterOracleSql,
    // full replay: the same exact-Jaccard pair CTE as ngram_jaccard,
    // symmetrized, labeled with documents.source, counted per source
    // pair with distinct-doc semantics, normalized by source size
    "llm_source_overlap" ->
      ("WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS BIGINT), 5) AS gram " +
        "FROM d, unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS u(i)), " +
        "n AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id), " +
        "c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i " +
        "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2), " +
        "p AS (SELECT doc_a, doc_b FROM c JOIN n na ON na.doc_id = doc_a " +
        "JOIN n nb ON nb.doc_id = doc_b " +
        "WHERE ROUND(CAST(i AS DOUBLE) / (na.n_sh + nb.n_sh - i), 4) >= 0.5), " +
        "e AS (SELECT doc_a, doc_b FROM p " +
        "UNION ALL SELECT doc_b, doc_a FROM p), " +
        "lab AS (SELECT da.source AS source_a, db.source AS source_b, e.doc_a " +
        "FROM e JOIN documents da ON da.doc_id = e.doc_a " +
        "JOIN documents db ON db.doc_id = e.doc_b), " +
        "o AS (SELECT source_a, source_b, count(DISTINCT doc_a) AS n_overlap_docs " +
        "FROM lab GROUP BY 1, 2), " +
        "s AS (SELECT source AS source_a, count(*) AS n_docs_a " +
        "FROM documents GROUP BY 1) " +
        "SELECT o.source_a, o.source_b, n_overlap_docs, n_docs_a, " +
        "ROUND(CAST(n_overlap_docs AS DOUBLE) / n_docs_a, 4) AS overlap_rate " +
        "FROM o JOIN s ON s.source_a = o.source_a " +
        "ORDER BY o.source_a, o.source_b"),
    // raw-substring replay (the decontaminate/ngram_jaccard argument: only
    // gram EQUALITY matters, so the xxhash64 in the index is invisible)
    "llm_dedup_passage" ->
      ("WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS BIGINT), 13) AS gram " +
        "FROM d, unnest(range(1, greatest(length(t) - 12, 1) + 1)) AS u(i)), " +
        "sh AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2), " +
        "n AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id), " +
        "r AS (SELECT doc_id, count(*) AS n_repeated FROM g " +
        "WHERE gram IN (SELECT gram FROM sh) GROUP BY doc_id) " +
        "SELECT n.doc_id, n.n_grams, CAST(coalesce(r.n_repeated, 0) AS BIGINT) AS n_repeated, " +
        "ROUND(CAST(coalesce(r.n_repeated, 0) AS DOUBLE) / n.n_grams, 4) AS dup_frac " +
        "FROM n LEFT JOIN r ON n.doc_id = r.doc_id ORDER BY n.doc_id"),
    // containment: raw-substring replay of both stages (rare-gram
    // blocking at the SAME df band, then full-set intersection for
    // candidates) — the hash-equality argument as above. The indexed twin
    // must be result-invisible, so it shares the oracle verbatim.
    "llm_dedup_containment" -> containmentOracleSql,
    "llm_dedup_containment_indexed" -> containmentOracleSql,
    "llm_dedup_exact_normalized" ->
      ("SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies FROM documents " +
        "GROUP BY trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)), " +
        "'[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g')) ORDER BY 1"),
    "llm_dedup_exact" ->
      ("SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies FROM documents " +
        "GROUP BY lower(trim(text)) ORDER BY 1"),
    // minhash: the est_jaccard/n_shared_bands columns are xxhash64-based —
    // not DuckDB-expressible; covered by NearDupSpec property tests.
    // simhash: ditto, covered by FingerprintSpec (index fold + pair ranking
    // vs driver recompute).
    // ngram_jaccard IS replayable: exact Jaccard is hash-independent (only
    // gram EQUALITY matters — same argument as llm_decontaminate), and the
    // oracle's gram-join prefilter finds ALL true j>=0.5 pairs, which
    // equals the Spark output iff LSH banding missed none. Verified
    // pairwise-identical at sf0.001/0.01/0.1 (28/25/256 pairs) — the
    // deterministic seeded banding keeps it stable. This also makes the
    // oracle an LSH-recall check: a banding regression that drops a true
    // pair now fails correctness, not just the property spec.
    "llm_dedup_ngram_jaccard" ->
      ("WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS BIGINT), 5) AS gram " +
        "FROM d, unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS u(i)), " +
        "n AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id), " +
        "c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i " +
        "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, " +
        "ROUND(CAST(i AS DOUBLE) / (na.n_sh + nb.n_sh - i), 4) AS jaccard " +
        "FROM c JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b " +
        "WHERE ROUND(CAST(i AS DOUBLE) / (na.n_sh + nb.n_sh - i), 4) >= 0.5 " +
        "ORDER BY doc_a, doc_b"),
    // four-stage funnel replay: the quality-filter oracle nests verbatim
    // as a CTE (its keep rule IS the stage-1 predicate), exact dedup and
    // the near-dup drop replay on raw text — one more place a banding
    // regression would surface as a correctness failure
    "llm_pipeline_clean_corpus" ->
      (s"WITH qf AS (${graft.llm.TextOps.oracleSql("llm_quality_filter")}), " +
        "k1 AS (SELECT doc_id FROM qf WHERE keep), " +
        "k2 AS (SELECT min(d.doc_id) AS doc_id FROM documents d " +
        "JOIN k1 ON d.doc_id = k1.doc_id GROUP BY lower(trim(d.text))), " +
        "dd AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS BIGINT), 5) AS gram " +
        "FROM dd, unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS u(i)), " +
        "n AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id), " +
        "c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i " +
        "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "p AS (SELECT doc_a, doc_b FROM c JOIN n na ON na.doc_id = doc_a " +
        "JOIN n nb ON nb.doc_id = doc_b " +
        "WHERE ROUND(CAST(i AS DOUBLE) / (na.n_sh + nb.n_sh - i), 4) >= 0.5), " +
        "dr AS (SELECT DISTINCT doc_b AS doc_id FROM p " +
        "WHERE doc_a IN (SELECT doc_id FROM k2) AND doc_b IN (SELECT doc_id FROM k2)), " +
        "k3 AS (SELECT doc_id FROM k2 WHERE doc_id NOT IN (SELECT doc_id FROM dr)) " +
        "SELECT 0 AS stage, 'raw' AS stage_name, count(*) AS n_docs FROM documents " +
        "UNION ALL SELECT 1, 'quality_filter', count(*) FROM k1 " +
        "UNION ALL SELECT 2, 'exact_dedup', count(*) FROM k2 " +
        "UNION ALL SELECT 3, 'neardup_removal', count(*) FROM k3 " +
        "ORDER BY stage"),
    // batch×corpus exact replay — the cross-side twin of the
    // ngram_jaccard oracle (and the same LSH-recall-gate argument)
    "llm_dedup_incremental_batch" ->
      ("WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS BIGINT), 5) AS gram " +
        "FROM d, unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS u(i)), " +
        "n AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id), " +
        "c AS (SELECT a.doc_id AS doc_new, b.doc_id AS doc_old, count(*) AS i " +
        "FROM g a JOIN g b ON a.gram = b.gram " +
        "AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 GROUP BY 1, 2) " +
        "SELECT doc_new, doc_old, " +
        "ROUND(CAST(i AS DOUBLE) / (na.n_sh + nb.n_sh - i), 4) AS jaccard " +
        "FROM c JOIN n na ON na.doc_id = doc_new JOIN n nb ON nb.doc_id = doc_old " +
        "WHERE ROUND(CAST(i AS DOUBLE) / (na.n_sh + nb.n_sh - i), 4) >= 0.5 " +
        "ORDER BY doc_new, doc_old"),
    // cluster: same exact-pair CTE, then connected components as recursive
    // reachability (min reachable doc_id = cluster id). The reach set is
    // sum of component sizes squared — near-dup components are tiny by
    // nature, so the closure stays small at any corpus size. Verified
    // identical to the Spark pointer-doubling loop at sf0.001/0.01/0.1.
    "llm_dedup_cluster" -> clusterOracleSql,
    "llm_dedup_embedding" -> embeddingPairsOracleSql,
    // the materialized-index path must be invisible to results — shares
    // the llm_dedup_embedding oracle verbatim
    "llm_dedup_embedding_indexed" -> embeddingPairsOracleSql,
    // SemDeDup: the exact-integer centroid (micro-unit sums / count) and
    // both micro-quantized cosines replay the plan's integer orderings;
    // parallel unnest zips (element, position) so list() can rebuild the
    // centroid in position order.
    "llm_dedup_semantic" ->
      (s"WITH e AS ($embIndexSqlDuck), " +
        "q AS (SELECT vec_id, bucket, norm, emb, " +
        "list_transform(emb, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS qv FROM e), " +
        "ex AS (SELECT bucket, unnest(qv) AS v, unnest(generate_series(1, len(qv))) AS i FROM q), " +
        "sums AS (SELECT bucket, i, CAST(sum(v) AS BIGINT) AS s FROM ex GROUP BY bucket, i), " +
        "cnts AS (SELECT bucket, count(*) AS n_bucket FROM q GROUP BY bucket), " +
        "cent AS (SELECT bucket, list(CAST(s AS DOUBLE) / (1e6 * n_bucket) ORDER BY i) AS cvec " +
        "FROM sums JOIN cnts USING (bucket) GROUP BY bucket, n_bucket), " +
        "cn AS (SELECT bucket, cvec, sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnorm FROM cent), " +
        "s AS (SELECT q.vec_id, q.bucket, q.norm, q.emb, " +
        "CASE WHEN q.norm * cn.cnorm = 0 THEN 0 ELSE CAST(floor(" +
        "list_sum(list_transform(list_zip(q.emb, cn.cvec), p -> p[1] * p[2])) " +
        "/ (q.norm * cn.cnorm) * 1e6 + 0.5) AS BIGINT) END AS csim_q " +
        "FROM q JOIN cn USING (bucket)), " +
        "dropped AS (SELECT DISTINCT a.vec_id FROM s a JOIN s b " +
        "ON a.bucket = b.bucket AND a.vec_id <> b.vec_id " +
        "AND (CASE WHEN a.norm * b.norm = 0 THEN 0 ELSE CAST(floor(" +
        "list_sum(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2])) " +
        s"/ (a.norm * b.norm) * 1e6 + 0.5) AS BIGINT) END) >= $SemTauQ " +
        "AND (b.csim_q < a.csim_q OR (b.csim_q = a.csim_q AND b.vec_id < a.vec_id))) " +
        "SELECT vec_id, bucket, csim_q FROM s ANTI JOIN dropped USING (vec_id) " +
        "ORDER BY vec_id"),
    // index-build occupancy profile over the same shared index CTE
    "llm_emb_index_build" ->
      (s"WITH e AS ($embIndexSqlDuck), " +
        "b AS (SELECT bucket, count(*) AS c FROM e GROUP BY bucket) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_buckets, " +
        "CAST(sum(c) AS BIGINT) AS n_vectors, " +
        "CAST(max(c) AS BIGINT) AS max_bucket FROM b"),
    // The index-build profile replays the gram derivation on raw
    // substrings; distinct-of-substrings = distinct-of-hashes by the same
    // collision argument as llm_decontaminate below.
    "llm_gram_index_build" ->
      ("WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, doc_id % 2 = 0 AS is_train, " +
        "substr(t, CAST(i AS BIGINT), 13) AS gram " +
        "FROM d, unnest(range(1, greatest(length(t) - 12, 1) + 1)) AS u(i)) " +
        "SELECT is_train, count(*) AS n_gram_rows, " +
        "count(DISTINCT gram) AS n_distinct_grams " +
        "FROM g GROUP BY is_train ORDER BY is_train"),
    // identical semantics to llm_decontaminate — the materialized-index
    // path must be invisible to results, so it shares the oracle verbatim.
    // Replayable without xxhash64: gram IDENTITY doesn't matter, only
    // equality — DuckDB intersects the raw 13-char substrings the Spark
    // side hashes (64-bit collisions over ~1M grams: P ≈ 1e-8, ignorable).
    // The bloom twin is also identical (the prefilter only removes rows
    // the exact semi-join would drop anyway).
    "llm_decontaminate_indexed" -> decontaminateOracleSql,
    "llm_decontaminate_bloom" -> decontaminateOracleSql,
    "llm_decontaminate" -> decontaminateOracleSql,
    // weak-form oracles (round 15) — these keys' Verify dumps are the
    // verification FRAMES above, not the raw sketch outputs
    "llm_dedup_minhash" -> minhashVerifyOracleSql,
    "llm_dedup_minhash_indexed" -> minhashVerifyOracleSql,
    "llm_sig_index_append" -> minhashVerifyOracleSql,
    "llm_dedup_simhash" -> simhashVerifyOracleSql,
    "llm_dedup_simhash_indexed" -> simhashVerifyOracleSql,
    "llm_dedup_span" -> spanVerifyOracleSql,
    "llm_dedup_span_indexed" -> spanVerifyOracleSql,
    "llm_sig_index_build" ->
      ("WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents) " +
        "SELECT CAST(b AS INT) AS band, n_docs AS n_rows, TRUE AS buckets_ok " +
        "FROM t, unnest(range(4)) AS u(b) ORDER BY band"),
    // chunk geometry replayed from the corpus count (simChunkGeom: 8×16-bit
    // below 1M docs, 4×32-bit past it)
    "llm_sim_index_build" ->
      ("WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents) " +
        "SELECT CAST(c AS INT) AS chunk, n_docs AS n_rows, TRUE AS cvals_ok " +
        "FROM t, unnest(range(CASE WHEN n_docs <= 1000000 THEN 8 ELSE 4 END)) " +
        "AS u(c) ORDER BY chunk"),
    "llm_span_index_build" ->
      ("WITH d AS (SELECT lower(trim(text)) AS t FROM documents) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(greatest(length(t) - 7, 1)) AS BIGINT) AS n_positions, " +
        "TRUE AS density_ok, TRUE AS distinct_ok FROM d"),
  )
}
