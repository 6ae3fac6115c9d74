package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2.10 — MinHash/LSH property check: every pair with EXACT
  * 5-gram Jaccard >= 0.8 (the planted near-dups) must be found by the
  * LSH-banded candidate generation, with no full cross join. */
class NearDupSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private lazy val docs = graft.tables.Tables(spark, sfDir, "documents")

  /** Brute-force exact Jaccard over all pairs — O(n²), test-only oracle. */
  private lazy val exactPairs: Set[(Long, Long)] = {
    val sh = docs.select(col("doc_id"),
      expr("array_distinct(transform(sequence(1, greatest(length(lower(trim(text))) - 4, 1)), " +
        "i -> substring(lower(trim(text)), i, 5)))").as("sh"))
    val a = sh.select(col("doc_id").as("ida"), col("sh").as("sha"))
    val b = sh.select(col("doc_id").as("idb"), col("sh").as("shb"))
    a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("j",
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_distinct(concat(col("sha"), col("shb")))))
      .filter(col("j") >= 0.8)
      .select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash LSH finds every exact-Jaccard>=0.8 pair") {
    val found = graft.llm.DedupOps.llmDedupMinhash(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exactPairs -- found
    assert(missed.isEmpty, s"LSH missed planted near-dups: $missed")
  }

  test("ngram-jaccard verification keeps exactly the >=0.5 candidate pairs") {
    val verified = graft.llm.DedupOps.llmDedupNgramJaccard(spark, sfDir)
    val rows = verified.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(2) >= 0.5))
    // the >=0.8 exact pairs all survive verification
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exactPairs -- got).isEmpty)
  }

  test("cluster resolution equals union-find over the pair graph") {
    val clusters = graft.llm.DedupOps.llmDedupCluster(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ground truth: union-find over the same exact-verified pair set the
    // cluster operator builds its edges from
    val pairs = graft.llm.DedupOps.llmDedupNgramJaccard(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    clusters.foreach { case (doc, cl) =>
      assert(cl == find(doc), s"doc $doc: expected cluster ${find(doc)}, got $cl")
    }
    // every doc present exactly once
    assert(clusters.size == docs.count())
  }

  test("cluster loop releases superseded round checkpoints (no storage growth with rounds)") {
    // localCheckpoint persists at the RDD level, so leaked rounds show up in
    // sc.getPersistentRDDs (the SQL cache does not). Per run only the edges
    // checkpoint and the final round's labels (the result's backing blocks)
    // may remain — every intermediate round must have been released.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    graft.llm.DedupOps.llmDedupCluster(spark, sfDir).count()
    val after = sc.getPersistentRDDs.size
    assert(after - before <= 2,
      s"checkpoint leak: persistent RDDs grew $before -> $after (max +2 allowed)")
  }

  test("decontamination equals brute-force 13-gram overlap") {
    val got = SparkEntry.queries("llm_decontaminate")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: per doc, its distinct 13-gram string set; eval doc is
    // contaminated iff it shares a gram with the union of train grams
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.trim)
    def grams(t: String): Set[String] =
      (1 to math.max(t.length - 12, 1)).map(i => t.slice(i - 1, i - 1 + 13)).toSet
    val trainGrams = texts.filter(_._1 % 2 == 0).flatMap(t => grams(t._2)).toSet
    val expected = texts.filter(_._1 % 2 != 0).map { case (id, t) =>
      id -> grams(t).count(trainGrams.contains).toLong
    }.filter(_._2 > 0).toMap
    assert(got == expected)
  }

  /** The fixture corpus plus nine planted docs (ids 9001-9009) at the
    * edges of containment's shared-gram bound. Each doc is built from
    * random letter segments: H (40 chars, in six docs, so df 6 > 5), R1 and
    * Q5 (40 chars; R1 in two docs, Q5 in five) and R3 (13 chars, one gram,
    * in two docs), joined by fillers that start and end with a digit
    * unique to the doc, so every gram that crosses a segment edge belongs
    * to one doc only. A 40-char segment holds 28 grams.
    *  - 9001/9002 share H and R1: 56 shared grams, 2·56 = 112 = n(9001),
    *    and the bound m + min(c) = 28 + 28 is tight: kept, and reported;
    *  - 9003/9004 share H and Q5: 56 shared grams, one short of
    *    2·n_shared = n(9003) = 114: the bound drops it;
    *  - 9005/9006 share H and R3: one rare gram, 28 hot ones, 29/56 ≥ 0.5;
    *  - 9007-9009 hold Q5 only, the other three docs that make its df 5. */
  private lazy val containmentEdgesDir: String = {
    val rnd = new scala.util.Random(20260419)
    def seg(len: Int) = Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    val (h, r1, q5, r3) = (seg(40), seg(40), seg(40), seg(13))
    def doc(id: Long, parts: Any*): (Long, String) = {
      val mark = ('0' + (id - 9000)).toChar
      id -> parts.map {
        case len: Int => s"$mark${seg(len - 2)}$mark"
        case s: String => s
      }.mkString
    }
    val planted = Seq(
      doc(9001, 15, h, 14, r1, 15), doc(9002, 15, h, 14, r1, 100),
      doc(9003, 15, h, 16, q5, 15), doc(9004, 15, h, 16, q5, 100),
      doc(9005, 5, h, 5, r3, 5), doc(9006, 5, h, 5, r3, 80),
      doc(9007, 10, q5, 150), doc(9008, 10, q5, 150), doc(9009, 10, q5, 150))
    val dir = graft.util.Scratch.dir("containment_edges")
    import spark.implicits._
    docs.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(planted.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("planted").as("source"), length(col("text")).cast("long").as("n_chars")))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("containment: both twins equal brute force over pairs sharing a df-2..5 gram") {
    // Truth: all-pairs 13-gram max-containment >= 0.5, driver side,
    // restricted to pairs that share a gram of df in [2,5] — the pairs
    // rare-gram blocking can see. Both twins must report exactly these
    // pairs with the exact shared/size numbers.
    val dir = containmentEdgesDir
    val (edge, short, oneRare) = ((9001L, 9002L), (9003L, 9004L), (9005L, 9006L))
    val texts = graft.tables.Tables(spark, dir, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).toLowerCase.trim)
    def grams(t: String): Set[String] =
      (1 to math.max(t.length - 12, 1)).map(i => t.slice(i - 1, i - 1 + 13)).toSet
    val gsets = texts.map { case (id, t) => id -> grams(t) }.toMap
    val df = gsets.values.toSeq.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    def rare(g: String) = df(g) >= 2 && df(g) <= 5
    val truth = (for {
      (a, ga) <- gsets.toSeq; (b, gb) <- gsets.toSeq if a < b
      shared = ga intersect gb
      if shared.exists(rare)
      if shared.size.toDouble / math.min(ga.size, gb.size) >= 0.5
    } yield (a, b) -> (shared.size.toLong, ga.size.toLong, gb.size.toLong)).toMap

    // the planted pairs sit where the scenario says they do
    def stats(p: (Long, Long)) = {
      val (ga, gb) = (gsets(p._1), gsets(p._2))
      val shared = ga intersect gb
      def c(gs: Set[String]) = gs.count(df(_) > 5)
      (shared.size, shared.count(rare), math.min(c(ga), c(gb)), math.min(ga.size, gb.size))
    }
    val (eNs, eM, eC, eN) = stats(edge)
    assert(2 * eNs == eN && eNs == eM + eC, s"edge pair: ${stats(edge)}")
    val (sNs, sM, sC, sN) = stats(short)
    assert(2 * (sNs + 1) == sN && sNs == sM + sC, s"short pair: ${stats(short)}")
    assert((gsets(short._1) intersect gsets(short._2)).filter(rare).forall(df(_) == 5))
    val (oNs, oM, _, oN) = stats(oneRare)
    assert(oM == 1 && 2 * oNs >= oN, s"one-rare pair: ${stats(oneRare)}")
    assert(truth.contains(edge) && truth.contains(oneRare))

    // the bound keeps the edge and one-rare pairs and drops the short one
    import graft.llm.DedupOps.{containmentCandidates, containmentKept, gramSets, rareGramGroups}
    def pairsOf(f: org.apache.spark.sql.DataFrame) =
      f.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = containmentCandidates(rareGramGroups(spark, dir))
    val kept = pairsOf(containmentKept(cand, gramSets(spark, dir)))
    assert(pairsOf(cand).contains(short))
    assert(!kept.contains(short), "the bound must drop the one-short pair")
    assert(kept.contains(edge) && kept.contains(oneRare))

    for (name <- Seq("llm_dedup_containment", "llm_dedup_containment_indexed")) {
      val got = SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(got == truth, s"$name: missing ${truth.keySet -- got.keySet}, " +
        s"extra ${got.keySet -- truth.keySet}, " +
        s"wrong ${got.filter { case (k, v) => truth.get(k).exists(_ != v) }}")
    }
  }

  test("span dedup finds planted spliced spans and is gram-sound on the corpus") {
    // splice the same 120-char slice of doc 0's text into two otherwise
    // UNRELATED synthetic docs: MinHash/Jaccard-invisible (the rest of
    // each doc differs), but span dedup must pair them
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.trim)
    val donor = texts.map(_._2).maxBy(_.length)
    val span = donor.slice(0, math.min(120, donor.length))
    val fillerA = "alpha beta gamma delta epsilon zeta eta theta " * 6
    val fillerB = "uno dos tres cuatro cinco seis siete ocho nueve " * 6
    val planted = Seq((9001L, fillerA + span + fillerA),
      (9002L, fillerB + span + fillerB),
      (9003L, fillerA.replace('a', 'q') + fillerB.replace('o', 'x')))
    val df = spark.createDataFrame(
      texts.toSeq.map { case (id, t) => (id, t) } ++ planted)
      .toDF("doc_id", "text")
    val pairs = graft.llm.DedupOps.spanPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((9001L, 9002L)),
      s"planted spliced pair not found; got ${pairs.keys.take(20)}")
    // soundness on every reported pair: winnowed fps are a subset of the
    // 8-gram hash sets, so a pair sharing k rare fps shares >= k distinct
    // 8-grams — brute-check that lower bound
    val all = (texts.toSeq ++ planted.map { case (id, t) => id -> t.toLowerCase.trim }).toMap
    def grams8(t: String): Set[String] =
      (1 to math.max(t.length - 7, 1)).map(i => t.slice(i - 1, i - 1 + 8)).toSet
    pairs.foreach { case ((a, b), k) =>
      val shared = (grams8(all(a)) intersect grams8(all(b))).size
      assert(shared >= k, s"pair ($a,$b): $k shared fps but only $shared shared 8-grams")
    }
  }

  test("materialized span index reproduces the in-memory span pairs and fp profile") {
    // the stored winnow table against a direct winnow pass over the corpus
    val mem = graft.llm.DedupOps.spanPairs(docs.select("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val idx = graft.llm.DedupOps.llmDedupSpanIndexed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(idx.toSeq == mem.toSeq && mem.nonEmpty)
    // build profile vs the in-memory winnow pass
    val fps = docs
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .select(col("doc_id"), explode(expr("winnow_fps(t, 8, 16)")).as("fp"))
    val expRows = fps.count()
    val expDistinct = fps.select("fp").distinct().count()
    val prof = graft.llm.DedupOps.llmSpanIndexBuild(spark, sfDir).collect().head
    assert((prof.getLong(0), prof.getLong(1)) == (expRows, expDistinct))
  }

  test("two-generation gram index serves decontamination byte-identically") {
    // round 19 (VERDICT r18 #3): generation-append for the gram family —
    // the appended layout must be invisible to results vs the
    // single-generation table
    val app = graft.llm.DedupOps.llmGramIndexAppend(spark, sfDir)
      .collect().map(_.toString)
    val idx = graft.llm.DedupOps.llmDecontaminateIndexed(spark, sfDir)
      .collect().map(_.toString)
    assert(app.toSeq == idx.toSeq && app.nonEmpty)
  }

  test("two-generation emb index reproduces the indexed embedding pairs byte-identically") {
    val app = graft.llm.DedupOps.llmEmbIndexAppend(spark, sfDir)
      .collect().map(_.toString)
    val idx = graft.llm.DedupOps.llmDedupEmbeddingIndexed(spark, sfDir)
      .collect().map(_.toString)
    val mem = graft.llm.DedupOps.llmDedupEmbedding(spark, sfDir)
      .collect().map(_.toString)
    assert(app.toSeq == idx.toSeq && idx.toSeq == mem.toSeq && app.nonEmpty)
  }

  test("incremental cluster maintenance equals the from-scratch connected components") {
    // round 19 (VERDICT r18 #7): graph contraction over the stored base
    // labels + delta pairs must compose to the identical min-label
    // result — any drift means the maintenance path changed semantics
    val inc = graft.llm.DedupOps.llmDedupClusterIncremental(spark, sfDir)
      .collect().map(_.toString)
    val full = graft.llm.DedupOps.llmDedupCluster(spark, sfDir)
      .collect().map(_.toString)
    assert(inc.toSeq == full.toSeq && inc.nonEmpty)
  }

  test("incremental cluster maintenance equals from-scratch on every gate side") {
    // round 20: the op has two size gates — the restrict floor picks flat
    // vs scale shape, the broadcast caps pick hinted vs AQE-fallback
    // within the scale shape. The default fixture run above pins the flat
    // side; build the other two shapes and pin byte-identity for each.
    import graft.llm.DedupOps.{Restricted, clusterIncremental}
    val full = graft.llm.DedupOps.llmDedupCluster(spark, sfDir)
      .collect().map(_.toString)
    // scale shape, broadcasts hinted
    val scaleB = clusterIncremental(spark, sfDir, Restricted(broadcast = true))
      .collect().map(_.toString)
    assert(scaleB.toSeq == full.toSeq && scaleB.nonEmpty)
    // scale shape, above the broadcast cap (unhinted shuffled joins)
    val scaleS = clusterIncremental(spark, sfDir, Restricted(broadcast = false))
      .collect().map(_.toString)
    assert(scaleS.toSeq == full.toSeq && scaleS.nonEmpty)
  }

  test("connectedComponents pins its non-seeded-endpoint semantics (caller contract)") {
    // VERDICT r21 #3 / ADVICE r21: the round-21 self-loop rewrite made the
    // "every pair endpoint is in the seed" contract load-bearing — the old
    // combine-join shape silently DROPPED a stray endpoint; the groupBy-
    // over-edges shape EMITS a label row for it (and grows the node set
    // mid-loop, stressing the fixed-node-set premise of the sum-based
    // convergence check). All shipped callers seed every endpoint (oracle
    // green), but nothing enforced it — this pin makes any future change
    // to the stray-endpoint behavior (emit vs drop vs label value) fail
    // loudly instead of silently reshaping a caller's output.
    import spark.implicits._
    val seed = Seq((10L, 10L), (20L, 20L)).toDF("doc_id", "label")
    // endpoint 30 is NOT in the seed — the documented current semantics:
    // it is EMITTED, adopting the min label reachable through seeded
    // neighbors (its own id never acts as a label: no self-loop was seeded)
    val pairs = Seq((20L, 30L)).toDF("doc_a", "doc_b")
    val out = graft.llm.DedupOps.connectedComponents(seed, pairs)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((10L, 10L), (20L, 20L), (30L, 20L)),
      s"stray-endpoint semantics changed: $out")
    // and with the contract HELD (all endpoints seeded) the node universe
    // is exactly the seed — the premise the shipped callers rely on
    val seeded = Seq((10L, 10L), (20L, 20L), (30L, 30L)).toDF("doc_id", "label")
    val out2 = graft.llm.DedupOps.connectedComponents(seeded, pairs)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out2 == Set((10L, 10L), (20L, 20L), (30L, 20L)))
  }

  test("materialized signature index reproduces the in-memory minhash pairs exactly") {
    // the bucketed sig table is a LAYOUT decision — results must be
    // byte-identical to the in-memory banded-index path
    val mem = graft.llm.DedupOps.llmDedupMinhash(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val idx = graft.llm.DedupOps.llmDedupMinhashIndexed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(idx.toSeq == mem.toSeq)
  }

  test("two-generation appended index reproduces the in-memory minhash pairs") {
    // the generation split (base overwrite + delta append under the same
    // bucket spec) is a LAYOUT event — pair results must stay
    // byte-identical to the in-memory path, or index maintenance
    // silently changed semantics
    val mem = graft.llm.DedupOps.llmDedupMinhash(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val app = graft.llm.DedupOps.llmSigIndexAppend(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(app.toSeq == mem.toSeq && app.nonEmpty)
  }

  test("signature index build profile matches the in-memory banded index") {
    val mem = graft.llm.DedupOps.bandedIndex(spark, sfDir)
      .groupBy("band")
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("bhash")).as("n_buckets"))
      .orderBy("band")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val got = graft.llm.DedupOps.llmSigIndexBuild(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == mem.toSeq)
  }

  test("incremental batch dedup equals the cross-parity slice of the verified pairs") {
    // the delta-batch op must find exactly the exact-verified j>=0.5 pairs
    // with one odd (new) and one even (old) member — reorient ngram_jaccard's
    // (doc_a < doc_b) pairs to (new, old) and compare
    val full = graft.llm.DedupOps.llmDedupNgramJaccard(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.collect {
      case (a, b, j) if a % 2 == 1 && b % 2 == 0 => (a, b, j)
      case (a, b, j) if a % 2 == 0 && b % 2 == 1 => (b, a, j)
    }.sortBy(p => (p._1, p._2))
    val got = graft.llm.DedupOps.llmDedupIncrementalBatch(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected.toSeq)
  }

  test("exact dedup groups identical normalized text") {
    val n = docs.count()
    val res = graft.llm.DedupOps.llmDedupExact(spark, sfDir)
    assert(res.agg(sum("n_copies")).collect().head.getLong(0) == n)
  }

  test("semdedup: no surviving within-bucket pair is a near-dup; drops are justified") {
    // The SemDeDup contract: after the centroid-ordered drop pass, no two
    // SURVIVORS in the same cluster (RP bucket) may still be a >= tau
    // pair (one of any such pair is ordered below the other and must have
    // been dropped); and the pass must actually fire on the fixture.
    val tauQ = 350000L
    val e = graft.llm.DedupOps.embIndex(spark, sfDir)
      .select(col("vec_id"), col("bucket"), col("norm"), col("emb"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getSeq[Double](3).toArray))
    val survivors = graft.llm.DedupOps.llmDedupSemantic(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors.size < e.length, "the drop pass never fired")
    def psimQ(a: Array[Double], na: Double, b: Array[Double], nb: Double): Long = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      if (na * nb == 0) 0L else math.floor(s / (na * nb) * 1e6 + 0.5).toLong
    }
    val byBucket = e.filter(v => survivors(v._1)).groupBy(_._2)
    val violations = byBucket.values.flatMap { vs =>
      for {
        i <- vs.indices; j <- (i + 1) until vs.length
        if psimQ(vs(i)._4, vs(i)._3, vs(j)._4, vs(j)._3) >= tauQ
      } yield (vs(i)._1, vs(j)._1)
    }
    assert(violations.isEmpty,
      s"surviving near-dup pairs: ${violations.take(5).toSeq}")
    // every dropped vector must have an in-bucket >= tau partner at all
    // (no spurious drops)
    val allByBucket = e.groupBy(_._2)
    e.filterNot(v => survivors(v._1)).foreach { d =>
      val partners = allByBucket(d._2).filter(o => o._1 != d._1 &&
        psimQ(d._4, d._3, o._4, o._3) >= tauQ)
      assert(partners.nonEmpty, s"vec ${d._1} dropped without a near-dup partner")
    }
  }

  test("the stored rare-key tables hold exactly the rare groups of their posting tables") {
    import graft.llm.DedupOps
    // ds order inside a group is the aggregate's arrival order, which the
    // consumers never read: compare each group's doc set
    def rows(df: org.apache.spark.sql.DataFrame, key: String) =
      df.select(col(key), sort_array(col("ds"))).collect().map(_.toString).sorted.toSeq
    val grams = spark.table(DedupOps.gramTable(spark, sfDir)).select("doc_id", "g")
    val rareGrams = rows(spark.table(DedupOps.gramRareTable(spark, sfDir)), "g")
    assert(rareGrams.nonEmpty && rareGrams == rows(DedupOps.rareGroups(grams, "g"), "g"))
    val fps = spark.table(DedupOps.spanTable(spark, sfDir)).select("doc_id", "fp")
    val rareFps = rows(spark.table(DedupOps.spanRareTable(spark, sfDir)), "fp")
    assert(rareFps.nonEmpty && rareFps == rows(DedupOps.rareGroups(fps, "fp"), "fp"))
    // and each stored set's c counts exactly the doc's grams of df > 5
    val hot = grams.groupBy("g").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > DedupOps.RareDfCap).select("g")
    val want = grams.join(hot, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = DedupOps.gramSets(spark, sfDir).select("doc_id", "c")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got == got.keys.map(d => d -> want.getOrElse(d, 0L)).toMap)
  }
}
