package graft

import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.operators.{Decontaminate, Dedup, Scale, Similarity}
import graft.plans.RollingHash
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("RollingHash: known values, null, and codegen path") {
    assert(RollingHash.hash("") === 0L)
    assert(RollingHash.hash("a") === 97L)
    assert(RollingHash.hash("ab") === (97L * 31 + 98) % 1000000007L)
    val got = Seq(("x", "ab"), ("y", null))
      .toDF("id", "s")
      .select(col("id"), RollingHash.rolling_hash(col("s")).as("h"))
      .orderBy("id").collect()
    assert(got(0).getLong(1) === (97L * 31 + 98) % 1000000007L)
    assert(got(1).isNullAt(1))
  }

  test("shingles: distinct word trigrams") {
    val out = Seq("a b c d a b c d", "a b").toDF("t")
      .select(TextFunctions.shingles(col("t"), 3).as("sh"))
      .collect()
    assert(out(0).getSeq[String](0).toSet ===
      Set("a b c", "b c d", "c d a", "d a b"))
    assert(out(1).getSeq[String](0).isEmpty)
  }

  test("BPE-ish token count: letter runs, single digits, single marks") {
    val got = Seq("hello world", "abc123!?", "", "a  b", "2026-08-12")
      .toDF("t")
      .select(graft.functions.TextFunctions.bpeIshTokenCount(col("t")))
      .as[Long].collect().toSeq
    // "abc123!?" → abc,1,2,3,!,? = 6; "2026-08-12" → 2,0,2,6,-,0,8,-,1,2 = 10
    assert(got === Seq(2L, 6L, 0L, 2L, 10L))
  }

  test("langId heuristic picks stopword-dominant language") {
    val out = Seq("der hund und die katze", "the cat is on the mat",
      "el gato y la casa", "xyzzy plugh").toDF("t")
      .select(TextFunctions.langIdFromHits(
        TextFunctions.langIdHits(col("t"))).as("l")).as[String].collect()
    assert(out.toSeq === Seq("de", "en", "es", "unknown"))
  }

  test("simhash: identical texts share signatures; hamming 0") {
    val df = Seq((1L, "spark scans fast tables"), (2L, "spark scans fast tables"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, col("doc_id"), col("text"), maxHamming = 0)
      .collect()
    assert(pairs.exists(r => r.getLong(0) === 1L && r.getLong(1) === 2L &&
      r.getLong(2) === 0L))
  }

  test("simhashClusters equals pair-level clustering (sig-level CC is " +
      "a lossless contraction)") {
    // duplicate-saturated corpus + a chain of near-dups + singletons:
    // exercises same-sig contraction, cross-sig edges, and isolated
    // nodes in one fixture
    val base = "spark scans fast tables and joins them quickly today"
    val rows = (1L to 6L).map(i => (i, base)) ++ // one 6-dup group
      Seq((7L, base + " x"), (8L, base + " x y"),  // near-dup chain
        (9L, "completely different words entirely here now"),
        (10L, "another unrelated document about nothing shared"))
    val docs = rows.toDF("doc_id", "text")
    val viaSigs = Dedup.simhashClusters(docs, col("doc_id"), col("text"),
      maxHamming = 3).orderBy("node").collect().toSeq
    val viaPairs = graft.operators.Components.dedupClusters(
      Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 3)
        .select(col("id_a").as("src"), col("id_b").as("dst")),
      docs.select(col("doc_id").as("node")))
      .orderBy("node").collect().toSeq
    assert(viaSigs === viaPairs)
    // the dup group must have collapsed to one representative
    val repCount = viaSigs.count(_.getLong(2) == 1L)
    assert(repCount < rows.size)
  }

  test("62-bit simhash: wider signatures, same dup detection, more spread") {
    val df = Seq((1L, "spark scans fast tables"), (2L, "spark scans fast tables"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    val pairs62 = Dedup.simhashPairs(df, col("doc_id"), col("text"),
      maxHamming = 0, nBits = 62).collect()
    assert(pairs62.exists(r => r.getLong(0) === 1L && r.getLong(1) === 2L))
    // wide signatures actually use the high bits (not degenerate zeros)
    val sigs = df.select(graft.functions.TextFunctions
      .simhash(col("text"), 62).as("s")).as[Long].collect()
    assert(sigs.exists(s => (s >>> 32) != 0L), "high bits never set")
  }

  test("minhash LSH pairs equal exact n-gram Jaccard pairs (sf0.001)") {
    val docs = Tables(spark, sfDir, "documents")
    val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh === exact)
  }

  test("count-join and prefix-filter Jaccard strategies are identical") {
    val docs = Tables(spark, sfDir, "documents")
    val a = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8,
      prefixFilter = Some(false))
    val b = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8,
      prefixFilter = Some(true))
    assert(a.count() > 0)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("q34 pairs budget: an over-budget corpus fails fast at plan time " +
      "with the estimate and the scale-path pointer") {
    // duplicate-saturated corpus (10 bases × 4 copies): true pairs
    // exist, and the guard fires on the COLLAPSED groups frame — the
    // actual quadratic-stage input — not the raw corpus
    val rows = (0L until 40L).map(i =>
      i -> s"alpha bravo charlie delta echo ${i % 10} foxtrot golf hotel india")
    val df = rows.toDF("doc_id", "text")
    spark.conf.set(Dedup.NgramPairsMaxKey, "1")
    try {
      val e = intercept[IllegalStateException] {
        Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.8)
      }
      // actionable: carries the measured estimate, the knob, and the
      // banded/bucketed alternatives (the r14 failure mode was a
      // 33-minute executor OOM with none of that)
      assert(e.getMessage.contains("candidate-pair volume"))
      assert(e.getMessage.contains(Dedup.NgramPairsMaxKey))
      assert(e.getMessage.contains("minhashLshPairs"))
      assert(e.getMessage.contains("incrementalNearDedupIndexed"))
    } finally spark.conf.unset(Dedup.NgramPairsMaxKey)
    // the same corpus under the default budget answers normally (the
    // cached estimate is a statistic, not a decision — the budget is
    // re-read per call)
    assert(Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.8)
      .count() > 0)
    // and <= 0 disables the guard outright
    spark.conf.set(Dedup.NgramPairsMaxKey, "0")
    try assert(Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.8)
      .count() > 0)
    finally spark.conf.unset(Dedup.NgramPairsMaxKey)
    // hinted-strategy contract (round 16, advisor; tightened round 17):
    // an explicit prefixFilter hint skips the budget's stats pass ONLY
    // while the budget conf is unset — an EXPLICITLY-SET budget is
    // enforced even on a hinted, never-seen plan (a set conf must
    // never be a silent no-op), paying the one cached stats pass
    spark.conf.set(Dedup.NgramPairsMaxKey, "1")
    try {
      val e = intercept[IllegalStateException] {
        Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"), 3, 0.8,
          prefixFilter = Some(false))
      }
      assert(e.getMessage.contains("candidate-pair volume"))
      // hinted call on a NEVER-SEEN plan, conf explicitly set: the
      // round-17 contract runs the guard anyway and fails fast
      val fresh = rows.map { case (i, t) => i -> (t + " zz") }
        .toDF("doc_id", "text")
      val e2 = intercept[IllegalStateException] {
        Dedup.ngramJaccardPairs(fresh, col("doc_id"), col("text"), 3, 0.8,
          prefixFilter = Some(false))
      }
      assert(e2.getMessage.contains("candidate-pair volume"))
    } finally spark.conf.unset(Dedup.NgramPairsMaxKey)
    // with the conf UNSET, a hinted call on a never-seen plan runs no
    // stats pass and cannot be budget-stopped — it constructs (the
    // documented hinted-path contract; the DEFAULT budget still guards
    // every unhinted call)
    val fresh2 = rows.map { case (i, t) => i -> (t + " qq") }
      .toDF("doc_id", "text")
    Dedup.ngramJaccardPairs(fresh2, col("doc_id"), col("text"), 3, 0.8,
      prefixFilter = Some(false))
  }

  test("duplicate-collapse gate: Jaccard pairs identical on both sides " +
      "of the duplicate-fraction gate, vs an in-JVM reference") {
    // reference: brute-force Jaccard over the operator's own shingle
    // sets (so only the PAIRING machinery is under test)
    def refPairs(rows: Seq[(Long, String)]): Set[(Long, Long)] = {
      val sets = rows.map { case (i, t) =>
        i -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
      (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= 0.8
      } yield (ia, ib)).toSet
    }
    val uniqueRows = (1L to 40L).map(i =>
      i -> s"alpha bravo charlie delta echo ${i} foxtrot golf hotel india")
    // duplicate-saturated: 10 base texts, 4 copies each (gate fires)
    val dupRows = (0L until 40L).map(i =>
      i -> s"alpha bravo charlie delta echo ${i % 10} foxtrot golf hotel india")
    for ((rows, label) <- Seq((uniqueRows, "unique"), (dupRows, "duped"))) {
      val got = Dedup.ngramJaccardPairs(rows.toDF("doc_id", "text"),
          col("doc_id"), col("text"), 3, 0.8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got === refPairs(rows), label)
    }
    assert(refPairs(dupRows).nonEmpty, "duped corpus must have pairs")
  }

  test("cosinePairs: collapse on and off produce identical pairs on a " +
      "duplicated embedding table") {
    val emb = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(d => ((i % 6) * 7 + d).toFloat / 10f))
    }.toDF("vec_id", "embedding")
    def run(collapse: Boolean) =
      Dedup.cosinePairs(emb, col("vec_id"), col("embedding"), 0.9,
          collapseDuplicates = collapse)
        .as[(Long, Long, Double)].collect().toSet
    val on = run(true)
    val off = run(false)
    assert(on === off)
    assert(on.nonEmpty, "duplicated vectors must pair at cosine 1.0")
  }

  test("ShingleHashes equals the lambda shingling bit-for-bit") {
    val docs = Tables(spark, sfDir, "documents")
      .unionByName(Seq((90001L, "a  b c d a b", "en"),
        (90002L, " lead", "en"), (90003L, "", "en"), (90004L, "x", "en"),
        (90005L, null, "en"))
        .toDF("doc_id", "text", "lang"), allowMissingColumns = true)
    val viaLambda = docs.select(col("doc_id"),
      transform(TextFunctions.shingles(col("text"), 3),
        g => xxhash64(g)).as("sh"))
    val viaExpr = docs.select(col("doc_id"),
      graft.plans.ShingleHashes.shingle_hashes(col("text"), 3).as("sh"))
    assert(viaLambda.exceptAll(viaExpr).count() === 0)
    assert(viaExpr.exceptAll(viaLambda).count() === 0)
  }

  test("MinhashSignature equals the lambda formulation bit-for-bit") {
    // deliberately UNFILTERED (empty arrays stay in) plus null-array
    // and null-element rows — the divergence-prone inputs
    val docs = Tables(spark, sfDir, "documents")
    val sh = docs.select(col("doc_id"),
        graft.plans.ShingleHashes.shingle_hashes(col("text"), 3).as("sh"))
      .unionByName(Seq(
          (80001L, null.asInstanceOf[Array[java.lang.Long]]),
          (80002L, Array[java.lang.Long](5L, null, 17L)),
          (80003L, Array[java.lang.Long](null, null)))
        .toDF("doc_id", "sh"))
    val viaLambda = sh.select(col("doc_id"),
      TextFunctions.minhashSignatureFromHashes(col("sh"), 128).as("sig"))
    val viaExpr = sh.select(col("doc_id"),
      graft.plans.MinhashSignature.minhash_signature(col("sh"), 128).as("sig"))
    assert(viaLambda.exceptAll(viaExpr).count() === 0)
    assert(viaExpr.exceptAll(viaLambda).count() === 0)
  }

  test("TokenNgramStats: known values, empties, blanks, and null") {
    val rows = Seq((1L, "a b a b a"), (2L, "  x  "), (3L, ""))
      .toDF("id", "t")
      .unionByName(Seq(Tuple1(4L)).toDF("id")
        .withColumn("t", lit(null).cast("string")))
      .select(col("id"),
        graft.plans.TokenNgramStats.token_ngram_stats(col("t"), 1).as("u"),
        graft.plans.TokenNgramStats.token_ngram_stats(col("t"), 2).as("b"))
      .orderBy("id").collect()
    // "a b a b a": 5 tokens {a:3, b:2}; 4 bigrams {"a b":2, "b a":2}
    assert(rows(0).getStruct(1).toSeq === Seq(5L, 2L, 3L))
    assert(rows(0).getStruct(2).toSeq === Seq(4L, 2L, 2L))
    // blanks collapse to the single token "x"; too short for bigrams
    assert(rows(1).getStruct(1).toSeq === Seq(1L, 1L, 1L))
    assert(rows(1).getStruct(2).toSeq === Seq(0L, 0L, 0L))
    assert(rows(2).getStruct(1).toSeq === Seq(0L, 0L, 0L))
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
  }

  test("TokenNgramStats matches the explode-and-group counts on documents") {
    val docs = Tables(spark, sfDir, "documents")
    val viaExpr = docs.select(col("doc_id"),
        graft.plans.TokenNgramStats.token_ngram_stats(col("text"), 2).as("s"))
      .filter(col("s.n_grams") > 0)
      .select(col("doc_id"), col("s.n_grams"), col("s.n_distinct"),
        col("s.top_tf"))
    val toks = docs.select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("t"))
      .filter(size(col("t")) >= 2)
    val viaGroup = toks.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1)))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("n_grams"),
        count(lit(1)).as("n_distinct"), max("c").as("top_tf"))
    assert(viaExpr.count() > 0)
    assert(viaExpr.exceptAll(viaGroup).count() === 0)
    assert(viaGroup.exceptAll(viaExpr).count() === 0)
  }

  test("Decontaminate: exact overlap counts, clean docs absent, empty bench") {
    val bench = Seq((100L, "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x b1 b2 b3 b4 b5 b6 b7 b8 y"), // shares exactly the b1..b8 gram
      (2L, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"), // clean
      (3L, "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9")) // identical: all 3 grams
      .toDF("doc_id", "text")
    val grams = Decontaminate.benchmarkShingles(bench, col("text"), n = 8)
    val out = Decontaminate.contaminated(corpus, col("doc_id"), col("text"),
        grams, n = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((1L, 1L), (3L, 3L)))
    val empty = Decontaminate.contaminated(corpus, col("doc_id"), col("text"),
      grams.limit(0), n = 8)
    assert(empty.columns.toSeq === Seq("doc_id", "n_overlap"))
    assert(empty.count() === 0)
  }

  test("curriculumOrder: dense positions, bins in order, LCG intra-bin") {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        least(shiftright(size(split(col("text"), " ")).cast("long"), 6),
          lit(7L)).as("bin"))
    val out = Scale.curriculumOrder(docs, col("doc_id"), col("bin"))
    val rows = out.orderBy("curriculum_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // dense 0..n-1, bins non-decreasing along the order
    assert(rows.map(_._3).toSeq === rows.indices.map(_.toLong))
    assert(rows.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    // within a bin the order is the LCG permutation of ids
    val lcg = (id: Long) =>
      ((id % 2147483648L) * 1103515245L + 12345L) % 2147483648L
    rows.groupBy(_._2).values.foreach { g =>
      val ids = g.sortBy(_._3).map(_._1).toSeq
      assert(ids === ids.sortBy(id => (lcg(id), id)),
        "intra-bin order must be the LCG permutation")
    }
    // content arithmetic: repartitioning cannot move a position
    val re = Scale.curriculumOrder(docs.repartition(13), col("doc_id"),
      col("bin"))
    assert(out.exceptAll(re).count() === 0 && re.exceptAll(out).count() === 0)
  }

  test("rrfFuse: exact ppb reciprocals, cross-list consensus, ties") {
    import graft.operators.Search
    // retriever A ranks (10, 11, 12); retriever B ranks (11, 10, 13)
    val a = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("doc_id", "rank")
    val b = Seq((11L, 1L), (10L, 2L), (13L, 3L)).toDF("doc_id", "rank")
    val out = Search.rrfFuse(Seq(a, b), k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val r = (n: Long) => 1000000000L / (60L + n)
    // 10 and 11 both sum r(1)+r(2) = equal score -> doc_id tie-break;
    // consensus docs beat single-list docs at equal best rank
    assert(out === Seq(
      (10L, r(1) + r(2), 2L), (11L, r(1) + r(2), 2L),
      (12L, r(3), 1L), (13L, r(3), 1L)))
    // k cuts after ordering
    assert(Search.rrfFuse(Seq(a, b), k = 1).collect()
      .map(_.getLong(0)).toSeq === Seq(10L))
    intercept[IllegalArgumentException] { Search.rrfFuse(Seq(), k = 5) }
    intercept[IllegalArgumentException] { Search.rrfFuse(Seq(a), k = 0) }
  }

  test("skewReport: exact shares, straggler factor, top-N cut, tie order") {
    val rows = Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("cold")
    val df = rows.zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("id", "key")
    val full = Scale.skewReport(df, col("key"), topN = 3, parts = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(full === Seq(("hot", 6L, 600000L, 6L),
      ("warm", 3L, 300000L, 3L), ("cold", 1L, 100000L, 1L)))
    // top-N keeps the heaviest; ties break by key ascending
    val cut = Scale.skewReport(df, col("key"), topN = 1, parts = 10)
      .collect().map(_.getString(0)).toSeq
    assert(cut === Seq("hot"))
    val tied = Seq((1L, "b"), (2L, "a")).toDF("id", "key")
    assert(Scale.skewReport(tied, col("key"), topN = 2, parts = 4)
      .collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    intercept[IllegalArgumentException] {
      Scale.skewReport(df, col("key"), topN = 0, parts = 10)
    }
  }

  test("sampledQuantiles: r=1 is exact, partition-invariant, sane error") {
    import graft.operators.Stats
    val ev = Tables(spark, sfDir, "events")
    // r=1 keeps every row: must equal the exact percentile aggregate
    val all = Stats.sampledQuantiles(ev, col("event_type"),
      col("event_id"), col("value"), Seq(0.5), r = 1)
    val exact = ev.groupBy(col("event_type").as("g"))
      .agg(count(lit(1)).as("n_sample"),
        round(expr("percentile(value, 0.5d)"), 6).as("q0"))
    assert(all.exceptAll(exact).count() === 0 &&
      exact.exceptAll(all).count() === 0)
    // membership is content-hash: repartitioning must not move a bit
    val s16 = Stats.sampledQuantiles(ev, col("event_type"),
      col("event_id"), col("value"), Seq(0.25, 0.5, 0.9), r = 16)
    val s16r = Stats.sampledQuantiles(ev.repartition(7, col("user_id")),
      col("event_type"), col("event_id"), col("value"),
      Seq(0.25, 0.5, 0.9), r = 16)
    assert(s16.exceptAll(s16r).count() === 0 &&
      s16r.exceptAll(s16).count() === 0)
    // the estimate sits within a loose rank band of the truth: the
    // sampled median must lie between the exact p25 and p75
    val bands = ev.groupBy(col("event_type").as("g"))
      .agg(expr("percentile(value, 0.25d)").as("lo"),
        expr("percentile(value, 0.75d)").as("hi"))
      .join(s16.select(col("g"), col("q1")), Seq("g"))
    assert(bands.count() > 0)
    assert(bands.filter(col("q1") < col("lo") || col("q1") > col("hi"))
      .count() === 0, "sampled median outside the exact interquartile band")
    intercept[IllegalArgumentException] {
      Stats.sampledQuantiles(ev, col("event_type"), col("event_id"),
        col("value"), Seq(0.5), r = 0)
    }
  }

  test("contaminationReport: ppm fractions, threshold cut, empty bench") {
    val bench = Seq((100L, "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x b1 b2 b3 b4 b5 b6 b7 b8 y"), // 1 of 3 distinct grams: 333333 ppm
      (2L, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"), // clean: absent
      (3L, "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"), // identical: 1000000 ppm
      (4L, "b1 b2 b3 b4 b5 b6 b7 b8 m0 m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11"))
      .toDF("doc_id", "text") // 1 of 13 grams: 76923 ppm, below cut
    val grams = Decontaminate.benchmarkShingles(bench, col("text"), n = 8)
    val out = Decontaminate.contaminationReport(corpus, col("doc_id"),
        col("text"), grams, n = 8, minPpm = 200000L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 3L, 1L, 333333L), (3L, 3L, 3L, 1000000L)))
    val empty = Decontaminate.contaminationReport(corpus, col("doc_id"),
      col("text"), grams.limit(0), n = 8, minPpm = 0L)
    assert(empty.columns.toSeq ===
      Seq("doc_id", "n_shingles", "n_overlap", "overlap_ppm"))
    assert(empty.count() === 0)
  }

  test("temperatureBudgets: sqrt weights, floor under-allocation, budget cut") {
    val docs = Tables(spark, sfDir, "documents")
    val nTokens = size(split(col("text"), " "))
    val budgets = Scale.temperatureBudgets(docs, col("source"), nTokens,
      total = 20000L)
    val counts = docs.select(col("source"), nTokens.cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(budgets.keySet === counts.keySet)
    // floor never over-allocates, and drops < one token per source
    assert(budgets.values.sum <= 20000L)
    assert(budgets.values.sum > 20000L - budgets.size)
    // τ=0.5 weighting: budgets ordered like sqrt(n), pairwise
    val tot = counts.keys.toSeq.sorted
      .foldLeft(0.0)((a, s) => a + math.sqrt(counts(s).toDouble))
    for ((s, b) <- budgets)
      assert(b === math.floor(20000L * math.sqrt(counts(s).toDouble) / tot)
        .toLong)
    // the cut respects each budget exactly
    val sampled = Scale.tokenBudgetSample(docs, col("source"), col("doc_id"),
        nTokens, budgets, defaultBudget = 0L)
      .groupBy("source").agg(max("cum_tokens").as("used")).collect()
    for (r <- sampled) assert(r.getLong(1) <= budgets(r.getString(0)))
  }

  test("Decontaminate matches the direct exact overlap join on documents") {
    val docs = Tables(spark, sfDir, "documents")
    val grams = Decontaminate.benchmarkShingles(
      docs.filter(col("doc_id") % 10 === 0), col("text"), n = 8)
    val out = Decontaminate.contaminated(docs.filter(col("doc_id") % 10 =!= 0),
      col("doc_id"), col("text"), grams, n = 8)
    val direct = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(
        graft.plans.ShingleHashes.shingle_hashes(col("text"), 8)).as("gram"))
      .join(grams, Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    assert(out.count() > 0)
    assert(out.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(out).count() === 0)
  }

  test("CorpusFilter: each rule rejects its planted document") {
    val longRep = ("w " * 40).trim + " " + ("x " * 60).trim // dup_token heavy
    // mostly-distinct tokens but a looping bigram tail: only the
    // bigram rule fires
    val bigramRep = ((1 to 39).map(i => s"t$i") ++
      Seq("t1", "t2", "t1", "t2", "t1", "t2")).mkString(" ")
    val clean = (1 to 40).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, clean), (2L, "too short"), (3L, longRep),
      (4L, bigramRep)).toDF("doc_id", "text")
    val out = graft.operators.CorpusFilter.gopherFlags(df, col("doc_id"),
        col("text"),
        graft.operators.CorpusFilter.Thresholds(minTokens = 30,
          maxTokens = 10000, maxDupTokenFrac = 0.6, maxDupBigramFrac = 0.05))
      .orderBy("doc_id").collect()
    assert(out(0).getBoolean(5)) // clean doc kept
    assert(!out(1).getBoolean(2) && !out(1).getBoolean(5)) // len_ok fails
    assert(!out(2).getBoolean(3) && !out(2).getBoolean(5)) // dup_token fails
    // dup_bigram is the ONLY failing rule for the looping-tail doc
    assert(out(3).getBoolean(2) && out(3).getBoolean(3))
    assert(!out(3).getBoolean(4) && !out(3).getBoolean(5))
  }

  test("mixtureSample: rate bounds, determinism, and monotonic nesting") {
    val docs = Tables(spark, sfDir, "documents")
    def sample(rate: Double) = Scale.mixtureSample(docs, col("source"),
      col("text"), Map.empty, defaultRate = rate)
    assert(sample(0.0).count() === 0)
    assert(sample(1.0).count() === docs.count())
    val half = sample(0.5)
    val n = half.count()
    assert(n > 0 && n < docs.count())
    assert(half.exceptAll(sample(0.5)).count() === 0) // same cut every run
    // lower rates select subsets of higher rates (h < r·1e6 is monotone)
    val quarter = sample(0.25)
    assert(quarter.exceptAll(half).count() === 0)
  }

  test("labelCentroids: exact means on a known example") {
    val emb = Seq(
      (1L, Array(1.0f, 3.0f), 0),
      (2L, Array(3.0f, 5.0f), 0),
      (3L, Array(-2.0f, 0.5f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(emb, col("label"), col("embedding"))
      .orderBy("label", "dim").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((0, 0L, 2L, 2.0), (0, 1L, 2L, 4.0),
      (1, 0L, 1L, -2.0), (1, 1L, 1L, 0.5)))
  }

  test("exact dedup groups near-identical prefixes") {
    val docs = Tables(spark, sfDir, "documents")
    val groups = Dedup.exactByKey(docs, substring(col("text"), 1, 50), col("doc_id"))
    assert(groups.agg(sum("group_size")).head().getLong(0) === docs.count())
  }

  test("DotProduct: sequential double fold, null-safe, matches zip_with form") {
    val got = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
        (Array(0.5f), Array(0.25f)))
      .toDF("a", "b")
      .select(graft.plans.DotProduct.dot_product(col("a"), col("b")).as("d"))
      .orderBy(col("d").desc).as[Double].collect()
    assert(got(0) === 1.0 * 4 + 2.0 * 5 + 3.0 * 6)
    assert(got(1) === 0.125)
    val n = Seq((Array(1.0f), null.asInstanceOf[Array[Float]])).toDF("a", "b")
      .select(graft.plans.DotProduct.dot_product(col("a"), col("b"))).collect()
    assert(n(0).isNullAt(0))
  }

  test("grid-blocked cosine pairs equal all-pairs brute force") {
    val emb = Tables(spark, sfDir, "embeddings")
    val blocked = Dedup.cosinePairs(emb, col("vec_id"), col("embedding"), 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val e = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      .withColumn("norm",
        sqrt(graft.plans.DotProduct.dot_product(col("v"), col("v"))))
    val brute = e.select(col("id").as("id_a"), col("v").as("v_a"), col("norm").as("n_a"))
      .crossJoin(e.select(col("id").as("id_b"), col("v").as("v_b"), col("norm").as("n_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.plans.DotProduct.dot_product(col("v_a"), col("v_b")) /
          (col("n_a") * col("n_b")))
      .filter(col("cosine") >= 0.4)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty)
    assert(blocked === brute)
  }

  test("SRP approximate cosine pairs find planted near-dups exactly") {
    val emb = Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    // plant near-dups: small directional jitter → cosine ≈ 0.9999,
    // far above the 0.9 threshold where SRP recall is near-certain
    val dups = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + sin(i.cast("double")) * 0.02).cast("float"))
          .as("embedding"))
    val all = emb.unionByName(dups)
    val exact = Dedup.cosinePairs(all, col("vec_id"), col("embedding"), 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = Dedup.cosinePairsApprox(all, col("vec_id"), col("embedding"), 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 10)
    assert(approx === exact)
  }

  test("brute-force top-k returns k ranked neighbors per query") {
    val emb = Tables(spark, sfDir, "embeddings")
    val topk = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
      col("vec_id"), col("embedding"), k = 5)
    val counts = topk.groupBy("q_id").count().as[(Long, Long)].collect().toMap
    assert(counts.size === 3)
    assert(counts.values.forall(_ === 5L))
    // rank 1 has the highest cosine per query
    val r = topk.filter(col("q_id") === 0).orderBy("rank")
      .select("cosine").as[Double].collect()
    assert(r.toSeq === r.sorted(Ordering[Double].reverse).toSeq)
  }

  test("LSH top-k neighbors are a subset of the corpus with sane ranks") {
    val emb = Tables(spark, sfDir, "embeddings")
    val topk = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 3),
      col("vec_id"), col("embedding"), k = 5)
    assert(topk.filter(col("rank") > 5).count() === 0)
  }

  test("ANN quality report: recall/rr ppm, missed queries report zeros") {
    val truth = Seq(
      (10L, 1L, 100L), (10L, 2L, 101L), (10L, 3L, 102L),
      (10L, 4L, 103L), (10L, 5L, 104L),
      (20L, 1L, 200L), (20L, 2L, 201L), (20L, 3L, 202L),
      (20L, 4L, 203L), (20L, 5L, 204L)).toDF("q_id", "rank", "n_id")
    val approx = Seq(
      // q10: finds 3 of 5; the true NN (100) surfaces at rank 2
      (10L, 1L, 101L), (10L, 2L, 100L), (10L, 3L, 999L),
      (10L, 4L, 102L), (10L, 5L, 998L),
      // q20: total miss — candidates share no ids with the truth
      (20L, 1L, 997L), (20L, 2L, 996L)).toDF("q_id", "rank", "n_id")
    val r = Similarity.annQualityReport(truth, approx, k = 5)
      .orderBy("q_id").as[(Long, Long, Long, Long)].collect()
    assert(r.toSeq === Seq(
      (10L, 3L, 600000L, 500000L),
      (20L, 0L, 0L, 0L)))
  }

  test("HLL: registers + integer estimate match reference arithmetic") {
    import graft.operators.HyperLogLog
    def hash32(x: Long): Long = {
      val mod = 4294967296L; val mult = 73244475L
      var h = ((x % mod) + mod) % mod
      h = ((h ^ (h >> 16)) * mult) % mod
      h = ((h ^ (h >> 16)) * mult) % mod
      h ^ (h >> 16)
    }
    val keys = (1L to 5000L).map(_ * 17 + 3)
    val rows = keys.map(k => ("a", Option(k))) ++
      keys.take(100).map(k => ("a", Option(k))) ++ // dups: max idempotent
      Seq(("a", Option.empty[Long]), ("b", Option(42L))) // null ignored
    val df = rows.toDF("g", "k")
    val regs = HyperLogLog.registers(df, col("g"), col("k"))
    // reference: reg = h%64, w = h>>6, rank = 27 - bitlen(w) (w=0 → 27)
    val want = keys.map(hash32).map { h =>
      val w = h >> 6
      (h % 64, if (w == 0) 27L else 27L - (64 - java.lang.Long.numberOfLeadingZeros(w)))
    }.groupBy(_._1).map { case (r, xs) => (r, xs.map(_._2).max) }
    val gotA = regs.filter(col("g") === "a")
      .as[(String, Long, Long)].collect().map(t => (t._2, t._3)).toMap
    assert(gotA === want)
    // group b: single key 42 → exactly one register at the right rank
    val gotB = regs.filter(col("g") === "b")
      .as[(String, Long, Long)].collect()
    val h42 = hash32(42L)
    assert(gotB.toSeq === Seq(("b", h42 % 64,
      27L - (64 - java.lang.Long.numberOfLeadingZeros(h42 >> 6)))))
    // estimate: exact integer replay of α·m²/Σ2^−M over the registers
    val s = (0L until 64L).map(r =>
      1L << (27 - want.getOrElse(r, 0L).toInt)).sum
    val num = 709L * 64L * 64L * (1L << 27)
    val est = HyperLogLog.estimates(regs).filter(col("g") === "a")
      .as[(String, Long)].collect().head._2
    assert(est === (2 * num + 1000 * s) / (2000 * s))
    // and the estimate is actually an estimate of 5000
    assert(math.abs(est - 5000.0) / 5000.0 < 0.4)
  }

  test("HLL merge: union of per-shard registers equals whole-corpus build") {
    import graft.operators.HyperLogLog
    val keys = (1L to 4000L).map(_ * 13 + 7)
    val (lo, hi) = keys.splitAt(2000)
    // overlap: 500 keys live in BOTH shards — merge must not double-count
    val sharded = (lo.map(("s1", _)) ++ hi.map(("s2", _)) ++
      lo.take(500).map(("s2", _))).toDF("g", "k")
    val whole = keys.map(("all", _)).toDF("g", "k")
    val merged = HyperLogLog.merge(
      HyperLogLog.registers(sharded, col("g"), col("k")), "all")
    val direct = HyperLogLog.registers(whole, col("g"), col("k"))
    assert(merged.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(merged).count() === 0)
    val estM = HyperLogLog.estimates(merged).as[(String, Long)].collect()
    val estD = HyperLogLog.estimates(direct).as[(String, Long)].collect()
    assert(estM.toSeq === estD.toSeq)
  }

  test("feature hashing: feat/sign from rolling hash, cancelled rows drop") {
    import graft.ml.FeatureHash
    val d = 8
    def fs(t: String): (Long, Long) = {
      val h = RollingHash.hash(t)
      (h % d, 1L - 2L * ((h / d) % 2))
    }
    // expected signed sums for "x y  x" (empty token dropped, x twice)
    val exp = Seq("x", "y", "x").map(fs)
      .groupBy(_._1).map { case (f, xs) => (f, xs.map(_._2).sum) }
      .filter(_._2 != 0L)
    val got = FeatureHash.hashedBow(
        Seq((1L, "x y  x")).toDF("id", "text"),
        col("id"), col("text"), d)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._2, r._3)).toMap
    assert(got === exp)
    // a perfectly cancelling pair leaves no row: same feat, opposite
    // sign — synthesize by finding two 1-char tokens that collide
    val alphabet = ('a' to 'z').map(_.toString)
    val pair = (for {
      a <- alphabet; b <- alphabet if a < b
      (fa, sa) = fs(a); (fb, sb) = fs(b)
      if fa == fb && sa == -sb
    } yield (a, b)).headOption
    pair.foreach { case (a, b) =>
      val rows = FeatureHash.hashedBow(
        Seq((1L, s"$a $b")).toDF("id", "text"),
        col("id"), col("text"), d).collect()
      assert(rows.isEmpty)
    }
  }

  test("LSH S-curve: monotone in s, (32,4) recall-biased vs 0.8 target") {
    val c = Dedup.lshCurve(spark, Seq((32, 4)))
      .orderBy("si").select("collide_prob").as[Double].collect()
    assert(c.length === 9)
    assert(c.sliding(2).forall(w => w(0) <= w(1)))
    // threshold ≈ (1/32)^(1/4) ≈ 0.42: below 0.5 at s=0.3, above at 0.4
    assert(c(2) < 0.5 && c(3) > 0.5)
    // at the q35 similarity target s=0.8 the banding is near-certain
    assert(c(7) > 0.999)
    // reference arithmetic: exact fold replay for one point (s=0.3)
    val sr = (1 to 4).foldLeft(1.0)((a, _) => a * 0.3)
    val p = 1.0 - (1 to 32).foldLeft(1.0)((a, _) => a * (1.0 - sr))
    val want = BigDecimal(p)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(c(2) === want)
  }

  test("TopKByKey: matches sort-take reference, partition-invariant") {
    import graft.plans.TopKByKey
    import org.apache.spark.sql.Row
    val data = (1 to 500).map(i =>
      ("g" + (i % 3), (i * 37 % 101).toLong, i.toLong))
    val want = data.groupBy(_._1).map { case (g, xs) =>
      g -> xs.map(t => (t._2, t._3)).sortBy { case (s, id) => (-s, id) }
        .take(5)
    }
    def run(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(TopKByKey.topK(col("s"), col("id"), 5).as("tk"))
        .collect().map(r => r.getString(0) ->
          r.getSeq[Row](1).map(p => (p.getLong(0), p.getLong(1))).toSeq)
        .toMap
    val df = data.toDF("g", "s", "id")
    assert(run(df) === want)
    // retained set is order-free: any partitioning gives identical ranks
    assert(run(df.repartition(17)) === want)
    // null scores are ignored like SQL aggregates; ties break by id
    val got = run(Seq(("g", Option(7L), 2L), ("g", Option(7L), 1L),
      ("g", Option.empty[Long], 0L)).toDF("g", "s", "id"))
    assert(got("g") === Seq((7L, 1L), (7L, 2L)))
  }

  test("multimodal decode stub: schema + deterministic features") {
    val docs = Seq((0L, "hello world this is a test document"),
      (1L, ""), (2L, "short")).toDF("doc_id", "text")
    val out = Multimodal.decodeFeatures(Multimodal.mediaFromDocuments(docs))
      .orderBy("media_id").collect()
    assert(out(0).getAs[String]("kind") === "image")
    assert(out(1).getAs[String]("kind") === "audio")
    assert(out(2).getAs[String]("kind") === "video")
    assert(out(0).getAs[Long]("n_bytes") === 35L)
    assert(out(0).getAs[Long]("header_byte") === 'h'.toLong)
    assert(out(0).getAs[Long]("checksum") ===
      RollingHash.hash("hello world this"))
    assert(out(1).getAs[Long]("header_byte") === -1L)
    assert(out(1).getAs[Long]("n_frames") === 1L)
  }

  test("image codec: real PNG encode/decode round-trip + checksum") {
    val ids = Seq(0L, 1L, 5L, 12L, 90L).toDF("doc_id")
    val media = Multimodal.pngFromIds(ids)
    // payloads are REAL PNGs: magic bytes, decodable by ImageIO
    val p = media.orderBy("media_id").collect()
    assert(p.forall { r =>
      val b = r.getAs[Array[Byte]]("payload")
      (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'
    })
    val out = Multimodal.decodeImages(media).orderBy("media_id").collect()
    // dims + checksum match the in-JVM reference raster computation
    out.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val (w, h) = Multimodal.patternDims(id)
      assert(r.getAs[Long]("width") === w.toLong)
      assert(r.getAs[Long]("height") === h.toLong)
      var acc = 0L
      for (y <- 0 until h; x <- 0 until w)
        acc = (acc * 31L + Multimodal.patternArgb(id, x, y)) % 1000000007L
      assert(r.getAs[Long]("pixel_checksum") === acc)
      assert(r.getAs[Long]("n_bytes") > 8L)
    }
  }

  test("image resampler: exact area-average on real PNG pixels, " +
      "PNG round-trip, audit rows") {
    val idSeq = Seq(0L, 1L, 5L, 12L, 90L)
    val media = Multimodal.pngFromIds(idSeq.toDF("doc_id"))
    val out = Multimodal.resizeImages(media, factor = 2)
      .orderBy("media_id").collect()
    out.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val (w, h) = Multimodal.patternDims(id)
      assert(r.getAs[Long]("orig_width") === w.toLong)
      assert(r.getAs[Long]("orig_height") === h.toLong)
      val (w2, h2) = (w / 2, h / 2)
      assert(r.getAs[Long]("width") === w2.toLong)
      assert(r.getAs[Long]("height") === h2.toLong)
      // in-JVM reference: per-channel floor-average of each 2x2 block
      // of the pattern raster, hashed like decodeImages
      var acc = 0L
      for (y <- 0 until h2; x <- 0 until w2) {
        def ch(f: (Long, Int, Int) => Long): Long =
          (for (dy <- 0 until 2; dx <- 0 until 2)
            yield f(id, 2 * x + dx, 2 * y + dy)).sum / 4
        val argb = 0xFF000000L |
          (ch((i, a, b) => ((i + 3L * a + 5L * b) % 256L)) << 16) |
          (ch((i, a, b) => ((2L * i + 7L * a + b) % 256L)) << 8) |
          ch((i, a, b) => ((5L * i + a + 11L * b) % 256L))
        acc = (acc * 31L + argb) % 1000000007L
      }
      assert(r.getAs[Long]("pixel_checksum") === acc, s"image $id")
    }
    // undecodable payload and smaller-than-factor images are audit
    // rows, not failures
    val junk = Seq(Multimodal.MediaRecord(7L, "image", Array[Byte](1, 2)))
      .toDF("media_id", "kind", "payload")
    val bad = Multimodal.resizeImages(junk, factor = 2).head
    assert(bad.getAs[Long]("width") === -1L &&
      bad.getAs[Long]("pixel_checksum") === -1L)
    val tiny = Multimodal.resizeImages(media, factor = 100)
      .orderBy("media_id").head
    assert(tiny.getAs[Long]("orig_width") > 0L &&
      tiny.getAs[Long]("width") === -1L)
  }

  test("video codec: PNG frames in ISO-BMFF round-trip, keyframe " +
      "sampling, and malformed audit row") {
    val ids = Seq(0L, 1L, 2L, 3L, 7L, 90L).toDF("doc_id")
    val media = Multimodal.videoFromIds(ids)
    // the container parses with the generic walker: 1 track, one mdat
    // per frame whose bytes are each a complete PNG
    val meta = Multimodal.parseMp4(media).orderBy("media_id").collect()
    meta.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Long]("n_tracks") === 1L)
      assert(r.getAs[Long]("timescale") === 600L)
      assert(r.getAs[Long]("duration") ===
        Multimodal.videoFrames(id) * 40L)
    }
    // every frame sampled: real decoded pixels equal the reference
    // raster for that frame's seed
    val all = Multimodal.decodeVideoFrames(media, everyNth = 1)
      .orderBy("media_id", "frame_id").collect()
    assert(all.length === Seq(0L, 1L, 2L, 3L, 7L, 90L)
      .map(Multimodal.videoFrames).sum)
    all.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val f = r.getAs[Long]("frame_id")
      val (w, h) = Multimodal.patternDims(id)
      assert(r.getAs[Long]("width") === w.toLong)
      assert(r.getAs[Long]("height") === h.toLong)
      val seed = Multimodal.videoFrameSeed(id, f.toInt)
      var acc = 0L
      for (y <- 0 until h; x <- 0 until w)
        acc = (acc * 31L + Multimodal.patternArgb(seed, x, y)) % 1000000007L
      assert(r.getAs[Long]("pixel_checksum") === acc, s"clip $id frame $f")
    }
    // every-2nd sampling keeps exactly frames 0, 2, 4, ...
    val sampled = Multimodal.decodeVideoFrames(media, everyNth = 2)
      .select(col("media_id"), col("frame_id"))
      .as[(Long, Long)].collect().toSet
    val expect = (for {
      id <- Seq(0L, 1L, 2L, 3L, 7L, 90L)
      f <- 0 until Multimodal.videoFrames(id) if f % 2 == 0
    } yield (id, f.toLong)).toSet
    assert(sampled === expect)
    // malformed payload: audit row, not a task failure
    val junk = Seq((99L, "video", Array[Byte](1, 2, 3)))
      .toDF("media_id", "kind", "payload")
    val bad = Multimodal.decodeVideoFrames(junk).head
    assert(bad.getAs[Long]("frame_id") === -1L)
    assert(bad.getAs[Long]("pixel_checksum") === -1L)
  }

  test("audio codec: real WAV write/parse round-trip + PCM checksum") {
    val ids = Seq(0L, 3L, 128L, 500L).toDF("doc_id")
    val media = Multimodal.wavFromIds(ids)
    val p = media.orderBy("media_id").collect()
    // payloads are REAL WAVs: RIFF....WAVE container magic
    assert(p.forall { r =>
      val b = r.getAs[Array[Byte]]("payload")
      new String(b.slice(0, 4), "US-ASCII") == "RIFF" &&
        new String(b.slice(8, 12), "US-ASCII") == "WAVE"
    })
    val out = Multimodal.decodeAudio(media).orderBy("media_id").collect()
    out.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val n = Multimodal.patternFrames(id)
      assert(r.getAs[Long]("sample_rate") === 8000L)
      assert(r.getAs[Long]("channels") === 1L)
      assert(r.getAs[Long]("n_frames") === n.toLong)
      var acc = 0L
      for (i <- 0 until n)
        acc = (acc * 31L + Multimodal.patternSample(id, i)) % 1000000007L
      assert(r.getAs[Long]("pcm_checksum") === acc)
    }
  }

  test("audio codec: undecodable payload is an audit row") {
    val junk = Seq((9L, "audio", "definitely not wav".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    val out = Multimodal.decodeAudio(junk).head
    assert(out.getAs[Long]("sample_rate") === -1L)
    assert(out.getAs[Long]("pcm_checksum") === -1L)
  }

  test("video container: MP4 box tree round-trip + malformed audit row") {
    val ids = Seq(0L, 2L, 7L, 499L).toDF("doc_id")
    val out = Multimodal.parseMp4(Multimodal.mp4FromIds(ids))
      .orderBy("media_id").collect()
    out.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Long]("timescale") === 600L)
      assert(r.getAs[Long]("duration") === Multimodal.mp4Duration(id))
      assert(r.getAs[Long]("n_tracks") === Multimodal.mp4Tracks(id).toLong)
      assert(r.getAs[Long]("mdat_bytes") === Multimodal.mp4MdatBytes(id).toLong)
      assert(r.getAs[Long]("box_count") === 4L + 2L * Multimodal.mp4Tracks(id))
    }
    val junk = Seq((5L, "video", Array[Byte](0, 0, 0, 3, 'x', 'y')))
      .toDF("media_id", "kind", "payload")
    val bad = Multimodal.parseMp4(junk).head
    assert(bad.getAs[Long]("box_count") === -1L)
  }

  test("image codec: undecodable payload is an audit row, not a failure") {
    val junk = Seq((7L, "image", "not a png at all".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    val out = Multimodal.decodeImages(junk).head
    assert(out.getAs[Long]("width") === -1L)
    assert(out.getAs[Long]("height") === -1L)
    assert(out.getAs[Long]("n_bytes") === 16L)
    assert(out.getAs[Long]("pixel_checksum") === -1L)
  }

  test("frame sampling: offsets, tail width, every-Nth selection") {
    // 10-char payload, 4-char frames -> frames at 0,4,8 (3 frames:
    // 10 div 4 + 1), sampled every 2nd -> offsets 0 and 8
    val media = Seq((1L, "k", "abcdefghij")).toDF("media_id", "kind", "s")
      .select(col("media_id"), col("kind"), col("s").cast("binary").as("payload"))
    val out = Multimodal.sampleFrames(media, frameChars = 4, everyNth = 2)
      .orderBy("sample_id").collect()
    assert(out.map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      === Seq((0L, 0L, 4L), (1L, 8L, 2L))) // tail frame is 2 chars
    assert(out(0).getLong(5) === RollingHash.hash("abcd"))
    assert(out(1).getLong(5) === RollingHash.hash("ij"))
  }

  test("resize stub: every-factor-th char, sizes, fingerprint") {
    val media = Seq((1L, "k", "abcdefghij")).toDF("media_id", "kind", "s")
      .select(col("media_id"), col("kind"), col("s").cast("binary").as("payload"))
    val out = Multimodal.resizeStub(media, factor = 4).head
    assert(out.getLong(2) === 10L && out.getLong(3) === 3L)
    assert(out.getLong(4) === RollingHash.hash("aei"))
  }

  test("streaming windowed counts equal the batch aggregation") {
    val streamed = graft.streaming.EventsStream.windowedCounts(spark, sfDir)
    val batch = Tables(spark, sfDir, "events")
      .groupBy((floor(col("ts").cast("long") / 10800) * 10800).as("bucket_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch.select("bucket_start", "event_type", "n")).count() === 0)
  }

  test("streamed HLL registers equal the batch-built registers exactly") {
    val streamed = graft.streaming.EventsStream
      .streamedHllRegisters(spark, sfDir)
    val batch = graft.operators.HyperLogLog.registers(
      Tables(spark, sfDir, "events"), col("event_type"), col("user_id"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streamed decayed counters equal the batch operator exactly") {
    val streamed = graft.streaming.EventsStream
      .streamedDecayedCounts(spark, sfDir, 9L, 10L, 30)
    val batch = graft.operators.Decay.decayedCounts(
        Tables(spark, sfDir, "events"), col("event_type"), col("ts"),
        9L, 10L, 30)
      .withColumnRenamed("k", "event_type")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streamed expectations equal the batch contract report exactly") {
    val checks = Seq(
      "a_type" -> col("event_type").isin("click"),
      "b_user" -> col("user_id").isNotNull)
    val streamed = graft.streaming.EventsStream
      .streamedExpectations(spark, sfDir, checks)
    val batch = graft.operators.Expectations.validate(
      Tables(spark, sfDir, "events"), checks)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streamed count-min cells equal the batch-built cells exactly") {
    val w = 256
    val streamed = graft.streaming.EventsStream
      .streamedCmsCells(spark, sfDir, w)
    val batch = graft.operators.FrequencySketch.cmsCells(
      Tables(spark, sfDir, "events"), col("user_id"), w)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }
}
