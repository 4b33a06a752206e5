package graft.functions

import graft.plans.RollingHash.rolling_hash
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the large-scale training-data pipeline:
  * tokenization, shingling, quality metrics, language ID, fingerprints,
  * MinHash/SimHash signatures. All pure Column expressions (codegen'd);
  * the only hash primitive is the engine-reproducible RollingHash, which
  * keeps every downstream op oracle-checkable in DuckDB.
  */
object TextFunctions {

  /** Bind `v` once per row before using it many times inside `f`.
    *
    * Catalyst does NOT share a subexpression referenced from inside a
    * higher-order-function lambda — `element_at(split(text), i)` re-runs
    * the split for every element. Routing the value through a
    * single-element array + transform materializes it once (lambda
    * variables are evaluated values), which makes shingling/simhash
    * ~10× faster on real documents.
    */
  def bind(v: Column, f: Column => Column): Column =
    element_at(transform(array(v), x => f(x)), 1)

  /** Single-space tokenization — matches DuckDB's string_split(text,' ')
    * exactly (documents are single-space separated; empties preserved).
    */
  def tokens(c: Column): Column = split(c, " ")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** BPE-ish subword-proxy tokenization: letter runs, single digits,
    * single other marks — the GPT-2 pre-tokenizer shape without a
    * merges table. A vocabulary-free corpus-cost estimator
    * (chars/token ≈ 4-5 for English prose, → 1 for noise); pure
    * codegen'd regexp. The whitespace class is spelled out because
    * `\s` differs between Java regex (includes U+000B) and DuckDB's
    * RE2 (does not) — the explicit class is identical in both, keeping
    * the oracle counts exact.
    */
  val BpeIshPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"

  def bpeIshTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeIshPattern), lit(0))).cast("long")

  /** Distinct word n-gram shingles (space-joined). */
  def shingles(c: Column, n: Int): Column =
    bind(tokens(c), t => {
      val grams = transform(
        sequence(lit(1), size(t) - lit(n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(t, i + lit(o))): _*))
      when(size(t) >= n, array_distinct(grams))
        .otherwise(array().cast("array<string>"))
    })

  val EnglishStopwords: Seq[String] = Seq("the", "a", "is", "of", "and")

  /** n-gram-heuristic language ID: stopword hit counts per language,
    * deterministic argmax (declaration order wins ties), 'unknown' when
    * nothing hits. The when-chain mirrors the oracle's CASE chain 1:1.
    */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "les", "est", "et", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** The per-language hit-count array feeding [[langIdFromHits]] — one
    * codegen'd byte pass over the text (round 17). Split out (round 18,
    * r17 verdict item 6) so call sites can materialize it ONCE in an
    * intermediate projection: nesting it inside [[langIdFromHits]]
    * repeats the array expression textually per argmax comparison
    * (~25×) and relies on codegen subexpression elimination to
    * collapse them — fine today, but one interpreted neighbor away
    * from 25 byte-passes/row.
    */
  def langIdHits(c: Column): Column =
    graft.plans.TokenSetHits.token_set_hits(c, LangStopwords.map(_._2))

  /** Argmax when-chain over a [[langIdHits]] array: same counts, same
    * declaration-order tie-break, same 'unknown' fallback as the
    * original fused form (element_at counts are the exact
    * size(filter(tokens, isin(words))) values).
    */
  def langIdFromHits(hits: Column): Column = {
    val counts = LangStopwords.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(hits, i + 1)
    }
    val allZero = counts.map(_._2 === 0).reduce(_ && _)
    counts.zipWithIndex.foldLeft(when(allZero, lit("unknown"))) {
      case (acc, ((lang, _), i)) =>
        val mine = counts(i)._2
        val isMax = counts.map(_._2).map(other => mine >= other).reduce(_ && _)
        acc.when(isMax, lit(lang))
    }
  }

  /** Document fingerprint: rolling hash of the whole text (custom
    * codegen'd Catalyst expression — see graft.plans.RollingHash).
    */
  def fingerprint(c: Column): Column = rolling_hash(c)

  /** MinHash universal hashes: k = bands*rowsPerBand functions
    * h_j(x) = (a_j*x + b_j) mod p applied to the reproducible shingle
    * hash. Seeds come from a fixed LCG so signatures are stable
    * across runs/engines.
    */
  final val MinhashPrime = 2038074743L // prime < 2^31

  def minhashSeeds(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var s = seed
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); (s >>> 33) % MinhashPrime }
    (0 until k).map(_ => (math.max(1L, next()), next()))
  }

  /** MinHash signature over pre-hashed shingles (any long hash; reduced
    * mod p before the universal hash so products stay in 62 bits).
    */
  def minhashSignatureFromHashes(hashesCol: Column, k: Int): Column = {
    val seeds = minhashSeeds(k)
    val seedArr = array(seeds.map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    transform(seedArr, s =>
      array_min(transform(hashesCol, h =>
        pmod(s.getField("a") * pmod(h, lit(MinhashPrime)) + s.getField("b"),
          lit(MinhashPrime)))))
  }

  /** shiftleft/shiftright with a *column* shift amount (the public Scala
    * API only accepts literal Ints; SQL's shiftright(col, col) maps to
    * these Catalyst nodes directly).
    */
  def shiftRight(v: Column, s: Column): Column = shr(v, s)

  private def shr(v: Column, s: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftRight(
        org.apache.spark.sql.graft.Bridge.expression(v),
        org.apache.spark.sql.graft.Bridge.expression(s)))

  private[graft] def shl(v: Column, s: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.graft.Bridge.expression(v),
        org.apache.spark.sql.graft.Bridge.expression(s)))

  /** SimHash over token rolling-hashes: per bit, majority vote of +1/-1
    * across tokens. Default 32 bits (the DuckDB-oracle form); use up to
    * 62 bits at scale — the 32-bit space saturates on very large corpora
    * (nBits > 62 would need sign-bit handling in both engines). The
    * RollingHash modulus is ~2^30, so wider signatures mix bit b with
    * bit b mod 30 of a second-round hash.
    */
  def simhash(c: Column, nBits: Int = 32): Column = {
    require(nBits >= 1 && nBits <= 62, s"nBits out of range: $nBits")
    // One-pass native expression (round 17): the previous higher-order
    // tree (transform(tokens, rolling_hash) → aggregate per bit) was
    // CodegenFallback-interpreted — per-token lambda dispatch × nBits
    // per document. simhash_text computes the identical signature
    // (same tokenization, same rolling hash, same LCG second round,
    // same vote/assemble arithmetic — pinned bit-identical to the old
    // formulation by ExprOptSpec) inside whole-stage codegen.
    graft.plans.SimhashText.simhash_text(c, nBits)
  }
}
