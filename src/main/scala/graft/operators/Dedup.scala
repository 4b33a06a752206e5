package graft.operators

import graft.functions.TextFunctions
import graft.operators.Checkpoints.TruncateOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for the 100 TB training-data pipeline: exact,
  * n-gram Jaccard (exact, inverted-index), MinHash+LSH (banded candidates
  * + exact verify), SimHash (pigeonhole-blocked Hamming), embedding
  * cosine. Every variant's output is either exactly the set of true
  * near-dup pairs (verifiable in SQL) or explicitly approximate.
  */
object Dedup {

  /** Exact dedup by an arbitrary key expression (hash-groupBy): one
    * representative (min id) + group size per key. One shuffle on the
    * key; map-side partial aggregation keeps it skew-tolerant.
    */
  def exactByKey(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("rep_id"), count(lit(1)).as("group_size"))

  /** The duplicate-collapse gate: collapse once ≥20% of the rows are
    * byte-identical on the pair function's input (`distinct` may be an
    * approx_count_distinct — its ~2% error sits well inside the margin,
    * and both branches are exact).
    */
  private[operators] def duplicateHeavy(rows: Long, distinct: Long): Boolean =
    distinct * 5L <= rows * 4L

  /** DUPLICATE COLLAPSE (round 12, the q36/q37 move; round 14 for the
    * edit-distance joins) for a pair function that is a pure function
    * of its `keys` columns: rows with identical keys are
    * interchangeable through the quadratic stage, so on a
    * duplicate-saturated corpus one representative per key group — the
    * `min(id)` — runs `pairs`, and the surviving pairs expand back to
    * id pairs with output-sized member joins ([[expandGroups]]). On a
    * mostly-unique corpus the group-by and member joins are pure
    * overhead, so callers gate `collapse` (a hint or [[duplicateHeavy]]).
    *
    * `rows` carries `id` plus `keys`; `pairs` maps such a frame to
    * (id_a, id_b, value) with id_a < id_b. `within` is the value of a
    * pair inside one group, evaluated over the representative row (null
    * means no within-group pair). With `collapse` off `pairs` runs on
    * `rows` directly — no group-by, no member join, no second reference
    * to the input (q95's dense path relies on it).
    */
  private[operators] def collapsedPairs(rows: DataFrame, keys: Seq[String],
      collapse: Boolean, within: Column)(
      pairs: DataFrame => DataFrame): DataFrame =
    if (!collapse) pairs(rows)
    else {
      val k = keys.map(col)
      val groups = Checkpoints.truncate(
        rows.groupBy(k: _*).agg(min(col("id")).as("id")))
      val members = Checkpoints.truncate(
        rows.join(groups.select(k :+ col("id").as("gid"): _*), keys)
          .select(col("id"), col("gid")))
      val reps = groups.select(col("id") +: k: _*)
      expandGroups(reps, members, pairs(reps), within)
    }

  /** Expands pairs of group representatives (id_a, id_b, value) over
    * `members` (id, gid) — two member joins, `least`/`greatest` ids —
    * and adds every within-group pair at `within`, evaluated over
    * `reps` (id = the group key; null means no within-group pair).
    */
  private[operators] def expandGroups(reps: DataFrame, members: DataFrame,
      repPairs: DataFrame, within: Column): DataFrame = {
    val value = repPairs.columns(2)
    val cross = repPairs
      .join(members.select(col("gid").as("id_a"), col("id").as("ia")),
        Seq("id_a"))
      .join(members.select(col("gid").as("id_b"), col("id").as("ib")),
        Seq("id_b"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col(value))
    val same = reps.select(col("id").as("gid"), within.as(value))
      .filter(col(value).isNotNull)
      .join(members.select(col("gid"), col("id").as("id_a")), Seq("gid"))
      .join(members.select(col("gid"), col("id").as("id_b")), Seq("gid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col(value))
    cross.union(same)
  }

  /** Exact all-pairs n-gram Jaccard ≥ threshold. Two exact strategies,
    * both fed by shingles hashed to longs (xxhash64: collision-free
    * w.h.p, so set sizes/intersections are unchanged) and materialized
    * once via an eager localCheckpoint (the frame feeds several plan
    * branches and re-deriving the shingling dominated the runtime):
    *
    * An explicit `prefixFilter` hint also skips the candidate-pairs
    * BUDGET's stats pass (the hint's contract is "no stats job") —
    * UNLESS the budget conf ([[NgramPairsMaxKey]]) was explicitly set
    * in the session, which always enforces the guard (round 17,
    * advisor: a set conf must never be a silent no-op; the stats pass
    * it costs is cached per plan). With the conf unset, a hinted call
    * is budget-checked only from a previously-cached estimate; hinted
    * callers on unknown corpora then accept the OOM risk the budget
    * exists to stop.
    *
    *  - `prefixFilter = Some(true)`: lossless prefix filtering —
    *    J(A,B) ≥ τ implies |A∩B| ≥ ⌈τ·|A|⌉, so if A's first
    *    |A|−⌈τ·|A|⌉+1 shingles (canonical rarest-first order) share
    *    nothing with B, the intersection cannot fit in the remaining
    *    suffix. Candidates = prefix(A) ⋈ full(B) + exact verify. The
    *    skew-safe path: frequent shingles make the count join quadratic
    *    (long docs, skewed df), while the prefix inverted index only
    *    posts each document's rarest shingles.
    *
    *  - `prefixFilter = Some(false)`: inverted-index count join — pairs
    *    sharing a shingle, pre-pruned by the size-compatibility bound
    *    (J ≥ τ ⟹ τ·|B| ≤ |A|), co-occurrence count = exact |A∩B|.
    *    Cheaper when per-shingle document frequency is modest (no
    *    document-frequency ranking pass, one join instead of three).
    *
    *  - `None` (default): adaptive — measure the count join's exact
    *    candidate volume Σ_g df(g)·(df(g)−1)/2 from a (cheap,
    *    map-side-combinable) document-frequency aggregate and take the
    *    count join unless candidates dwarf the posting count
    *    (> 64·Σdf). The prefix path replaces the candidate join with
    *    three extra posting-sized passes (freq join, rarity window,
    *    array-intersect verify), so it only wins once per-candidate work
    *    exceeds per-posting work by that margin — a skewed corpus (one
    *    shingle with df in the millions) blows past the bound
    *    immediately, while a modest-df corpus stays on the cheaper join.
    *    Both strategies are exact, so the choice is invisible in the
    *    output — a physical-plan decision made from data statistics,
    *    the same way AQE picks join strategies. The decision is CACHED
    *    per logical input (the pre-checkpoint shingling plan's semantic
    *    hash), so repeat invocations over the same input — a warmed
    *    benchmark, an interactive session — pay the stats pass once and
    *    then measure only the join. Staleness (the underlying files
    *    changing under an identical plan) or a hash collision can at
    *    worst pick the slower exact strategy, never a wrong answer.
    */
  def ngramJaccardPairs(docs: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double, prefixFilter: Option[Boolean] = None): DataFrame = {
    // shingling is ms-per-doc CPU: lift it to session parallelism when
    // the scan is split-starved (no-op on a many-split cluster scan)
    val shQuery = Explosive.ensureMapParallelism(
        docs.select(id.as("id"), text.as("__text")), col("id"))
      .select(col("id"),
        graft.plans.ShingleHashes.shingle_hashes(col("__text"), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val shAll = shQuery.truncated
    val planHash = shQuery.queryExecution.analyzed.semanticHash()
    // Collapse IDENTICAL shingle arrays before the quadratic stage
    // (round 12, the q36/q37 move) — ADAPTIVELY: Jaccard is a pure
    // function of the two shingle sets, so on a duplicate-saturated
    // corpus the collapse shrinks the candidate join quadratically,
    // but on a mostly-unique corpus the group-by + member joins are
    // pure overhead (measured +0.4 s on q34's sf0.1 headline row,
    // ~zero duplicates there). Gate on the observed duplicate
    // fraction — approx_count_distinct suffices because BOTH branches
    // are exact; the stat is cached per logical input like the
    // strategy gate below. Grouping by ARRAY equality is correct
    // whatever the array's internal order: equal arrays have Jaccard
    // exactly 1.0 (x/x divides to 1.0 in IEEE), and arrays that
    // differ pair through the normal strategies.
    // ALL THREE scalar gate statistics — doc count + approx-distinct
    // shingle sets (collapse gate) and total postings (pin gate) —
    // ride ONE lazy action over the checkpointed shAll, the same
    // consolidation Search.gateStats got in round 12: previously the
    // three gates each ran their own aggregate job on first sight of
    // a plan (three re-scans of the checkpoint where one would do).
    // Cache-warm callers never run it at all.
    lazy val gateStats: (Long, Long, Long) = {
      val r = shAll.agg(count(lit(1)).as("n"),
        approx_count_distinct(col("sh")).as("d"),
        coalesce(sum(size(col("sh")).cast("long")), lit(0L)).as("postings"))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val collapse = AdaptiveStrategy.cached("ngram-collapse", planHash) {
      duplicateHeavy(gateStats._1, gateStats._2)
    }
    val usePrefix = prefixFilter.getOrElse {
      AdaptiveStrategy.cached("ngram-prefix", planHash) {
        chooseNgramStrategy(shAll, planHash, gateStats._3)
      }
    }
    // the posting self-join is explosive (post-join candidate volume,
    // tiny shuffled bytes): pin its exchanges past the blocker gate —
    // unpinned+AQE-starved it ground 1.4e8 sf1 candidates through ~2
    // reducers (~100 s); pinned it spreads them over every core
    val pin = Explosive.pinGate(docs, "ngram-postings", planHash)(gateStats._3)
    val statsKey = if (collapse) "ngram-cand-collapsed" else "ngram-cand"
    collapsedPairs(shAll, Seq("sh"), collapse,
        when(lit(1.0) >= threshold, lit(1.0))) { sh =>
      // an explicit prefixFilter hint's documented purpose is to skip
      // the stats pass entirely — the budget guard must not silently
      // reintroduce a full corpus aggregate for hinted hot-path callers
      // (round 16, advisor). The budget still applies when a prior
      // unhinted caller already paid for the estimate (a free read) —
      // and, since round 17 (advisor), whenever the budget conf was
      // EXPLICITLY set in this session: a caller who both hints the
      // strategy and sets the budget asked for the guard, and an
      // explicitly-set conf must never be a silent no-op (the stats
      // pass it costs runs once per plan and is cached).
      if (prefixFilter.isEmpty ||
          sh.sparkSession.conf.getOption(NgramPairsMaxKey).isDefined)
        guardCandidateBudget(sh, statsKey, planHash)
      else AdaptiveStrategy.peek[Long](statsKey, planHash)
        .foreach(est => enforceCandidateBudget(sh, est))
      if (usePrefix) prefixFilterPairs(sh, threshold, pin)
      else countJoinPairs(sh, threshold, pin)
    }
  }

  private def chooseNgramStrategy(sh: DataFrame, planHash: Int,
      postings: Long): Boolean =
    // `postings` (= Σ df) arrives from the caller's consolidated
    // gateStats row rather than being re-summed here; the candidate
    // estimate shares [[candidatePairsEstimate]]'s cache with the
    // pairs-budget guard, so the df aggregate runs once per plan.
    candidatePairsEstimate(sh, "ngram-cand", planHash) > 64.0 * postings

  /** Exact count-join candidate volume Σ_g df(g)·(df(g)−1)/2 for a
    * shingled frame, cached per pre-checkpoint plan hash (the same
    * key discipline as the strategy/pin gates — the checkpointed
    * frame's own hash changes per invocation). Summed in DOUBLE: one
    * ultra-frequent shingle (df in the billions) overflows df·(df−1)
    * as a long, and Spark's non-ANSI sum would wrap negative —
    * silently routing exactly the skewed corpus the gates exist to
    * catch. Clamped to Long.MaxValue; the consumers only need
    * magnitude.
    */
  private def candidatePairsEstimate(sh: DataFrame, statsKey: String,
      planHash: Int): Long =
    AdaptiveStrategy.cached(statsKey, planHash) {
      val stats = sh.select(explode(col("sh")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
        .agg(sum(col("df").cast("double") * (col("df").cast("double") - 1))
            .as("cand2")).head()
      val candidates = (if (stats.isNullAt(0)) 0.0 else stats.getDouble(0)) / 2
      math.min(candidates, Long.MaxValue.toDouble).toLong
    }

  /** Fail-fast pairs budget for the exact n-gram join (round 15,
    * verdict): at sf10 the verify stage died as an executor OOM after
    * ~33 MINUTES (8 g heap in the shingle-array sort buffers; 28 g ran
    * 33 min before dying) — an operator that already computes corpus
    * df statistics to pick its join strategy should spend that same
    * statistic to refuse an over-budget corpus upfront with an
    * actionable message. The estimate is the count join's exact
    * candidate volume and an upper bound on the prefix path's verify
    * candidates, so it is the right proxy for both strategies' memory
    * class. Session-overridable via [[NgramPairsMaxKey]] (0 or
    * negative disables); the default clears sf1's measured 1.4e8
    * candidates with an order of magnitude to spare while stopping
    * the sf10 class (~1.4e10) at plan time.
    */
  private def guardCandidateBudget(sh: DataFrame, statsKey: String,
      planHash: Int): Unit = {
    val budget = sh.sparkSession.conf
      .get(NgramPairsMaxKey, NgramPairsMax.toString).toLong
    if (budget <= 0) return
    enforceCandidateBudget(sh, candidatePairsEstimate(sh, statsKey, planHash))
  }

  /** The budget comparison alone, against an estimate the caller
    * already holds — lets the hinted path enforce the budget from a
    * cache read without paying the stats job.
    */
  private def enforceCandidateBudget(sh: DataFrame, est: Long): Unit = {
    val budget = sh.sparkSession.conf
      .get(NgramPairsMaxKey, NgramPairsMax.toString).toLong
    if (budget <= 0) return
    if (est > budget) throw new IllegalStateException(
      s"ngramJaccardPairs: estimated candidate-pair volume $est exceeds " +
        s"the $budget budget ($NgramPairsMaxKey) — the exact all-pairs " +
        "verify at this scale exhausts executor memory (measured: 33-min " +
        "OOM at sf10). Use the banded/bucketed scale paths instead: " +
        "Dedup.minhashLshPairs (q35) or " +
        "DedupIndex.incrementalNearDedupIndexed (q122); or raise the " +
        "budget / set it <= 0 to force the exact join.")
  }

  /** Default for [[NgramPairsMaxKey]]: 2e9 candidate pairs. */
  private[operators] val NgramPairsMax = 2000000000L

  private[graft] val NgramPairsMaxKey = "spark.graft.ngram.maxCandidatePairs"

  private def countJoinPairs(sh: DataFrame, threshold: Double,
      pin: Boolean): DataFrame = {
    val inv = sh.select(col("id"), size(col("sh")).cast("long").as("n"),
      explode(col("sh")).as("g"))
    Explosive.blockerJoin(
        inv.select(col("id").as("id_a"), col("n").as("n_a"), col("g")),
        inv.select(col("id").as("id_b"), col("n").as("n_b"), col("g")),
        Seq("g"), pin)
      .filter(col("id_a") < col("id_b") &&
        col("n_a") >= ceil(col("n_b") * threshold) &&
        col("n_b") >= ceil(col("n_a") * threshold))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  private def prefixFilterPairs(sh: DataFrame, threshold: Double,
      pin: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = sh.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("g"))
    val freq = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // Canonical rarest-first rank per document; a posting survives into
    // the prefix inverted index iff rank ≤ n_sh − ⌈τ·n_sh⌉ + 1. Ranking
    // via a window (one exchange on id, spillable sort) instead of
    // collect_list + sort_array keeps per-task memory bounded even for a
    // pathologically long document — the full shingle array is never
    // re-materialized per row.
    val byRarity = Window.partitionBy(col("id")).orderBy(col("df"), col("g"))
    val prefixInv = inv.join(freq, Seq("g"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("n_sh") - ceil(col("n_sh") * threshold).cast("int") + 1)
      .select(col("id"), col("g"))
    val cand = Explosive.blockerJoin(
        prefixInv.select(col("id").as("p_id"), col("g")),
        inv.select(col("id").as("f_id"), col("g")), Seq("g"), pin)
      .filter(col("p_id") =!= col("f_id"))
      .select(least(col("p_id"), col("f_id")).as("id_a"),
        greatest(col("p_id"), col("f_id")).as("id_b"))
      .distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Directional n-gram CONTAINMENT pairs: (id_a, id_b) where the
    * fraction of a's distinct shingles also present in b clears
    * `minPpm` parts-per-million — the asymmetric near-dup Jaccard
    * can't see: a short document quoted whole inside a long one, or
    * boilerplate wrapping, where |∩|/|∪| stays tiny but |∩|/|A| is
    * ~1. The standard companion check to symmetric dedup in web-scale
    * curation (cf. the containment step of RefinedWeb-style pipelines).
    *
    * The score is pure integer arithmetic (`inter · 10⁶ div n_a`), so
    * it is bit-identical in any engine and any reduction order; no
    * float ratio anywhere. `inter · 10⁶` needs a document to carry
    * ~9.2e12 distinct shingles before the long wraps — not a real
    * document.
    *
    * Scale shape: the same inverted-index count join as
    * [[ngramJaccardPairs]]'s count strategy — postings explode, one
    * equi-join on the shingle hash, pair groupBy with partial
    * aggregation. Containment admits NO size-ratio prefix pruning (a
    * 10-shingle doc inside a 10⁶-shingle doc is a hit by design), so
    * the skew control is `dfCap`: drop shingles whose document
    * frequency exceeds the cap before the join. Capping is explicitly
    * lossy — dropped grams can only LOWER measured containment, never
    * raise it (precision holds; recall can drop) — and None grades
    * exact.
    */
  def containmentPairs(docs: DataFrame, id: Column, text: Column,
      n: Int, minPpm: Long, dfCap: Option[Long] = None): DataFrame = {
    val shQuery = Explosive.ensureMapParallelism(
        docs.select(id.as("id"), text.as("__text")), col("id"))
      .select(col("id"),
        graft.plans.ShingleHashes.shingle_hashes(col("__text"), n).as("sh"))
      .filter(size(col("sh")) > 0)
    // checkpointed like its siblings: the frame feeds the df-cap
    // branch and both join roles, and re-deriving shingles dominates
    val sh = shQuery.truncated
    val inv = sh.select(col("id"), size(col("sh")).cast("long").as("nsh"),
      explode(col("sh")).as("g"))
    val pin = Explosive.pinGate(docs, "ngram-postings",
        shQuery.queryExecution.analyzed.semanticHash()) {
      sh.agg(coalesce(sum(size(col("sh")).cast("long")), lit(0L)))
        .head().getLong(0)
    }
    val capped = dfCap.fold(inv) { c =>
      val rare = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= c).select(col("g"))
      inv.join(rare, Seq("g"))
    }
    Explosive.blockerJoin(
        capped.select(col("id").as("id_a"), col("nsh").as("n_a"), col("g")),
        capped.select(col("id").as("id_b"), col("g")), Seq("g"), pin)
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("cont_ppm", expr("inter * 1000000 div n_a"))
      .filter(col("cont_ppm") >= minPpm)
      .select(col("id_a"), col("id_b"), col("cont_ppm"))
  }

  /** MinHash+LSH near-dup pairs: banded signature buckets generate
    * candidates (the scale path — candidate count is ~linear for
    * realistic dup rates), then an exact Jaccard verify keeps only true
    * pairs. With bands=32, rowsPerBand=4 the miss probability at
    * j ≥ 0.8 is (1-0.8⁴)³² ≈ 5e-8, so the output matches the exact
    * all-pairs oracle.
    */
  def minhashLshPairs(docs: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double, bands: Int = 32, rowsPerBand: Int = 4,
      maxBucketSize: Long = 10000L): DataFrame = {
    val k = bands * rowsPerBand
    // shingle + k-way minhash is the CPU-dominant map work (q35's sf1
    // profile: wall time tracked scan splits, not shuffle partitions)
    // — lift it to session parallelism on split-starved inputs
    val shQuery = Explosive.ensureMapParallelism(
        docs.select(id.as("id"), text.as("__text")), col("id"))
      .select(col("id"),
        graft.plans.ShingleHashes.shingle_hashes(col("__text"), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val sh = shQuery.truncated
    val sig = sh.withColumn("sig",
      graft.plans.MinhashSignature.minhash_signature(col("sh"), k))
    // band self-join is the explosive blocker: pin its exchanges past
    // the blocker gate (banded rows = docs × bands) so Σ_bucket n²
    // candidate emission isn't AQE-coalesced; below the gate leave it
    // broadcastable
    val pin = Explosive.pinGate(docs, "lsh-docs",
        shQuery.queryExecution.analyzed.semanticHash(), bands)(sh.count())
    val candidates =
      bandCandidates(sig, bands, rowsPerBand, maxBucketSize, pin)
    // exact verify on the (small) candidate set
    val sets = sh.select(col("id"), col("sh"))
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Banded-LSH candidates shared by [[minhashLshPairs]] and
    * [[cosinePairsApprox]]: the (id, sig) rows' signature is sliced
    * into `bands` bands of `rowsPerBand` entries, rows agreeing on a
    * whole band share a bucket, and every distinct (id_a < id_b) pair
    * sharing any bucket is a candidate. The slices are a literal array,
    * not transform(sequence): the band count is a plan-time constant,
    * and the higher-order transform is CodegenFallback (the
    * [[simhashSigPairs]] form). The band self-join is the explosive
    * blocker, pinned per `pin` ([[Explosive.blockerJoin]]).
    *
    * Skew guard: a band bucket of B docs yields B² candidate rows. A
    * bucket past maxBucketSize means a giant near-identical cluster —
    * cap it (those docs still pair up via their other bands and/or the
    * exact-dedup pass that should precede near-dedup at scale).
    */
  private def bandCandidates(rows: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucketSize: Long, pin: Boolean): DataFrame = {
    val banded = rows.select(col("id"),
        posexplode(array((0 until bands).map(bd =>
          slice(col("sig"), bd * rowsPerBand + 1, rowsPerBand)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_sig")
    val bucketSizes = banded.groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("__bs"))
    val bounded = banded.join(bucketSizes, Seq("band", "band_sig"))
      .filter(col("__bs") <= maxBucketSize)
      .drop("__bs")
    Explosive.blockerJoin(
        bounded.select(col("id").as("id_a"), col("band"), col("band_sig")),
        bounded.select(col("id").as("id_b"), col("band"), col("band_sig")),
        Seq("band", "band_sig"), pin)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Shared signature-level stage of [[simhashPairs]] and
    * [[simhashClusters]]: per-doc signatures (truncated), the distinct
    * signatures (truncated), and the qualifying DISTINCT-SIGNATURE
    * pairs from the pigeonhole band join. Everything quadratic happens
    * here, over distinct sigs — the doc-level expansion is the
    * caller's (output-sized) business.
    */
  private def simhashSigPairs(docs: DataFrame, id: Column, text: Column,
      maxHamming: Int, nBits: Int): (DataFrame, DataFrame, DataFrame) = {
    val chunks = maxHamming + 1
    val chunkBits = nBits / chunks
    val sigQuery = Explosive.ensureMapParallelism(
        docs.select(id.as("id"), text.as("__text")), col("id"))
      .select(col("id"),
        TextFunctions.simhash(col("__text"), nBits).as("sig"))
    val sig = sigQuery.truncated
    val groups = sig.select(col("sig")).distinct().truncated
    // band slices spelled as a literal array, not transform(sequence):
    // `chunks` is a plan-time constant, and the higher-order transform
    // is CodegenFallback — it kept the posexplode Generate interpreted
    // (round 18; same values, same positions, now whole-stage codegen)
    val blocked = groups.select(col("sig"),
      posexplode(array((0 until chunks).map(ch =>
        graft.functions.TextFunctions.shiftRight(col("sig"),
            lit(ch * chunkBits).cast("int"))
          .bitwiseAND((1L << chunkBits) - 1)): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    // chunk self-join: same explosive-blocker shape, same gated pin
    val pin = Explosive.pinGate(docs, "simhash-sigs",
        sigQuery.queryExecution.analyzed.semanticHash(), chunks)(groups.count())
    // verify BEFORE the dedup: bit_count(xor) is a codegen'd streaming
    // filter, so the distinct shuffles only surviving SIGNATURE pairs
    // (a pair colliding in several chunks appears up to `chunks` times)
    val sigPairs = Checkpoints.truncate(Explosive.blockerJoin(
        blocked.select(col("sig").as("sig_a"), col("chunk"), col("chunk_val")),
        blocked.select(col("sig").as("sig_b"), col("chunk"), col("chunk_val")),
        Seq("chunk", "chunk_val"), pin)
      .filter(col("sig_a") < col("sig_b"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("sig_a", "sig_b", "hamming").distinct())
    (sig, groups, sigPairs)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    * Pigeonhole blocking: split the nBits signature into maxHamming+1
    * chunks — any pair within the radius shares at least one exact
    * chunk — then verify with bit_count(xor). Exact (blocking is
    * lossless by pigeonhole).
    *
    * The quadratic stage runs over DISTINCT SIGNATURES, not documents
    * (round 12): a near-dup-saturated corpus — the regime this
    * operator exists for — has far fewer signatures than documents,
    * and every per-document computation here is a pure function of
    * the signature. At sf1 (50 k docs, ~10 copies each) the
    * document-level pigeonhole join generated 1.99 BILLION candidates
    * (top bucket 27 863 docs ⇒ 776 M candidates from one bucket
    * alone); signature-level blocking generates the same information
    * from the distinct-sig buckets, then expands surviving signature
    * pairs back to id pairs with two member joins plus a same-sig
    * self-join — pure OUTPUT-sized join fan-out, which is the
    * irreducible part (the answer itself is every qualifying pair).
    * Equality with the per-document join: hamming(sig_a, sig_b) is
    * constant over the members, hamming = 0 ⟺ equal signatures (the
    * same-sig branch), and distinct ids always carry one signature
    * each.
    *
    * The pairs themselves are the presentation form; a pipeline that
    * goes on to DEDUP should use [[simhashClusters]], whose output
    * (and every shuffle) is corpus-sized, not pairs-sized.
    */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, nBits: Int = 32): DataFrame = {
    val (sig, groups, sigPairs) =
      simhashSigPairs(docs, id, text, maxHamming, nBits)
    // the signature is the group key: members join on it directly
    expandGroups(groups.select(col("sig").as("id")),
      sig.select(col("id"), col("sig").as("gid")),
      sigPairs.select(col("sig_a").as("id_a"), col("sig_b").as("id_b"),
        col("hamming")),
      lit(0L))
  }

  /** Doc-level dedup clusters from SimHash — (node, component, is_rep,
    * component_size) in the [[Components.dedupClusters]] convention
    * (component = minimum doc id; the representative is that minimum)
    * — computed ENTIRELY at signature level: connected components run
    * over the distinct-signature graph (nodes = distinct sigs, edges
    * = qualifying sig pairs), then each doc inherits its signature's
    * component and the label is remapped to the component's minimum
    * doc id.
    *
    * This is the operation a dedup pipeline actually executes at
    * scale, and unlike [[simhashPairs]] its output — and every join
    * and shuffle past the sig stage — is CORPUS-sized: a
    * duplicate-saturated corpus has quadratically many qualifying
    * pairs (sf1's 50 k docs hold 99.7 M of them; 100 TB holds
    * correspondingly more), and this path never materializes them.
    * Same-sig docs share a component by construction (hamming 0), so
    * the expansion is one hash join on sig, one component-sized min
    * aggregate, one component-keyed relabel join.
    *
    * Equality with pair-level clustering: hamming is a pure function
    * of the signatures, so doc-level qualifying pairs = expansion of
    * sig-level qualifying pairs ∪ same-sig pairs, and contracting
    * same-sig docs into one node preserves connected components
    * exactly.
    */
  def simhashClusters(docs: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, nBits: Int = 32): DataFrame = {
    val (sig, _, sigPairs) = simhashSigPairs(docs, id, text, maxHamming, nBits)
    val sigCC = Components.connectedComponents(
      sigPairs.select(col("sig_a").as("src"), col("sig_b").as("dst")),
      Some(sig.select(col("sig").as("node")).distinct()))
    val docComp = sig
      .join(sigCC, sig("sig") === sigCC("node"))
      .select(col("id"), col("component").as("sig_component"))
    val reps = docComp.groupBy(col("sig_component"))
      .agg(min(col("id")).as("component"),
        count(lit(1)).as("component_size"))
    docComp.join(reps, Seq("sig_component"))
      .select(col("id").as("node"), col("component"),
        (col("id") === col("component")).cast("long").as("is_rep"),
        col("component_size"))
  }

  /** Exact embedding-cosine near-dup pairs via a triangular grid-tile
    * join — the distributed form of a blocked matrix product.
    *
    * For dense embeddings at an arbitrary threshold there is no lossless
    * sublinear candidate filter (sign-LSH bit agreement for *orthogonal*
    * vectors is already 0.5, so no banding scheme can separate τ ≈ 0.5
    * pairs from noise without missing true pairs) — an exact answer
    * inherently scores all n² pairs. What must NOT happen at scale is a
    * CartesianProduct: one unsplittable task, or n× replication of one
    * side. Instead each vector is hashed to one of G blocks and the
    * upper-triangle tile set {(i,j) : i ≤ j} is enumerated through an
    * ordinary equi-join on the tile key: the left role replicates a row
    * to tiles (blk, j ≥ blk), the right role to (i ≤ blk, blk), so every
    * unordered pair meets in exactly one tile. Replication is ~G/2 per
    * side (vs n for a broadcast NL join), tiles are uniform (hash
    * blocks), and G(G+1)/2 independent tasks spread over the cluster —
    * G ≈ √(2·cores) locally, larger on a real cluster. Per-pair scoring
    * is the codegen'd [[graft.plans.DotProduct]] fold, bit-identical to
    * the SQL oracle. For gapped/high-threshold regimes prefer the
    * genuinely sublinear paths: [[minhashLshPairs]] (sets) or
    * [[graft.operators.Similarity.lshTopK]] (vectors, approximate).
    */
  def cosinePairs(emb: DataFrame, id: Column, vec: Column,
      threshold: Double, gridSide: Int = 0,
      collapseDuplicates: Boolean = true): DataFrame = {
    import graft.plans.DotProduct.dot_product
    // gridSide 0 (default) derives the tile grid from session
    // parallelism: G²/2 tiles ≈ 8 tasks per reducer slot, so the
    // quadratic per-tile work — (N/G)² pair scorings — spreads in
    // many balanced waves instead of a few coarse tasks whose
    // stragglers set the wall (measured at sf1/32 cores: G=8 ran
    // 6.7-15.4 s across sessions, G=24 4.7 s — the G8 grid is 36
    // tasks, one bad placement doubles the wall). Replication per
    // side grows ~G/2, but the tile join only exists where n² pair
    // work dominates n·G/2 shuffle volume by construction; the cap
    // bounds replication for very wide sessions.
    val g =
      if (gridSide > 0) gridSide
      else deriveGridSide(
        emb.sparkSession.sessionState.conf.numShufflePartitions)
    // Collapse IDENTICAL vectors before the quadratic stage (round 12):
    // cosine is a pure function of the two vectors, and the corpora
    // this operator exists for are duplicate-saturated — at sf1 the
    // table holds 20 k rows but 2 k distinct vectors, so the tile join
    // scores 100× fewer pairs and qualifying vector pairs expand back
    // to id pairs with output-sized joins on the group key. Same-group
    // pairs keep the ORIGINAL floating arithmetic (dot(v,v)/norm², not
    // a literal 1.0) so every emitted cosine is bit-identical to the
    // per-id join's. `collapseDuplicates = false` skips the collapse
    // when the CALLER knows it cannot pay — the dense APSS path feeds
    // vocab-wide synthesized vectors (~32 KB each) whose group-by
    // shuffle costs more than the few duplicates it would remove
    // (measured +8 s on q95 at sf1); with it off the tile join runs on
    // the input rows and nothing re-references the caller's (possibly
    // expensive, e.g. q95's vocab-wide densify) vector subplan.
    val norm = sqrt(dot_product(col("v"), col("v")))
    val self = dot_product(col("v"), col("v")) / (norm * norm)
    collapsedPairs(emb.select(id.as("id"), vec.as("v")), Seq("v"),
        collapseDuplicates, when(self >= threshold, round(self, 6))) { reps =>
      val e = reps.select(col("v"), col("id").as("gid"))
        .withColumn("norm", norm)
        .withColumn("blk", pmod(xxhash64(col("gid")), lit(g)).cast("int"))
      // the tile join is an explosive blocker BY CONSTRUCTION — tiny
      // shuffled bytes (the replicated vector table), quadratic
      // post-join pair work — so its exchanges are pinned
      // unconditionally (the q207/q34 playbook): AQE sizes reducers by
      // shuffled bytes and would coalesce the tile tasks onto a few
      // cores exactly when the per-tile work is heaviest
      val left = e.select(col("gid").as("gid_l"), col("v").as("v_l"),
          col("norm").as("n_l"), col("blk").as("ti"))
        .withColumn("tj", explode(sequence(col("ti"), lit(g - 1))))
      val right = e.select(col("gid").as("gid_r"), col("v").as("v_r"),
          col("norm").as("n_r"), col("blk").as("tj"))
        .withColumn("ti", explode(sequence(lit(0), col("tj"))))
      Explosive.blockerJoin(left, right, Seq("ti", "tj"), pin = true)
        // off-diagonal tiles see each pair once; diagonal tiles see
        // both orderings, so break the tie on the group id there
        .filter(col("ti") < col("tj") || col("gid_l") < col("gid_r"))
        .withColumn("cosine",
          dot_product(col("v_l"), col("v_r")) / (col("n_l") * col("n_r")))
        .filter(col("cosine") >= threshold)
        .select(least(col("gid_l"), col("gid_r")).as("id_a"),
          greatest(col("gid_l"), col("gid_r")).as("id_b"),
          round(col("cosine"), 6).as("cosine"))
    }
  }

  /** Tile-grid side for [[cosinePairs]] when the caller doesn't pass
    * one: G(G+1)/2 tiles ≈ 8 tasks per reducer slot (floor 8, cap 64
    * to bound the ~G/2-per-side replication) — see the gridSide note
    * in [[cosinePairs]].
    */
  private[graft] def deriveGridSide(slots: Int): Int =
    math.min(64, math.max(8, math.ceil(math.sqrt(16.0 * slots)).toInt))

  /** Approximate embedding-cosine near-dup pairs — the sublinear scale
    * path for NEAR-DUP thresholds (τ ≳ 0.85), mirroring
    * [[minhashLshPairs]]' candidates+verify structure with sign-LSH:
    * each vector gets `bands`×`rowsPerBand` random-hyperplane sign bits
    * (seeded, deterministic); vectors agreeing on every bit of a band
    * share a bucket; bucketed candidates are verified with the exact
    * codegen'd cosine, so every emitted pair is a TRUE pair — only
    * recall is approximate. A pair at cosine c agrees per bit w.p.
    * 1 − arccos(c)/π (≈0.856 at c = 0.9), so at the defaults the miss
    * probability is (1 − 0.856⁸)³² ≈ 2e-5 at the threshold itself,
    * vanishing above it. Candidate volume is sublinear for gapped corpora; the
    * same `maxBucketSize` guard caps degenerate buckets. For exact
    * answers (or low thresholds, where no sign-LSH separates pairs from
    * noise) use [[cosinePairs]].
    */
  def cosinePairsApprox(emb: DataFrame, id: Column, vec: Column,
      threshold: Double, bands: Int = 32, rowsPerBand: Int = 8,
      seed: Long = 42L, maxBucketSize: Long = 10000L): DataFrame = {
    import graft.plans.DotProduct.dot_product
    val nPlanes = bands * rowsPerBand
    val eQuery = Explosive.ensureMapParallelism(
        emb.select(id.as("id"), vec.as("v")), col("id"))
      .withColumn("norm", sqrt(dot_product(col("v"), col("v"))))
      .withColumn("sig",
        graft.plans.SrpSignature.srp_signature(col("v"), nPlanes, seed))
    val e = eQuery.truncated
    val pin = Explosive.pinGate(emb, "srp-vecs",
        eQuery.queryExecution.analyzed.semanticHash(), bands)(e.count())
    bandCandidates(e, bands, rowsPerBand, maxBucketSize, pin)
      .join(e.select(col("id").as("id_a"), col("v").as("v_a"),
        col("norm").as("n_a")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("v").as("v_b"),
        col("norm").as("n_b")), Seq("id_b"))
      .withColumn("cosine",
        dot_product(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Chunk-level exact dedup (the within-and-across-document variant
    * of line dedup in CCNet-style pipelines): split every document
    * into fixed `chunkWords`-word chunks, keep only the globally FIRST
    * occurrence of each distinct chunk (ordered by document id, then
    * position), and reassemble documents from their surviving chunks.
    *
    * Scale shape: two shuffles, no join on the corpus-sized chunk
    * stream — the first-occurrence winner per chunk is a groupBy-min
    * over `struct(doc_id, pos)` (partial-aggregating, so a chunk
    * repeated a billion times collapses map-side instead of flooding
    * one reducer), and reassembly is a groupBy over doc_id whose
    * per-group payload is bounded by the document's own length.
    * Returns (doc_id, n_chunks, kept_chunks, new_text); a document
    * whose every chunk occurred earlier elsewhere survives with
    * kept_chunks = 0 and empty text.
    */
  def chunkDedup(docs: DataFrame, id: Column, text: Column,
      chunkWords: Int = 16): DataFrame = {
    val base = docs
      .select(id.as("doc_id"), split(text, " ").as("w"))
      .withColumn("n_chunks",
        ceil(size(col("w")) / lit(chunkWords.toDouble)).cast("long"))
    val chunks = base.select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), col("n_chunks") - 1),
          i => array_join(
            slice(col("w"), (i * chunkWords + 1).cast("int"), lit(chunkWords)),
            " "))))
      .withColumnRenamed("col", "chunk")
    val firstKeep = chunks
      .groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
      .select(col("first.doc_id").as("doc_id"), col("first.pos").as("pos"),
        col("chunk"))
    val reassembled = firstKeep
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_chunks"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
            s => s.getField("chunk")),
          " ").as("new_text"))
    base.select(col("doc_id"), col("n_chunks"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"),
        coalesce(col("new_text"), lit("")).as("new_text"))
  }

  /** Sliding-window span dedup at TOKEN granularity (the
    * train-data-dedup semantics of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": remove every token
    * covered by a `windowTokens`-long span whose identical window
    * occurred earlier in the corpus; the first occurrence survives).
    * Unlike [[chunkDedup]]'s fixed non-overlapping chunks, windows
    * overlap at every token offset, so a duplicated passage is removed
    * even when it straddles chunk boundaries.
    *
    * Scale shape: windows/tokens/coverage are all narrow generate-side
    * expansions bounded by windowTokens × corpus tokens; the
    * first-occurrence winner is a partial-aggregating groupBy-min; the
    * duplicate test is an equi-join on the window content (AQE
    * skew-splittable — a window repeated a billion times spreads over
    * many tasks, vs a window-function formulation that would sort the
    * whole hot key in one task); covered-token removal is a left-anti
    * equi-join on (doc, position). Returns
    * (doc_id, n_tokens, kept_tokens, new_text).
    */
  def spanDedup(docs: DataFrame, id: Column, text: Column,
      windowTokens: Int = 16): DataFrame = {
    val base = docs.select(id.as("doc_id"), split(text, " ").as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
    val nWin = greatest(col("n_tokens") - (windowTokens - 1), lit(0L))
    val wins = base.select(col("doc_id"),
        posexplode(when(nWin > 0,
          transform(sequence(lit(0L), nWin - 1),
            i => array_join(
              slice(col("w"), (i + 1).cast("int"), lit(windowTokens)), " ")))
          .otherwise(array().cast("array<string>"))))
      .withColumnRenamed("col", "wnd")
    val firsts = wins.groupBy(col("wnd"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val dups = wins.join(firsts, Seq("wnd"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
    val covered = dups.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (windowTokens - 1)))
          .as("tokpos"))
      .distinct()
    val toks = base.select(col("doc_id"), posexplode(col("w")))
      .withColumnRenamed("pos", "tokpos")
      .withColumnRenamed("col", "tok")
    val agg = toks.join(covered, Seq("doc_id", "tokpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("tokpos"), col("tok")))),
            s => s.getField("tok")),
          " ").as("new_text"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("new_text"), lit("")).as("new_text"))
  }

  /** Blocked edit-distance near-dup pairs — the entity-resolution /
    * fuzzy-title-match primitive: candidates share a cheap block key
    * (the first token), and only in-block pairs pay the O(p²) DP on an
    * 80-char prefix. Returns (id_a, id_b, dist ≤ maxDist).
    *
    * Scale shape: the blocking key turns the all-pairs problem into an
    * equi-join (one shuffle on the block key); pair volume is Σ|block|²
    * and the DP cost is capped by prefixLen². HOT-BLOCK SALTING
    * (round 14, from the sf1 audit): first tokens are Zipf-skewed —
    * the sf1 corpus has 30 distinct blocks for 50 k docs, so the whole
    * 42 M-pair verify funnelled through ≤30 join keys and AQE coalesced
    * the tiny-byte exchanges down to ~1 task (22 min single-threaded;
    * the two-failure-modes pattern from SCALING.md round 11). When the
    * observed max block size alone exceeds [[SaltPairsFloor]] pairs —
    * one block overfills a task, the skew AQE's split cannot fix
    * because the cost is post-join compute, not shuffle bytes — each
    * HOT block b gets its own salt count S_b = ⌈n_b²/floor⌉ (the
    * [[deriveGridSide]] pattern: the factor derives from target
    * pairs-per-task, NOT from the raw session partition count, so a
    * 2000-slot cluster doesn't pay ×2000 replication for a block that
    * only needs ×20 to reach one task's fair share), clamped to
    * 4×parts to bound a pathological block's replication; cold blocks
    * keep S_b = 1 and are never replicated at all. The probe side
    * keeps one deterministic salt in [0, S_b) and the build side
    * replicates ×S_b; both sides ride user-numbered repartitions on
    * (blk, salt) so AQE cannot re-fuse them. The per-block counts ride
    * a broadcast: only blocks past the floor appear in it, and each
    * such block holds > √floor rows, so the broadcast is ≤ n/√floor
    * entries by construction (corpus-sized/1024 at the default floor).
    * Each unordered pair still joins exactly once per
    * orientation (the probe row's single salt picks the copy), so the
    * id_a < id_b filter keeps exactly one — row-identical to the plain
    * join. Below the floor the plain pinless join stands (small-corpus
    * regime; the sf0.1 sweep takes it, so both paths stay oracle-
    * graded). The replication is gated, never unconditional: it is
    * only paid when per-block work actually
    * starves, and then only parts ≈ slot-count copies of the slim
    * (id, prefix, blk) projection.
    *
    * The DP itself uses Spark 4's 3-arg levenshtein(l, r, threshold):
    * it band-limits the matrix and early-exits past `maxDist`,
    * returning −1 there — and −1 rows are exactly the ones the
    * distance filter drops, while every KEPT row's value equals the
    * plain distance, so the oracle (which computes the plain DP)
    * still matches hash-exactly. Parity note: Spark counts chars,
    * DuckDB bytes — identical on this ASCII corpus (asserted in the
    * spec), so the oracle is exact; non-ASCII corpora would block on
    * codepoints.
    */
  def editDistancePairs(docs: DataFrame, id: Column, text: Column,
      prefixLen: Int, maxDist: Int,
      collapseDups: Option[Boolean] = None): DataFrame = {
    val d = docs.select(id.as("id"),
      substring(text, 1, prefixLen).as("p"),
      element_at(TextFunctions.tokens(text), 1).as("blk"))
    // DUPLICATE COLLAPSE (round 14): the DP input is exactly (p, blk) —
    // rows agreeing on both are interchangeable through the quadratic
    // stage, so on a replica-heavy corpus (sf1: 10 near-copies per doc,
    // all sharing their 80-char prefix verbatim) one representative per
    // distinct (p, blk) carries the verify and survivors expand through
    // member joins, within-group pairs emitted at distance 0 directly
    // ([[collapsedPairs]]), gated on [[duplicateHeavy]] because on a
    // mostly-unique corpus the group-by + expansion joins are pure
    // overhead.
    val planHash = d.queryExecution.analyzed.semanticHash()
    lazy val dupStats: (Long, Long) = {
      val r = d.agg(count(lit(1)).as("n"),
        approx_count_distinct(xxhash64(col("p"), col("blk"))).as("dd"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val collapse = collapseDups.getOrElse(
      AdaptiveStrategy.cached("edblock-collapse", planHash) {
        duplicateHeavy(dupStats._1, dupStats._2)
      })
    collapsedPairs(d, Seq("p", "blk"), collapse, lit(0L))(
      blockedDpPairs(_, maxDist))
  }

  /** The blocked DP join proper, over (id, p, blk) rows: plain equi-
    * join below [[SaltPairsFloor]]; hot-block salted + pinned above it
    * (see [[editDistancePairs]]'s scaladoc). Candidate volume past
    * [[Explosive.pinGate]] pins the plain join's exchanges too — the
    * post-join DP is the cost, so AQE's byte-sized reducers starve it
    * exactly like the posting joins.
    */
  private def blockedDpPairs(d: DataFrame, maxDist: Int): DataFrame = {
    val a = d.select(col("id").as("id_a"), col("p").as("p_a"), col("blk"))
    val b = d.select(col("id").as("id_b"), col("p").as("p_b"), col("blk"))
    val verified = { (cand: DataFrame) =>
      cand.filter(col("id_a") < col("id_b"))
        .withColumn("dist",
          levenshtein(col("p_a"), col("p_b"), maxDist).cast("long"))
        .filter(col("dist") >= 0 && col("dist") <= maxDist)
        .select(col("id_a"), col("id_b"), col("dist"))
    }
    val planHash = d.queryExecution.analyzed.semanticHash()
    lazy val blockStats: (Long, Long) = {
      val r = d.filter(col("blk").isNotNull)
        .groupBy(col("blk")).agg(count(lit(1)).as("n"))
        // double sum: one corpus-sized block would overflow n*n as long
        .agg(coalesce(max(col("n")), lit(0L)).as("mx"),
          coalesce(sum(col("n").cast("double") * col("n").cast("double")),
            lit(0.0)).as("vol"))
        .head()
      (r.getLong(0), math.min(r.getDouble(1), Long.MaxValue.toDouble).toLong)
    }
    val maxBlock = AdaptiveStrategy.cached("edblock-max", planHash) {
      blockStats._1
    }
    val parts = d.sparkSession.sessionState.conf.numShufflePartitions
    // double compare: a corpus-sized block would overflow maxBlock² as
    // long (same guard the hot filter below uses)
    if (maxBlock.toDouble * maxBlock > saltPairsFloor(d)) {
      // per-block salt counts, work-derived (see scaladoc): S_b =
      // ceil(n_b^2 / floor) for hot blocks only, clamped to 4x parts;
      // cold blocks are absent from the broadcast and coalesce to 1
      val floor = math.max(1L, saltPairsFloor(d)).toDouble
      val saltMax = math.max(2L, parts.toLong * 4)
      // materialized ONCE (round 15, advisor): `hot` is referenced by
      // both join sides, so without the checkpoint the per-block count
      // aggregate over d could execute twice unless exchange reuse
      // happened to dedupe it. The checkpoint also yields the hot-block
      // COUNT for free, turning the documented-but-unenforced n/√floor
      // size bound into a real broadcast gate: past [[HotBroadcastMax]]
      // rows the salt attach falls back to a plain shuffle join on blk
      // instead of risking the driver's broadcast limit.
      val hot = Checkpoints.truncate(
        d.filter(col("blk").isNotNull)
          .groupBy(col("blk")).agg(count(lit(1)).as("n"))
          .filter(col("n").cast("double") * col("n") > lit(floor))
          .select(col("blk"),
            least(lit(saltMax),
              ceil(col("n").cast("double") * col("n") / lit(floor))
                .cast("long")).as("nsalt")))
      val hotSide =
        if (hot.count() <= HotBroadcastMax) broadcast(hot) else hot
      val aS = a.join(hotSide, Seq("blk"), "left")
        .withColumn("salt",
          pmod(xxhash64(col("id_a")), coalesce(col("nsalt"), lit(1L))))
        .drop("nsalt")
      val bS = b.join(hotSide, Seq("blk"), "left")
        .withColumn("salt",
          explode(sequence(lit(0L), coalesce(col("nsalt"), lit(1L)) - 1)))
        .drop("nsalt")
      verified(Explosive.blockerJoin(aS, bS, Seq("blk", "salt"), pin = true))
    } else {
      // the memoized statistic is the candidate-pair volume Σ n_b² / 2
      val pin = Explosive.pinGate(d, "edblock-cand", planHash)(blockStats._2 / 2)
      verified(Explosive.blockerJoin(a, b, Seq("blk"), pin))
    }
  }

  /** Max hot-block rows the salted edit-distance join will broadcast
    * for the salt attach; larger hot lists join by shuffle instead
    * (~4 M (blk, nsalt) rows ≈ tens of MB hashed — comfortably inside
    * Spark's broadcast limits, while anything bigger suggests the
    * whole corpus is hot and a shuffle join is the right plan anyway).
    */
  private[operators] val HotBroadcastMax = 1L << 22

  /** Max single-block pair volume the plain (unsalted, unpinned)
    * blocked join is allowed before [[editDistancePairs]] salts —
    * roughly one task's fair share of DP work. Session-overridable via
    * [[SaltPairsFloorKey]] (specs pin both paths identical with it).
    */
  private[operators] val SaltPairsFloor = 1L << 20

  private[graft] val SaltPairsFloorKey = "spark.graft.edjoin.saltPairsFloor"

  private def saltPairsFloor(df: DataFrame): Long =
    df.sparkSession.conf
      .get(SaltPairsFloorKey, SaltPairsFloor.toString).toLong

  /** Semantic dedup over embeddings (the SemDeDup recipe, Abbas et al.
    * 2023: partition the embedding space into cells, drop in-cell
    * near-duplicates above a cosine threshold, keep one representative
    * per group). Cells here are sign-LSH buckets — deterministic pure
    * arithmetic, where the paper's k-means cells would tie the verdict
    * to an RNG and an iteration count no other engine could replay.
    * The keep rule is "drop v iff some earlier-id in-cell u has
    * cos(u, v) > eps": every group keeps exactly its lowest id, and
    * unlike greedy chain semantics the verdict for v never depends on
    * whether u itself survived — order-independent, so it parallelizes
    * and replays exactly.
    *
    * Output: one row per vector — (id, cell, kept, dup_of) with dup_of
    * the earliest dominating id (null when kept).
    *
    * Scale shape: one narrow projection computes cell bits, one
    * equi-join on cell enumerates in-cell pairs (cells are the blocking
    * structure — nothing crosses cells, so candidate volume is
    * Σ|cell|²), one map-side-combining groupBy keys the verdict, one
    * left join attaches it. nPlanes is the scale knob and must grow
    * with the corpus: cells ≈ 2^nPlanes, so pick
    * nPlanes ≈ log₂(n / targetCellSize) to keep expected cells at the
    * size a single task comfortably pairs (the graded query's 4 planes
    * fit 500 vectors; a 10⁹-vector corpus at ~4k-vector cells wants
    * ~18). Random-direction skew is bounded by construction — each
    * plane splits every dense direction — and a residual hot cell
    * shards like any skewed join key.
    */
  def semanticDedup(emb: DataFrame, id: Column, vec: Column, eps: Double,
      nPlanes: Int = 4, dims: Int = 64): DataFrame = {
    import graft.plans.DotProduct.dot_product
    val e = emb.select(id.as("id"), vec.as("v"))
      .withColumn("norm", sqrt(dot_product(col("v"), col("v"))))
      .withColumn("cell",
        graft.operators.Similarity.lshBucket(col("v"), nPlanes, dims))
    val a = e.select(col("id").as("id_a"), col("v").as("v_a"),
      col("norm").as("n_a"), col("cell"))
    val b = e.select(col("id").as("id_b"), col("v").as("v_b"),
      col("norm").as("n_b"), col("cell"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        dot_product(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") > eps)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
      .withColumnRenamed("id_b", "id")
    e.join(dominated, Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup_of").isNull.as("kept"),
        col("dup_of"))
  }

  /** Incremental (delta) dedup: classify every document of an incoming
    * batch against an already-deduplicated historical corpus — the
    * daily-crawl shape, where the question is never "dedup everything
    * again" but "which of today's N documents are new". Verdicts:
    * `dup_of_history` (key already in history; `dup_of` = the
    * historical representative), `dup_in_batch` (key is new to history
    * but an earlier batch row owns it; `dup_of` = min batch id), `new`
    * (first occurrence anywhere; `dup_of` null).
    *
    * Scale shape: history NEVER re-shuffles at document width — it
    * collapses to its (key → min id) representative table with
    * map-side partial aggregation. That table IS the persistent
    * "dedup index": [[DedupIndex.writeExactIndex]] materializes it
    * bucketed on the key, and the steady-state daily classify
    * ([[DedupIndex.incrementalDedupIndexed]], graded by q121 from
    * storage) joins the delta against it with zero Exchange on the
    * history side. This inline form derives the same index on the fly
    * and delegates — one code path, two entry points. Null-keyed rows
    * classify 'new' explicitly (a null key never equi-joins; dropping
    * them would violate the classify-every-row contract).
    */
  def incrementalDedup(history: DataFrame, incoming: DataFrame,
      id: Column, key: Column): DataFrame =
    DedupIndex.incrementalDedupIndexed(
      DedupIndex.exactIndex(history, id, key), incoming, id, key)

  /** Incremental NEAR-dup dedup — [[incrementalDedup]]'s fuzzy
    * sibling, and the other half of the daily-crawl story: which of
    * today's documents are ≥ threshold Jaccard-similar to something
    * already in the corpus. History participates only as its banded
    * MinHash index (bkey → id) plus its shingle store — the
    * persistent structures [[DedupIndex.writeNearDupIndex]]
    * materializes bucketed, which the steady-state form
    * ([[DedupIndex.incrementalNearDedupIndexed]], graded by q122 from
    * storage) bucket-joins each day's delta against; nothing
    * history-sized is ever re-shingled per day in steady state. This
    * inline form derives both structures on the fly (the graded q105
    * tables are immutable inputs) and delegates to the same day-2
    * code. Candidates from bucket collisions are verified with the
    * exact Jaccard, so every reported (dup_of, jaccard) is true —
    * only recall is LSH-approximate, with the same band arithmetic
    * q35 grades against an exact oracle. Kept documents (no verified
    * match) come back with kept = true and null dup_of.
    */
  def incrementalNearDedup(history: DataFrame, incoming: DataFrame,
      id: Column, text: Column, n: Int, threshold: Double,
      bands: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    // checkpoint the history shingles: read twice below (band index +
    // verify); the stored-index path reads them from parquet instead
    val hSh = DedupIndex.shingleStore(history, id, text, n)
      .truncated
    DedupIndex.incrementalNearDedupIndexed(
      DedupIndex.minhashBandIndex(hSh, bands, rowsPerBand),
      hSh, incoming, id, text, n, threshold, bands, rowsPerBand)
  }

  /** The LSH S-curve — the DESIGN math behind every (bands, rows)
    * choice in the family, as data: for each banding of the signature
    * and each Jaccard similarity s = si/10, the candidate-collision
    * probability 1 − (1 − s^r)^b. Both powers are spelled as
    * fixed-order multiply folds (never `pow`, whose rounding is not
    * specified identically across engines), so the curve is
    * bit-replayable and the banding decision an operator documents is
    * itself a graded artifact, not a code comment: (32, 4) puts the
    * 0.5-collision threshold near s ≈ (1/32)^(1/4) ≈ 0.42 —
    * deliberately far BELOW q35's 0.8 similarity target, i.e.
    * recall-biased banding with the exact-Jaccard verify supplying
    * the precision, which is exactly the candidates-then-verify
    * contract the dedup family documents.
    */
  def lshCurve(spark: org.apache.spark.sql.SparkSession,
      combos: Seq[(Int, Int)], sSteps: Int = 9): DataFrame = {
    require(combos.nonEmpty && sSteps >= 1)
    import spark.implicits._
    val base = combos.toDF("bands", "rows")
      .crossJoin(spark.range(1, sSteps + 1).toDF("si"))
    val s = col("si").cast("double") / lit((sSteps + 1).toDouble)
    val sr = aggregate(sequence(lit(1), col("rows")),
      lit(1.0), (acc, _) => acc * s)
    val p = lit(1.0) - aggregate(sequence(lit(1), col("bands")),
      lit(1.0), (acc, _) => acc * (lit(1.0) - sr))
    base.select(col("bands").cast("long").as("bands"),
      col("rows").cast("long").as("rows"), col("si"),
      round(p, 6).as("collide_prob"))
  }

  /** Temporal debounce — the TIME-axis member of the dedup family:
    * an event is suppressed when the PREVIOUS event of the same
    * (`seqKey`, `state`) pair lies within `withinUs` microseconds
    * (double-click squash, retry-storm collapse, at-least-once
    * delivery cleanup). The predecessor rule (vs. "within Δ of the
    * last KEPT event") is deliberate: it is a pure per-row function
    * of the ordered sequence — one `lag` — where last-kept semantics
    * need a running scan dependency; for burst suppression the two
    * differ only inside bursts longer than Δ, and the predecessor
    * rule is the one every engine can replay declaratively.
    *
    * Total function, P2/F12 style: rows come back with a `kept`
    * flag, callers filter — dropped events are usually the
    * interesting ones to audit. `orderKeys` must totally order each
    * sequence (the q119 convention). Scale: one window partitioned
    * by (seqKey, state) — bounded by per-actor activity — and
    * nothing else; the flag is scan-side afterward.
    */
  def debounce(df: DataFrame, seqKey: Column, state: Column, ts: Column,
      orderKeys: Seq[Column], withinUs: Long): DataFrame = {
    require(withinUs >= 0, s"withinUs must be >= 0, got $withinUs")
    val oks = orderKeys.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k"), col("__s"))
      .orderBy(orderKeys.indices.map(i => col(s"__o$i")): _*)
    df.select(df.columns.map(col) ++ oks ++
        Seq(seqKey.as("__k"), state.as("__s"),
          unix_micros(ts).as("__us")): _*)
      .withColumn("kept",
        coalesce(col("__us") - lag(col("__us"), 1).over(w) > withinUs,
          lit(true)))
      .drop((orderKeys.indices.map(i => s"__o$i") ++
        Seq("__k", "__s", "__us")): _*)
  }
}
