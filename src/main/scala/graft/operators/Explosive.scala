package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Physical-parallelism guards for EXPLOSIVE operators — blocker joins
  * (LSH bands, shingle postings, grid cells) and heavy per-row map
  * work (shingling, minhash, tokenize) whose COST is not proportional
  * to their shuffled BYTES, which breaks both of Spark's automatic
  * parallelism choices at once:
  *
  *  - AQE sizes post-shuffle reducers by shuffled bytes. A blocker
  *    equi-join shuffles tiny inputs (N×bands probe rows) but does its
  *    real work AFTER the join (Σ_bucket n² candidate pairs evaluated
  *    fused with the join stage), so AQE coalesces exactly the stage
  *    that needed the cores — measured 42 s of q207's 85 s at sf1, and
  *    ~100 s of q34's count join (1.4e8 candidates ground through ~2
  *    reducers; identical at 8 and 64 shuffle partitions because AQE's
  *    64 MB target coalesces both the same way).
  *  - The scan picks input splits by file bytes. CPU-heavy map work
  *    (shingle+minhash ≈ ms/doc) over a compact parquet runs at the
  *    split count, not the core count — at sf1 the whole 50 k-doc
  *    corpus shingles in 2 splits while 30 cores idle (q35's profile:
  *    every stage balanced, yet wall time tracked split size, not
  *    shuffle partitions).
  *
  * Both guards are deliberately GATED so they vanish exactly where
  * Spark's defaults are right:
  *
  *  - [[blockerJoin]] is the one blocker join: with `pin` it
  *    repartitions both inputs to the session's shuffle-partition
  *    count on the join keys (numbered repartitions are AQE-exempt,
  *    and the join reuses them as its exchanges), otherwise it is a
  *    plain equi-join. Gated callers take `pin` from [[pinGate]]: a
  *    memoized blocker-relation statistic times a per-row factor,
  *    compared with [[PinRowsKey]] (default 1 M rows) at call time.
  *    Below the gate the join stays AQE-coalescible — or
  *    broadcastable, which an unconditional pin would lard with two
  *    dead exchanges (the round-10 sf0.1 scale regression). Joins
  *    that are explosive by construction (the cosine tile join, the
  *    salted edit-distance join, the q-gram posting join) always pin.
  *  - [[ensureMapParallelism]] hash-repartitions the input before the
  *    heavy map work only when the planned scan has fewer partitions
  *    than the session's shuffle parallelism — the local/small-file
  *    regime. At 100 TB the scan has thousands of splits and the guard
  *    is a no-op (shuffling raw text at that scale would be the bug).
  */
private[graft] object Explosive {

  /** Blocker-relation row count above which explosive joins pin their
    * exchange parallelism. Session-overridable for specs and tuning.
    */
  val PinRowsKey = "spark.graft.explosive.pinRows"
  val DefaultPinRows = 1000000L

  /** True when the blocker relation — `perRow` probe rows for each
    * unit of the statistic `stat` — exceeds [[PinRowsKey]]. The
    * STATISTIC is memoized per (namespace, planHash), never the
    * decision: the comparison with the session's pinRows runs at every
    * call, so a changed conf takes effect on a cache-warm plan.
    */
  def pinGate(df: DataFrame, namespace: String, planHash: Int,
      perRow: Long = 1L)(stat: => Long): Boolean =
    AdaptiveStrategy.cached(namespace, planHash)(stat) * perRow >
      df.sparkSession.conf.get(PinRowsKey, DefaultPinRows.toString).toLong

  /** `a ⋈ b` on `keys`; with `pin`, both inputs first repartition to
    * the session's EXPLICIT shuffle-partition count on the keys
    * (user-numbered repartitions are AQE-exempt, and the join reuses
    * them as its exchanges).
    */
  def blockerJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
      pin: Boolean): DataFrame =
    if (pin) {
      val n = a.sparkSession.sessionState.conf.numShufflePartitions
      val k = keys.map(col)
      a.repartition(n, k: _*).join(b.repartition(n, k: _*), keys)
    } else a.join(b, keys)

  /** Hash-repartition heavy per-row map work up to session parallelism
    * when the planned scan yields fewer partitions; no-op when the
    * input already has enough splits (the cluster-scale case, where
    * this shuffle would be the mistake). Keyed on `key` (not
    * round-robin) so row placement is a pure function of the data.
    *
    * The partition probe (`df.rdd`) is taken only for SCAN-ROOTED
    * plans (project/filter over a relation): those plan without
    * running anything, and they are the only split-starved case. A
    * derived input already runs its map work at post-shuffle
    * parallelism — and probing it under AQE would eagerly materialize
    * its shuffle stages just to count partitions.
    */
  def ensureMapParallelism(df: DataFrame, key: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @annotation.tailrec
    def scanRooted(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case Project(_, c) => scanRooted(c)
      case Filter(_, c) => scanRooted(c)
      case SubqueryAlias(_, c) => scanRooted(c)
      case _ => false
    }
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (scanRooted(df.queryExecution.analyzed) &&
        df.rdd.getNumPartitions < n)
      df.repartition(n, key)
    else df
  }
}
