package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance — the aggregation twin of
  * [[DedupIndex]]'s persistent-index story: a per-group aggregate over
  * an append-only fact stream is kept as a stored STATE table and
  * advanced one delta at a time, so steady state never re-aggregates
  * history. At 100 TB the difference is the whole job: a nightly
  * recompute scans the corpus every night; this scans yesterday's
  * partition and a group-cardinality-sized state.
  *
  * The state is a commutative monoid per group — (cnt, sum, min, max)
  * with the sum held as an INTEGER-SCALED long — so
  * `merge(state(A), state(B)) == state(A ∪ B)` holds EXACTLY, not
  * approximately: long addition is associative where double addition
  * is not, which is precisely why the state stores scaled longs and
  * the user-facing view ([[view]]) converts back to doubles only at
  * the end (one correctly-rounded division, bit-identical in any
  * engine — the q01 `fsum` argument). Derived, non-mergeable values
  * (avg) live only in the view, never in the state.
  *
  * Scale shape: [[state]] is one map-side-combining groupBy of the
  * delta (output is group-cardinality-sized). [[mergeDelta]] is a
  * full-outer join of old state and delta state on the group key —
  * with the state read from a table bucketed on `g`
  * ([[writeState]] / `spark.table`), the join consumes the scan's
  * hash partitioning and only the delta shuffles, under any
  * `spark.sql.shuffle.partitions`: the delta state is repartitioned to
  * the stored table's bucket count (ScaleDesignSpec pins zero Exchange
  * above the state scan at the session's and at 32 partitions). The
  * merged output has the state schema, so it writes straight back:
  * the loop is closed and each day costs O(delta + |groups|).
  */
object IncrementalAgg {

  /** Per-group mergeable state of measure `x` scaled to `digits`
    * decimal places: (g, cnt, sum_c, min_c, max_c), the `_c` columns
    * integer-scaled longs. SQL aggregate semantics: null measures
    * count for nothing (cnt counts non-null x), a group with only
    * null measures keeps null sum/min/max.
    */
  def state(df: DataFrame, group: Column, x: Column,
      digits: Int): DataFrame = {
    val c = round(x * lit(math.pow(10, digits)), 0).cast("long")
    df.select(group.as("g"), c.as("c"))
      .groupBy(col("g"))
      .agg(count(col("c")).as("cnt"), sum(col("c")).as("sum_c"),
        min(col("c")).as("min_c"), max(col("c")).as("max_c"))
  }

  /** Materialize the state bucketed on the group key — the stored
    * side of every subsequent merge join reads back in storage
    * partitioning, no Exchange.
    */
  def writeState(st: DataFrame, table: String, buckets: Int): Unit =
    Scale.writeBucketed(st, table, "g", buckets)

  /** One maintenance step: fold a raw delta into the stored state.
    * Full-outer on the group key (new groups appear, untouched groups
    * pass through), then per-column monoid combine: counts and sums
    * add (null-aware: a sum only stays null when BOTH sides are
    * null), min/max take the non-null extreme. Output schema ==
    * state schema, ready for [[writeState]] again.
    */
  def mergeDelta(st: DataFrame, delta: DataFrame, group: Column,
      x: Column, digits: Int): DataFrame = {
    val fresh = state(delta, group, x, digits)
    val d = bucketsOnG(st).fold(fresh)(n => fresh.repartition(n, col("g")))
    def both(a: Column, b: Column, f: (Column, Column) => Column) =
      when(a.isNull, b).when(b.isNull, a).otherwise(f(a, b))
    st.select(col("g"), col("cnt").as("a_cnt"), col("sum_c").as("a_sum"),
        col("min_c").as("a_min"), col("max_c").as("a_max"))
      .join(d.select(col("g"), col("cnt").as("b_cnt"),
        col("sum_c").as("b_sum"), col("min_c").as("b_min"),
        col("max_c").as("b_max")), Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("a_cnt"), lit(0L)) + coalesce(col("b_cnt"), lit(0L)))
          .as("cnt"),
        both(col("a_sum"), col("b_sum"), _ + _).as("sum_c"),
        both(col("a_min"), col("b_min"), least(_, _)).as("min_c"),
        both(col("a_max"), col("b_max"), greatest(_, _)).as("max_c"))
  }

  /** Bucket count of a state read straight from a table bucketed on
    * `g`, from the table's catalog entry. The merge join then meets the
    * scan's `hashpartitioning(g, buckets)` on both sides; left to the
    * session's shuffle partitions, a count that differs from the
    * buckets makes the planner re-shuffle the state scan instead.
    */
  private def bucketsOnG(st: DataFrame): Option[Int] =
    st.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r.catalogTable.flatMap(_.bucketSpec)
    }.flatten.filter(_.bucketColumnNames == Seq("g")).map(_.numBuckets)

  /** The user-facing view over a state: unscale sum/min/max back to
    * doubles (single exact divisions) and derive avg — mergeable
    * pieces only in the state, ratios only here.
    */
  def view(st: DataFrame, digits: Int): DataFrame = {
    val scale = math.pow(10, digits)
    st.select(col("g"), col("cnt"),
      (col("sum_c").cast("double") / lit(scale)).as("sum_x"),
      (col("min_c").cast("double") / lit(scale)).as("min_x"),
      (col("max_c").cast("double") / lit(scale)).as("max_x"),
      when(col("cnt") > 0, col("sum_c").cast("double") /
        (lit(scale) * col("cnt"))).as("avg_x"))
  }
}
