package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
/** Relational operator coverage (SURVEY.md §2.4-2.8) expressed over the
  * driver testdata tables, each with a DuckDB oracle.
  *
  * Numeric-parity policy: floating-point SUM/AVG is order-dependent, and
  * Spark's partial aggregation order differs from DuckDB's; DECIMAL is no
  * interchange format either (DuckDB's wide-DECIMAL→DOUBLE cast is not
  * correctly rounded). All monetary/fixed-point aggregates therefore scale
  * per-row to integer units (the source values are exact at a known number
  * of decimals, so rounding can never hit a tie), sum exactly as BIGINT,
  * and divide back once in double — bit-identical in both engines.
  * Percentile interpolation is rounded to 6 decimals on both sides.
  */
object CoreQueries {

  /** Exact, order-independent sum of a fixed-point double column with
    * `digits` true decimal places. Long accumulation overflows only past
    * ~9e18 scaled units — not reachable even at the 100 TB target.
    *
    * Rounding is `floor(x + 0.5)`, not `round(x, 0)`: Spark's Round on
    * a DOUBLE routes every row through java.math.BigDecimal.setScale
    * (RoundBase.doGenCode), ~1.7× the whole scan+partial-agg stage's
    * cost on the r17 measurement (0.329 → 0.202 s per lineitem pass).
    * Under this helper's contract — c is fixed-point with ≤ `digits`
    * true decimals, so c·scale sits within ~1e-7 of an integer — the
    * two are value-identical for either sign (the FP-rounding hazard
    * of floor(x+0.5) lives only within 1 ulp of exact halves, which
    * the contract excludes); equality verified against round() on all
    * graded SFs (OPTIMIZATION_r17.md §1; FsumRoundingSpec pins it).
    *
    * CALLER GUARD (r17 advisor): nothing here enforces the contract —
    * a caller passing a column with MORE true decimals than `digits`
    * (e.g. fsum(price * ratio, 2) where the product carries full
    * double precision) silently changes sums vs round(). New call
    * sites must pass the column's exact fixed-point scale, or verify
    * against round() on a sample first (FsumRoundingSpec is the check
    * to extend).
    */
  private def fsum(c: Column, digits: Int): Column = {
    val scale = math.pow(10, digits)
    sum(floor(c * lit(scale) + lit(0.5)).cast("long")).cast("double") /
      lit(scale)
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1-shaped pricing summary: filter + groupBy agg with map-side
    * partial aggregation (A-family; reference A1-A3 analogue).
    */
  val q01AggPricing: QueryDef = QueryDef(
    "q01_agg_pricing",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          fsum(col("l_quantity"), 0).as("sum_qty"),
          fsum(col("l_extendedprice"), 2).as("sum_base_price"),
          fsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("sum_disc_price"),
          (fsum(col("l_quantity"), 0) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(ROUND(l_quantity * 1.0) AS BIGINT)) AS DOUBLE) / 1.0 AS sum_qty,
        CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
        CAST(SUM(CAST(ROUND(l_quantity * 1.0) AS BIGINT)) AS DOUBLE) / 1.0 / COUNT(*) AS avg_qty,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '2000-01-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    headline = true,
  )

  // ---------------------------------------------------------------- q02
  /** Projection + conjunctive filter; both must reach the parquet scan
    * (PushedFilters / pruned ReadSchema). Reference P4-shaped.
    */
  val q02FilterProject: QueryDef = QueryDef(
    "q02_filter_project",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") > 0.05 && col("l_quantity") < 10.0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_discount > 0.05 AND l_quantity < 10.0
      ORDER BY l_orderkey, l_linenumber"""),
  )

  // ---------------------------------------------------------------- q03
  /** Multi-way join + agg: fact-fact join (lineitem⋈orders) with
    * broadcast dims (customer/nation at test SF; nation always
    * broadcast). Reference J1/J3-shaped at scale.
    *
    * The revenue aggregation is PUSHED BELOW the fact-fact join:
    * lineitem first collapses to one (orderkey, rev, items) row per
    * order — Catalyst does not do this rewrite itself, and it changes
    * what the big shuffle moves from one wide row per LINE ITEM to one
    * narrow row per ORDER (~4× fewer rows here, far fewer columns;
    * measured 0.97 s → 0.84 s at sf0.1, SCALING.md "Joins" — the gap
    * widens with fanout at 100 TB). Legal because the exact-cents
    * revenue is an integer SUM and the item count a COUNT, both
    * decomposable through the per-order regrouping with bit-identical
    * totals; the final per-nation fsum is unchanged.
    */
  val q03JoinRevenue: QueryDef = QueryDef(
    "q03_join_revenue",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      // floor(x+0.5) instead of round(): per-row BigDecimal removed
      // from the serial scan stage — value-identical under the fixed-
      // point contract (see fsum's scaladoc; verified all graded SFs)
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 10000.0 + lit(0.5)).cast("long")).as("rev_i"),
          count(lit(1)).as("items"))
      perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg((sum(col("rev_i")).cast("double") / 10000.0).as("revenue"),
          sum(col("items")).as("n_items"))
        .orderBy(col("n_name"))
    },
    Some("""
      SELECT n_name,
        CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name"""),
    headline = true,
  )

  // ---------------------------------------------------------------- q04
  /** Global top-k (reference O1 serving sort): Spark plans
    * TakeOrderedAndProject — no full sort, no single-node shuffle.
    */
  val q04TopK: QueryDef = QueryDef(
    "q04_topk",
    (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20"""),
  )

  // ---------------------------------------------------------------- q05
  /** Latest-per-key collapse (reference A7): row_number window, fully
    * shuffle-partitioned by the key.
    */
  val q05WindowLatest: QueryDef = QueryDef(
    "q05_window_latest",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id, event_id, event_type, value
      FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) q
      WHERE rn = 1
      ORDER BY user_id"""),
  )

  // ---------------------------------------------------------------- q06
  /** Keyed dedup, keep-first in a deterministic order (reference P2: pandas
    * `~index.duplicated(keep='first')`). `dropDuplicates` is nondeterministic
    * → row_number over an explicit ordering instead.
    */
  val q06DedupFirst: QueryDef = QueryDef(
    "q06_dedup_first",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""
      SELECT user_id, event_type, event_id, value
      FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        FROM events) q
      WHERE rn = 1
      ORDER BY user_id, event_type"""),
  )

  // ---------------------------------------------------------------- q07
  /** Quantile outlier filter (reference P1, analysis.py:11-28): exact
    * linear-interpolated p99 per column, drop rows where col == q
    * (the reference's deliberate `==` quirk). Two-pass: tiny agg collected
    * to the driver, then a scan-side filter — at 100 TB the first pass is a
    * single shuffle-light agg and the second is embarrassingly parallel.
    */
  val q07QuantileOutlier: QueryDef = QueryDef(
    "q07_quantile_outlier",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // The equality filter compares against the 6-decimal-rounded
      // quantile on BOTH sides: the two engines' interpolation formulas
      // can differ by 1 ulp, and an unrounded == would then diverge by
      // whole data-value groups. (The reference-exact == survives in
      // Clean.removeOutliers; this query is the cross-engine parity
      // form.)
      val qs = li.agg(
        round(expr("percentile(l_quantity, 0.99)"), 6).as("q_qty"),
        round(expr("percentile(l_extendedprice, 0.99)"), 6).as("q_price"))
        .head()
      val (qQty, qPrice) = (qs.getDouble(0), qs.getDouble(1))
      li.filter(!(col("l_quantity") === qQty ||
          col("l_extendedprice") === qPrice))
        .agg(
          count(lit(1)).as("n_kept"),
          lit(qQty).as("q_qty"),
          lit(qPrice).as("q_price"))
    },
    Some("""
      WITH q AS (
        SELECT ROUND(quantile_cont(l_quantity, 0.99), 6) AS q_qty,
               ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS q_price
        FROM lineitem)
      SELECT COUNT(*) AS n_kept,
             MAX(q.q_qty) AS q_qty,
             MAX(q.q_price) AS q_price
      FROM lineitem, q
      WHERE NOT (l_quantity = q.q_qty OR l_extendedprice = q.q_price)"""),
  )

  // ---------------------------------------------------------------- q08
  /** Anti join (reference P2/cache-guard pattern): customers with no
    * high-value order. The filtered build side shrinks before the join —
    * broadcast-able at scale; otherwise shuffled hash anti-join.
    */
  val q08AntiJoin: QueryDef = QueryDef(
    "q08_anti_join",
    (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 400000.0)
      ORDER BY c_custkey"""),
  )

  // ---------------------------------------------------------------- q09
  /** Semi join: parts that ship in bulk (EXISTS). */
  val q09SemiJoin: QueryDef = QueryDef(
    "q09_semi_join",
    (s, dir) =>
      t(s, dir, "part")
        .join(
          t(s, dir, "lineitem").filter(col("l_quantity") > 45.0),
          col("p_partkey") === col("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
        .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey, p_name, p_brand
      FROM part p
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45.0)
      ORDER BY p_partkey"""),
  )

  // ---------------------------------------------------------------- q10
  /** Left join with miss-rows (reference J1 geocode join semantics:
    * unmatched → null, original rows all kept).
    */
  val q10LeftJoinMiss: QueryDef = QueryDef(
    "q10_left_join_miss",
    (s, dir) => {
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000.0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      t(s, dir, "orders")
        .join(broadcast(rich), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("c_acctbal"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, c_name, c_acctbal
      FROM orders
      LEFT JOIN (SELECT c_custkey, c_name, c_acctbal FROM customer
                 WHERE c_acctbal > 5000.0) c
        ON o_custkey = c_custkey
      ORDER BY o_orderkey"""),
  )

  // ---------------------------------------------------------------- q11
  /** Per-row array aggregates (reference D2-D4: n_stations /
    * walk_time min / avg) via higher-order functions over the embedding
    * array — no UDF, stays in codegen.
    */
  val q11ArrayStats: QueryDef = QueryDef(
    "q11_array_stats",
    (s, dir) =>
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          col("embedding").getItem(0).cast("double").as("first_elem"),
          array_min(col("embedding")).cast("double").as("min_elem"),
          round(
            aggregate(col("embedding"), lit(0.0),
              (acc, x) => acc + x.cast("double")) / size(col("embedding")),
            4).as("avg_elem"))
        .orderBy(col("vec_id")),
    Some("""
      SELECT vec_id,
        len(embedding) AS dim,
        CAST(embedding[1] AS DOUBLE) AS first_elem,
        CAST(list_min(embedding) AS DOUBLE) AS min_elem,
        ROUND(list_reduce([0.0::DOUBLE] || [CAST(x AS DOUBLE) for x in embedding], (a, v) -> a + v) / len(embedding), 4) AS avg_elem
      FROM embeddings
      ORDER BY vec_id"""),
  )

  // ---------------------------------------------------------------- q12
  /** MAE-style metric (reference A3/A4): exact decimal accumulation. */
  val q12Mae: QueryDef = QueryDef(
    "q12_mae",
    (s, dir) =>
      t(s, dir, "lineitem")
        .select(
          col("l_extendedprice").as("y"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("y_pred"))
        .agg(
          (fsum(abs(col("y") - col("y_pred")), 4) / count(lit(1))).as("mae"),
          count(lit(1)).as("n")),
    Some("""
      SELECT
        CAST(SUM(CAST(ROUND(ABS(l_extendedprice - l_extendedprice * (1.0 - l_discount)) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 / COUNT(*) AS mae,
        COUNT(*) AS n
      FROM lineitem"""),
  )

  // ---------------------------------------------------------------- q13
  /** Grouped quantiles (reference A5 leaf-wise quantiles): exact
    * percentile per group, rounded for cross-engine interpolation parity.
    */
  val q13GroupQuantiles: QueryDef = QueryDef(
    "q13_group_quantiles",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.75)"), 6).as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
        ROUND(quantile_cont(value, 0.25), 6) AS p25,
        ROUND(quantile_cont(value, 0.5), 6) AS p50,
        ROUND(quantile_cont(value, 0.75), 6) AS p75,
        COUNT(*) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  // ---------------------------------------------------------------- q14
  /** Daily rollup (reference F14 iso2date + daily batch): date_trunc
    * group-by; partition-prunable at scale when data is dt-partitioned.
    */
  val q14DailyRollup: QueryDef = QueryDef(
    "q14_daily_rollup",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"), fsum(col("value"), 2).as("total_value"))
        .orderBy(col("day")),
    Some("""
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      FROM events
      GROUP BY 1
      ORDER BY day"""),
    headline = true,
  )

  // ---------------------------------------------------------------- q15
  /** Tumbling-window aggregation — the batch-parity shape of the
    * Structured Streaming windowed agg (SURVEY §2.10). Epoch-aligned
    * 6-hour buckets, keyed by (bucket, event_type).
    */
  val q15TumblingWindow: QueryDef = QueryDef(
    "q15_tumbling_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(
          window(col("ts"), "6 hours").getField("start").cast("long")
            .as("bucket_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), fsum(col("value"), 2).as("total_value"))
        .orderBy(col("bucket_start"), col("event_type")),
    Some("""
      SELECT (epoch_us(ts) // 1000000) // 21600 * 21600 AS bucket_start,
        event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY bucket_start, event_type"""),
  )

  // ---------------------------------------------------------------- q16
  /** Exact distinct aggregation (expand + two-phase agg in Spark). */
  val q16DistinctAgg: QueryDef = QueryDef(
    "q16_distinct_agg",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
  )

  // ---------------------------------------------------------------- q17
  /** Serving join + score + sort (reference J2/J3 + D8/D9 + O1): a
    * "prediction" per order (group mean by priority) re-joined onto the
    * full table, scored, renamed, top-50 by score.
    */
  val q17ScoreServe: QueryDef = QueryDef(
    "q17_score_serve",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val pred = o.groupBy(col("o_orderpriority"))
        .agg((fsum(col("o_totalprice"), 2) / count(lit(1))).as("y_pred"))
      o.join(broadcast(pred), Seq("o_orderpriority"), "left")
        .withColumn("score", round(col("y_pred") / col("o_totalprice"), 6))
        .select(col("o_orderkey"), col("o_totalprice").as("monthly_cost"),
          round(col("y_pred"), 6).as("monthly_cost_predicted"),
          col("score"))
        .orderBy(col("score").desc, col("o_orderkey"))
        .limit(50)
    },
    Some("""
      WITH pred AS (
        SELECT o_orderpriority,
          CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS y_pred
        FROM orders GROUP BY o_orderpriority)
      SELECT o_orderkey,
        o_totalprice AS monthly_cost,
        ROUND(y_pred, 6) AS monthly_cost_predicted,
        ROUND(y_pred / o_totalprice, 6) AS score
      FROM orders LEFT JOIN pred USING (o_orderpriority)
      ORDER BY score DESC, o_orderkey
      LIMIT 50"""),
    headline = true,
  )

  // ---------------------------------------------------------------- q18
  /** Seeded deterministic split sizes (reference X1: exact-count split).
    * Row membership is engine-specific (rand(seed)), but the *sizes* are
    * exact by construction — the oracle checks them.
    */
  val q18SplitSizes: QueryDef = QueryDef(
    "q18_split_sizes",
    (s, dir) => {
      val splits = graft.operators.Splits.threeWay(
        t(s, dir, "orders"), valRatio = 0.1875, testRatio = 0.25, seed = 123L)
      splits("train").agg(count(lit(1)).as("n")).withColumn("part", lit("train"))
        .unionAll(splits("val").agg(count(lit(1)).as("n")).withColumn("part", lit("val")))
        .unionAll(splits("test").agg(count(lit(1)).as("n")).withColumn("part", lit("test")))
        .select(col("part"), col("n"))
        .orderBy(col("part"))
    },
    Some("""
      WITH n AS (SELECT COUNT(*) AS total FROM orders)
      SELECT part, n FROM (
        SELECT 'test' AS part, CAST(FLOOR(total * 0.25) AS BIGINT) AS n FROM n
        UNION ALL
        SELECT 'train', total - CAST(FLOOR(total * 0.25) AS BIGINT)
                              - CAST(FLOOR(total * 0.1875) AS BIGINT) FROM n
        UNION ALL
        SELECT 'val', CAST(FLOOR(total * 0.1875) AS BIGINT) FROM n) q
      ORDER BY part"""),
  )

  // ---------------------------------------------------------------- q25
  /** Semi-structured extraction: JSON path over the events.props string
    * column (get_json_object → codegen'd JsonPath evaluation), grouped
    * stats over the extracted field.
    */
  val q25JsonExtract: QueryDef = QueryDef(
    "q25_json_extract",
    (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          countDistinct(col("k")).as("n_distinct_k"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  // ---------------------------------------------------------------- q26
  /** ROLLUP hierarchy totals (year → status → grand total): Spark's
    * Expand-based grouping sets, exact-cent money sums.
    */
  val q26Rollup: QueryDef = QueryDef(
    "q26_rollup",
    (s, dir) =>
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).cast("long").as("order_year"),
          col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), fsum(col("o_totalprice"), 2).as("total"))
        .orderBy(col("order_year").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first),
    Some("""
      SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS order_year,
        o_orderstatus,
        COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total
      FROM orders
      GROUP BY ROLLUP(order_year, o_orderstatus)
      ORDER BY order_year ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST"""),
  )

  // ---------------------------------------------------------------- q48
  /** CUBE over (year, status) with grouping_id disambiguating a NULL
    * group value from a ROLLUP/CUBE subtotal row — the full grouping-sets
    * surface beyond q26's hierarchy. Spark plans one Expand + one
    * aggregate (each input row fans out to its grouping sets before the
    * map-side partial agg), so the cube costs one shuffle like a plain
    * groupBy.
    */
  val q48Cube: QueryDef = QueryDef(
    "q48_cube",
    (s, dir) =>
      t(s, dir, "orders")
        .cube(year(col("o_orderdate")).cast("long").as("order_year"),
          col("o_orderstatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"), fsum(col("o_totalprice"), 2).as("total"))
        .orderBy(col("gid"), col("order_year").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first),
    Some("""
      SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS order_year,
        o_orderstatus,
        CAST(GROUPING(order_year, o_orderstatus) AS BIGINT) AS gid,
        COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total
      FROM orders
      GROUP BY CUBE(order_year, o_orderstatus)
      ORDER BY gid, order_year ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST"""),
  )

  // ---------------------------------------------------------------- q89
  /** Arbitrary GROUPING SETS — the generalization ROLLUP (q26) and CUBE
    * (q48) cannot express: marginals-only sets ((year), (status)) with
    * no pairwise cell and no grand total. Same Expand + single-shuffle
    * physical shape as the cube.
    */
  val q89GroupingSets: QueryDef = QueryDef(
    "q89_grouping_sets",
    (s, dir) =>
      t(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("order_year"),
          col("o_orderstatus"), col("o_totalprice"))
        .groupingSets(
          Seq(Seq(col("order_year")), Seq(col("o_orderstatus"))),
          col("order_year"), col("o_orderstatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"), fsum(col("o_totalprice"), 2).as("total"))
        .orderBy(col("gid"), col("order_year").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first),
    Some("""
      SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS order_year,
        o_orderstatus,
        CAST(GROUPING(order_year, o_orderstatus) AS BIGINT) AS gid,
        COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total
      FROM orders
      GROUP BY GROUPING SETS ((order_year), (o_orderstatus))
      ORDER BY gid, order_year ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST"""),
  )

  // ---------------------------------------------------------------- q90
  /** Analytic-window breadth in one graded pass: lag/lead offsets,
    * ntile quartiles, and percent_rank over per-user event-time order
    * (full tie-breaks, so every function is deterministic).
    * percent_rank = (rank−1)/(n−1) is a single exact integer division
    * in double — identical in both engines; rounded anyway for the
    * shared float policy.
    */
  val q90WindowSuite: QueryDef = QueryDef(
    "q90_window_suite",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"), col("ts"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_value", lead(col("value"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .select(col("user_id"), col("event_id"), col("prev_value"),
          col("next_value"), col("quartile"), col("pct_rank"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id,
        lag(value, 1) OVER w AS prev_value,
        lead(value, 1) OVER w AS next_value,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        ROUND(percent_rank() OVER w, 6) AS pct_rank
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id"""),
  )

  // ---------------------------------------------------------------- q97
  /** Trailing event-time RANGE frame: per user, the count and
    * exact-cents sum of events in the trailing hour INCLUDING the
    * current row — the time-window analytic (rate limiting, rolling
    * spend, burst detection) that a ROWS frame cannot express because
    * the frame width varies with event density. The order key is
    * integer microseconds, so frame membership is integer comparison —
    * identical in both engines — and RANGE peers (equal timestamps)
    * are included in each other's frames by definition in both.
    */
  val q97TrailingWindow: QueryDef = QueryDef(
    "q97_trailing_window",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      t(s, dir, "events")
        .withColumn("us", expr("unix_micros(ts)"))
        .withColumn("cents", round(col("value") * 100, 0).cast("long"))
        .withColumn("n_trailing_1h", count(lit(1)).over(w))
        .withColumn("sum_trailing_1h",
          sum(col("cents")).over(w).cast("double") / 100.0)
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("n_trailing_1h"),
          col("sum_trailing_1h"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id,
          CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us,
          CAST(ROUND(value * 100.0) AS BIGINT) AS cents
        FROM events)
      SELECT user_id, event_id,
        COUNT(*) OVER w AS n_trailing_1h,
        CAST(SUM(cents) OVER w AS BIGINT) / 100.0 AS sum_trailing_1h
      FROM e
      WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY us
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""),
  )

  // ---------------------------------------------------------------- q51
  /** Binned range join: orders counted into ±3% price bands around
    * sampled anchor orders. Spark would plan the bare BETWEEN condition
    * as a nested loop; [[graft.operators.RangeJoin]] discretizes the
    * price axis so an equi-join on the bin key + exact residual filter
    * does the work. DuckDB's native IEJoin grades the semantics.
    */
  val q51RangeJoin: QueryDef = QueryDef(
    "q51_range_join",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val intervals = o.filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey").as("ikey"),
          (col("o_totalprice") * 0.97).as("lo"),
          (col("o_totalprice") * 1.03).as("hi"))
      val points = o.select(col("o_totalprice").as("v"))
      val matched = graft.operators.RangeJoin.pointInInterval(
        points, intervals, "v", "lo", "hi", binWidth = 10000.0)
      intervals.join(
          matched.groupBy(col("ikey")).agg(count(lit(1)).as("n_in_band")),
          Seq("ikey"), "left")
        .select(col("ikey"),
          coalesce(col("n_in_band"), lit(0L)).as("n_in_band"))
        .orderBy(col("ikey"))
    },
    Some("""
      WITH i AS (
        SELECT o_orderkey AS ikey, o_totalprice * 0.97 AS lo,
               o_totalprice * 1.03 AS hi
        FROM orders WHERE o_orderkey % 50 = 0),
      p AS (SELECT o_totalprice AS v FROM orders)
      SELECT i.ikey, COUNT(p.v) AS n_in_band
      FROM i LEFT JOIN p ON p.v BETWEEN i.lo AND i.hi
      GROUP BY i.ikey
      ORDER BY i.ikey"""),
  )

  // ---------------------------------------------------------------- q53
  /** Equi-width histogram of lineitem prices — the profiling/feature
    * pass ([[graft.operators.Binning]]): bounds from one tiny aggregate,
    * counts from one groupBy; bin math is plain double arithmetic, so
    * DuckDB reproduces the assignments bit-for-bit.
    */
  val q53Histogram: QueryDef = QueryDef(
    "q53_histogram",
    (s, dir) =>
      graft.operators.Binning.equiWidthHistogram(
          t(s, dir, "lineitem"), col("l_extendedprice"), nBins = 20)
        .withColumn("bin_lo", round(col("bin_lo"), 6))
        .withColumn("bin_hi", round(col("bin_hi"), 6))
        .orderBy(col("bin")),
    Some("""
      WITH b AS (
        SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
               MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
        FROM lineitem),
      binned AS (
        SELECT CAST(LEAST(GREATEST(
            FLOOR((CAST(l_extendedprice AS DOUBLE) - b.lo) / ((b.hi - b.lo) / 20)),
            0.0), 19.0) AS BIGINT) AS bin, b.lo, b.hi
        FROM lineitem, b)
      SELECT bin,
             ROUND(lo + bin * ((hi - lo) / 20), 6) AS bin_lo,
             ROUND(lo + (bin + 1) * ((hi - lo) / 20), 6) AS bin_hi,
             COUNT(*) AS n
      FROM binned
      GROUP BY bin, lo, hi
      ORDER BY bin"""),
  )

  // ---------------------------------------------------------------- q56
  /** Pivot (long → wide reshape): per-user event counts as one column
    * per event type. Spark plans pivot-with-known-values as a single
    * aggregate over `count(CASE ...)`-style pivot expressions — one
    * shuffle, no per-value passes; the explicit value list keeps the
    * output schema static (mandatory at scale: value discovery is a
    * separate job).
    */
  val q56Pivot: QueryDef = QueryDef(
    "q56_pivot",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        // scoped fill: an unrestricted na.fill would also rewrite a
        // null GROUP KEY to 0, merging it with a real user 0
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))
        .orderBy(col("user_id")),
    Some("""
      SELECT user_id,
        COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),
  )

  // ---------------------------------------------------------------- q57
  /** Unpivot (wide → long melt): lineitem's numeric measures as
    * (key, metric, value) rows — the normalization reshape feeding
    * metric-generic pipelines. Narrow Expand: each row fans to
    * #measures rows scan-side, no shuffle.
    */
  val q57Unpivot: QueryDef = QueryDef(
    "q57_unpivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_discount").cast("double").as("l_discount"),
          col("l_tax").cast("double").as("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric")),
    Some("""
      WITH src AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS DOUBLE) AS l_quantity,
               CAST(l_discount AS DOUBLE) AS l_discount,
               CAST(l_tax AS DOUBLE) AS l_tax
        FROM lineitem WHERE l_orderkey % 100 = 0)
      SELECT l_orderkey, l_linenumber, metric, value FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM src
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src)
      ORDER BY l_orderkey, l_linenumber, metric"""),
  )

  // ---------------------------------------------------------------- q58
  /** The salted skew join as a graded row: key-salting must be
    * result-invisible, so the oracle is the PLAIN SQL join. Salting
    * splits each hot key across `buckets` tasks (big side hashed into a
    * bucket, small side replicated to all), trading `buckets`× small-
    * side duplication for skew-free task sizes.
    */
  val q58SaltedJoin: QueryDef = QueryDef(
    "q58_salted_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val big = ev.select(col("user_id"), col("event_id"), col("value"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_user_events"))
      graft.operators.Scale.saltedJoin(big, perUser, "user_id", buckets = 8)
        .select(col("user_id"), col("event_id"), col("n_user_events"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      WITH per_user AS (
        SELECT user_id, COUNT(*) AS n_user_events
        FROM events GROUP BY user_id)
      SELECT e.user_id, e.event_id, p.n_user_events
      FROM events e JOIN per_user p USING (user_id)
      ORDER BY e.user_id, e.event_id"""),
  )

  // ---------------------------------------------------------------- q27
  /** Set operations (X3 family): customers with recent orders EXCEPT
    * big-spender customers, plus the INTERSECT count.
    */
  val q27SetOps: QueryDef = QueryDef(
    "q27_set_ops",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val recent = o.filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      val big = o.filter(col("o_totalprice") > 300000.0).select(col("o_custkey"))
      recent.distinct().exceptAll(big.distinct())
        .withColumn("src", lit("recent_not_big"))
        .unionAll(recent.intersect(big).withColumn("src", lit("both")))
        .orderBy(col("src"), col("o_custkey"))
    },
    Some("""
      WITH recent AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
      big AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000.0)
      SELECT o_custkey, 'recent_not_big' AS src
      FROM (SELECT o_custkey FROM recent EXCEPT SELECT o_custkey FROM big) e
      UNION ALL
      SELECT o_custkey, 'both' AS src
      FROM (SELECT o_custkey FROM recent INTERSECT SELECT o_custkey FROM big) i
      ORDER BY src, o_custkey"""),
  )

  // ---------------------------------------------------------------- q28
  /** Running (cumulative) aggregate per key — the window frame shape the
    * reference never needed but any serving layer does. Exact integer
    * cents keep the running sums bit-identical.
    */
  val q28RunningTotal: QueryDef = QueryDef(
    "q28_running_total",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("cents", round(col("value") * 100, 0).cast("long"))
        .withColumn("running_value",
          (sum(col("cents")).over(w)).cast("double") / 100.0)
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("running_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id,
        CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
          AS running_value
      FROM events
      WHERE user_id < 20
      ORDER BY user_id, event_id"""),
  )

  val all: Seq[QueryDef] = Seq(
    q25JsonExtract, q26Rollup, q27SetOps, q28RunningTotal, q48Cube, q89GroupingSets, q90WindowSuite, q97TrailingWindow,
    q51RangeJoin, q53Histogram, q56Pivot, q57Unpivot, q58SaltedJoin,
    q01AggPricing, q02FilterProject, q03JoinRevenue, q04TopK,
    q05WindowLatest, q06DedupFirst, q07QuantileOutlier, q08AntiJoin,
    q09SemiJoin, q10LeftJoinMiss, q11ArrayStats, q12Mae,
    q13GroupQuantiles, q14DailyRollup, q15TumblingWindow, q16DistinctAgg,
    q17ScoreServe, q18SplitSizes)
}
