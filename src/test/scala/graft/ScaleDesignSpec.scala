package graft

import graft.operators.Scale
import graft.plans.GraftExtensions
import graft.streaming.Sessionize
import org.apache.spark.sql.functions._

class ScaleDesignSpec extends SparkSpec {
  import spark.implicits._

  test("salted join is row-identical to the plain join") {
    val big = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    val small = Tables(spark, sfDir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_user_events"))
    val plain = big.join(small, Seq("user_id"))
    val salted = Scale.saltedJoin(big, small, "user_id", buckets = 8)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = Tables(spark, sfDir, "orders")
      val customers = Tables(spark, sfDir, "customer")
        .withColumnRenamed("c_custkey", "o_custkey")
      Scale.writeBucketed(orders, "graft_orders_b", "o_custkey", 8)
      Scale.writeBucketed(customers, "graft_customer_b", "o_custkey", 8)
      val joined = Scale.bucketedJoin(spark, "graft_orders_b",
        "graft_customer_b", "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("graft-native functions are callable from SQL via extensions") {
    GraftExtensions.register(spark)
    val out = spark.sql("SELECT rolling_hash('ab') AS h").head().getLong(0)
    assert(out === (97L * 31 + 98) % 1000000007L)
    val dot = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(dot === 11.0)
    val sh = spark.sql(
      "SELECT size(shingle_hashes('a b c d', 3)) AS n").head().getInt(0)
    assert(sh === 2)
    val sig = spark.sql(
      "SELECT size(minhash_signature(shingle_hashes('a b c d', 3), 16)) AS k")
      .head().getInt(0)
    assert(sig === 16)
    val srp = spark.sql(
      "SELECT size(srp_signature(array(CAST(1.0 AS FLOAT)), 8, 42)) AS p")
      .head().getInt(0)
    assert(srp === 8)
    val tns = spark.sql(
      "SELECT token_ngram_stats('a b a', 2).n_grams AS n").head().getLong(0)
    assert(tns === 2L)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(10, 0.01)
    bf.putLong(42L)
    val hex = graft.plans.BloomAnyContain.serialize(bf)
      .map("%02X".format(_)).mkString
    val hit = spark.sql(
      s"SELECT bloom_any_contain(array(42L), X'$hex') AS h")
      .head().getBoolean(0)
    assert(hit)
  }

  test("decontamination prefilter is a narrow map; verify join broadcasts") {
    import graft.operators.Decontaminate
    val docs = Tables(spark, sfDir, "documents")
    val grams = Decontaminate.benchmarkShingles(
      docs.filter(col("doc_id") % 10 === 0), col("text"), n = 8)
    // the corpus-sized stage: scan → shingle → bloom filter, no Exchange
    val bloom = grams.stat.bloomFilter("gram", 1000L, 0.01)
    val pre = docs.select(col("doc_id"),
        graft.plans.ShingleHashes.shingle_hashes(col("text"), 8).as("sh"))
      .filter(graft.plans.BloomAnyContain.bloom_any_contain(col("sh"), bloom))
    val prePlan = pre.queryExecution.executedPlan.toString
    assert(!prePlan.contains("Exchange"),
      s"bloom prefilter must not shuffle the corpus:\n$prePlan")
    // the survivor-sized verify joins against the broadcast benchmark set
    val out = Decontaminate.contaminated(docs.filter(col("doc_id") % 10 =!= 0),
      col("doc_id"), col("text"), grams, n = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"exact verify should broadcast the benchmark shingles:\n$plan")
  }

  test("search plan: terms filtered before shuffle, df broadcast, top-k") {
    import graft.operators.Search
    val docs = Tables(spark, sfDir, "documents")
    val out = Search.topK(docs, col("doc_id"), col("text"),
      terms = Seq("data", "table", "query"), k = 50)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"df lookup should broadcast:\n$plan")
    // the postings filter must be scan-side: the FilterExec carrying the
    // term isin must have no Exchange anywhere in its subtree (postings
    // for absent terms never leave the mappers)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val below = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: below.flatMap(flatten)
    }
    val termFilters = flatten(out.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("IN (data,table,query)") => f
    }
    assert(termFilters.nonEmpty,
      s"expected an isin filter over the query terms:\n$plan")
    termFilters.foreach { f =>
      val shufflesBelow = flatten(f).collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(shufflesBelow.isEmpty,
        s"the term filter must run before any Exchange:\n$plan")
    }
  }

  test("weighted sample plan is a TakeOrdered over a narrow projection") {
    val docs = Tables(spark, sfDir, "documents")
    val out = Scale.sequentialPoissonSample(docs, col("doc_id"),
      col("text"), col("n_chars"), k = 10)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"sample must be a top-k, not a global sort:\n$plan")
    assert(!plan.contains("Exchange"),
      s"sample must not shuffle the corpus:\n$plan")
  }

  test("radius join pins its exchanges against AQE coalescing past " +
      "the blocker gate, and leaves small inputs AQE-coalescible") {
    // the grid join is EXPLOSIVE (tiny shuffled bytes, post-join work);
    // AQE would coalesce it to ~1 task unless both sides carry a
    // user-numbered repartition, which is AQE-exempt. Past the
    // blocker-row gate the physical plan must keep the full partition
    // count on the join's exchanges — losing this silently
    // re-serializes the distance verify at exactly the scale where it
    // matters (42 s of q207's 85 s at sf1 before the fix). BELOW the
    // gate the pin must vanish: at sf0.1 its dead exchanges cost ~1 s
    // against an AQE-coalesced/broadcast join (the round-10 scale
    // regression this gate recovers).
    val pts = Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("uid"),
        pmod(col("c_custkey") * 7919, lit(1000L)).as("x"),
        pmod(col("c_custkey") * 104729, lit(1000L)).as("y"))
    val n = spark.sessionState.conf.numShufflePartitions
    def reparts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical
            .RepartitionByExpression if r.optNumPartitions.contains(n) => r
      }
    // force the gate OPEN: tiny threshold ⇒ the pin must be present
    spark.conf.set(graft.operators.Explosive.PinRowsKey, "0")
    val pinned = try graft.operators.Spatial.radiusPairs(
      pts, col("uid"), col("x"), col("y"), 25L)
    finally spark.conf.unset(graft.operators.Explosive.PinRowsKey)
    assert(reparts(pinned).size >= 2,
      "expected both grid-join inputs to carry AQE-exempt numbered " +
        "repartitions:\n" + pinned.queryExecution.optimizedPlan.toString)
    // default gate at this tiny SF: no pin, AQE keeps its freedom
    val unpinned = graft.operators.Spatial.radiusPairs(
      pts, col("uid"), col("x"), col("y"), 25L)
    assert(reparts(unpinned).isEmpty,
      "below the blocker gate the radius join must not pin:\n" +
        unpinned.queryExecution.optimizedPlan.toString)
    // and the pairs themselves stay correct (spot parity vs brute force
    // on a bounded slice)
    val slice = pts.filter(col("uid") <= 200)
    val got = graft.operators.Spatial.radiusPairs(
        slice, col("uid"), col("x"), col("y"), 25L)
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = slice.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      a <- rows; b <- rows if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= 625L
    } yield (a._1, b._1)).sortBy(identity)
    assert(got.toSeq === brute.toSeq)
  }

  test("cosine tile join: exchanges pinned unconditionally, grid " +
      "derived from session parallelism (round-13 q95 fix)") {
    // the tile join is explosive BY CONSTRUCTION (tiny shuffled bytes,
    // quadratic post-join pair work) — unlike the gated radius/LSH
    // pins there is no small regime where AQE coalescing helps, so
    // both sides must always carry AQE-exempt numbered repartitions.
    // Losing this re-serializes ~n²/2 pair scorings onto a few cores
    // (q95 at sf1 flipped 6.7↔15.4 s on wave placement before the fix).
    val emb = Tables(spark, sfDir, "embeddings")
    val n = spark.sessionState.conf.numShufflePartitions
    def reparts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical
            .RepartitionByExpression if r.optNumPartitions.contains(n) => r
      }
    val pairs = graft.operators.Dedup.cosinePairs(emb,
      col("vec_id"), col("embedding"), threshold = 0.5)
    assert(reparts(pairs).size >= 2,
      "expected both tile-join inputs to carry AQE-exempt numbered " +
        "repartitions:\n" + pairs.queryExecution.optimizedPlan.toString)
    // derived grid tracks parallelism: G(G+1)/2 ≈ 8 tasks per slot,
    // floor 8, cap 64 — read back from the explode(sequence(ti, G-1))
    // bound in the analyzed plan via the blk pmod literal
    // grid-derivation formula: G²/2 tiles ≈ 8 tasks per slot, floor 8,
    // cap 64 (the sf1 grid sweep in bench/PROFILE_APSS_r13.txt: G16
    // 6.0 s, G23-24 4.7 s at 32 slots)
    assert(graft.operators.Dedup.deriveGridSide(4) === 8)   // floor
    assert(graft.operators.Dedup.deriveGridSide(32) === 23)
    assert(graft.operators.Dedup.deriveGridSide(64) === 32)
    assert(graft.operators.Dedup.deriveGridSide(10000) === 64) // cap
    // and explicit-vs-derived changes the grid but never the answer
    val explicit = graft.operators.Dedup.cosinePairs(emb,
        col("vec_id"), col("embedding"), threshold = 0.5, gridSide = 5)
      .orderBy("id_a", "id_b").collect().toSeq
    val derived = pairs.orderBy("id_a", "id_b").collect().toSeq
    assert(explicit === derived)
  }

  test("LSH band join pins its exchanges past the blocker gate; at " +
      "small SF only the map-parallelism lift remains") {
    // same starvation shape as the radius join: band-bucket self-join
    // with post-join candidate volume. Past the gate both join inputs
    // carry AQE-exempt numbered repartitions on (band, band_sig).
    // (The split-starved scan separately gets a keyed map lift for
    // shingle+minhash — q35's sf1 profile: wall time tracked scan
    // splits, not shuffle partitions — but that exchange lives below
    // the eager shingle checkpoint, outside this plan.)
    val docs = Tables(spark, sfDir, "documents")
    val n = spark.sessionState.conf.numShufflePartitions
    def reparts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical
            .RepartitionByExpression if r.optNumPartitions.contains(n) => r
      }
    spark.conf.set(graft.operators.Explosive.PinRowsKey, "0")
    val pinned = try graft.operators.Dedup.minhashLshPairs(
      docs, col("doc_id"), col("text"), 3, 0.8)
    finally spark.conf.unset(graft.operators.Explosive.PinRowsKey)
    // the map lift sits ABOVE the scan but BELOW the eager shingle
    // checkpoint, so the final plan shows only the two band-join pins
    // (the checkpoint is a LogicalRDD leaf here)
    assert(reparts(pinned).size >= 2,
      "expected both band-join inputs to carry AQE-exempt numbered " +
        "repartitions:\n" + pinned.queryExecution.optimizedPlan.toString)
    val unpinned = graft.operators.Dedup.minhashLshPairs(
      docs, col("doc_id"), col("text"), 3, 0.8)
    assert(reparts(unpinned).isEmpty,
      "below the blocker gate the band join must not pin:\n" +
        unpinned.queryExecution.optimizedPlan.toString)
  }

  test("every gated blocker join pins both inputs past the gate, neither " +
      "below it, and returns the same rows either way") {
    import graft.operators.{Dedup, Explosive, Search, Spatial}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val docs = Tables(spark, sfDir, "documents")
    val emb = Tables(spark, sfDir, "embeddings")
    val pts = Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("uid"),
        pmod(col("c_custkey") * 7919, lit(1000L)).as("x"),
        pmod(col("c_custkey") * 104729, lit(1000L)).as("y"))
    val n = spark.sessionState.conf.numShufflePartitions
    // a join input is pinned when a numbered repartition sits under it
    // with only projections and filters in between
    @annotation.tailrec
    def pinned(p: LogicalPlan): Boolean = p match {
      case r: RepartitionByExpression => r.optNumPartitions.contains(n)
      case Project(_, c) => pinned(c)
      case Filter(_, c) => pinned(c)
      case _ => false
    }
    // (left, right) pin flags of every join the build and collect
    // executed — checkpointed segments included (simhash's band join
    // runs inside one), captured from the plans of each action
    def joinInputs(build: => DataFrame)
        : (Seq[(Boolean, Boolean)], Seq[String]) = {
      val plans =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, LogicalPlan)]
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          plans.add(f -> qe.optimizedPlan)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val rows = try {
        val out = build.collect().map(_.toString).sorted.toSeq
        // listener events arrive in order: the collect's is the last
        val deadline = System.nanoTime() + 60000000000L
        while (!plans.asScala.exists(_._1 == "collect")) {
          assert(System.nanoTime() < deadline, "no listener event for collect")
          Thread.sleep(10)
        }
        out
      } finally spark.listenerManager.unregister(listener)
      val joins = plans.asScala.toSeq.flatMap(_._2.collect {
        case j: Join => (pinned(j.left), pinned(j.right))
      })
      (joins, rows)
    }
    val callers: Seq[(String, () => DataFrame)] = Seq(
      "ngramJaccardPairs count join" -> (() => Dedup.ngramJaccardPairs(
        docs, col("doc_id"), col("text"), 3, 0.5, prefixFilter = Some(false))),
      "ngramJaccardPairs prefix join" -> (() => Dedup.ngramJaccardPairs(
        docs, col("doc_id"), col("text"), 3, 0.5, prefixFilter = Some(true))),
      "containmentPairs" -> (() => Dedup.containmentPairs(
        docs, col("doc_id"), col("text"), 3, 600000L)),
      "minhashLshPairs" -> (() => Dedup.minhashLshPairs(
        docs, col("doc_id"), col("text"), 3, 0.8)),
      "simhashPairs" -> (() => Dedup.simhashPairs(
        docs, col("doc_id"), col("text"))),
      "cosinePairsApprox" -> (() => Dedup.cosinePairsApprox(
        emb, col("vec_id"), col("embedding"), 0.4, rowsPerBand = 4)),
      "Dedup.editDistancePairs" -> (() => Dedup.editDistancePairs(
        docs, col("doc_id"), col("text"), prefixLen = 80, maxDist = 20)),
      "Spatial.radiusPairs" -> (() => Spatial.radiusPairs(
        pts, col("uid"), col("x"), col("y"), 50L)),
      "sparseCosinePairs inverted" -> (() => Search.sparseCosinePairs(
        docs, col("doc_id"), col("text"), 0.6, dense = Some(false))))
    callers.foreach { case (name, build) =>
      spark.conf.set(Explosive.PinRowsKey, "0")
      val (pinnedJoins, pinnedRows) =
        try joinInputs(build()) finally spark.conf.unset(Explosive.PinRowsKey)
      assert(pinnedJoins.contains((true, true)),
        s"$name: past the gate both blocker-join inputs must carry " +
          s"numbered repartitions: $pinnedJoins")
      val (defaultJoins, defaultRows) = joinInputs(build())
      assert(defaultJoins.nonEmpty && !defaultJoins.exists(j => j._1 || j._2),
        s"$name: below the gate no join input may pin: $defaultJoins")
      assert(pinnedRows.nonEmpty, s"$name: the fixture must produce pairs")
      assert(pinnedRows === defaultRows, s"$name: rows differ with the pin")
    }
  }

  test("connected-components rounds plan no cartesian or BNLJ") {
    import graft.operators.Components
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val cc = Components.connectedComponents(edges)
    val plan = cc.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"CC must stay equi-join only:\n$plan")
    assert(cc.count() === 5)
  }

  test("chunk dedup first-keep is a partial-aggregating groupBy-min") {
    import graft.operators.Dedup
    val docs = Tables(spark, sfDir, "documents")
    val out = Dedup.chunkDedup(docs, col("doc_id"), col("text"), 16)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no-product plan:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial min") ||
      plan.contains("HashAggregate"),
      s"first-keep should partial-aggregate map-side:\n$plan")
  }

  test("scd2 build runs on ONE exchange: windows, run groupBy, and lead share it") {
    // The change-flag/running-sum windows hash-partition on the key;
    // the (key, run_id) groupBy is a superset of that partitioning
    // (ClusteredDistribution is satisfied, Catalyst adds no second
    // Exchange), and the closing lead window re-sorts but never
    // re-shuffles. One corpus-sized Exchange total is the contract.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    def flattenAll(p: SparkPlan): Seq[SparkPlan] = {
      val below = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: below.flatMap(flattenAll)
    }
    val dim = graft.operators.Scd2.build(Tables(spark, sfDir, "events"),
      col("user_id"), col("event_type"), col("ts"), col("event_id"))
    dim.collect() // finalize AQE
    val exchanges = flattenAll(dim.queryExecution.executedPlan)
      .count(_.isInstanceOf[Exchange])
    assert(exchanges === 1,
      s"scd2 must shuffle exactly once, saw $exchanges:\n" +
        dim.queryExecution.executedPlan)
  }

  test("stored dedup indexes: day-2 joins never exchange the history side") {
    import graft.operators.DedupIndex
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val below = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: below.flatMap(flatten)
    }
    // "history never re-shuffles": on the path from a stored index's
    // scan UP to the first join that consumes it there must be no
    // Exchange — the join takes the bucketed scan's partitioning
    // as-is. (Exchanges ABOVE the join shuffle the join's
    // candidate-sized OUTPUT, which is the delta side's business.)
    def pathTo(p: SparkPlan, target: SparkPlan): Option[List[SparkPlan]] =
      if (p eq target) Some(List(p))
      else {
        val below = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        below.view.flatMap(c => pathTo(c, target)).headOption.map(p :: _)
      }
    def assertHistoryUnshuffled(df: org.apache.spark.sql.DataFrame,
        tables: Seq[String]): Unit = {
      df.collect() // materialize so AQE finalizes the physical plan
      val plan = df.queryExecution.executedPlan
      val all = flatten(plan)
      tables.foreach { t =>
        val scans = all.collect {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(t)) => s
        }
        assert(scans.nonEmpty, s"no scan of stored index $t:\n$plan")
        scans.foreach { s =>
          assert(s.toString.contains("Bucketed: true"),
            s"index $t scan must be bucketed:\n$plan")
          val path = pathTo(plan, s).getOrElse(
            fail(s"scan of $t not reachable from root:\n$plan"))
          val belowJoin = path.reverse
            .takeWhile(n => !n.nodeName.contains("Join"))
          assert(!belowJoin.exists(_.isInstanceOf[Exchange]),
            s"index $t must reach its consuming join without an " +
              s"Exchange:\n$plan")
        }
      }
    }
    val docs = Tables(spark, sfDir, "documents")
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val key = substring(col("text"), 1, 100)

    // at spec scale the planner would just broadcast the tiny index —
    // the opposite of the 100 TB shape, where history is the BIG side.
    // Disable broadcast to force the at-scale plan: sort-merge joins
    // consuming the bucketed index scans in storage partitioning.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      DedupIndex.writeExactIndex(hist, col("doc_id"), key,
        "graft_spec_exact_idx", buckets = 8)
      val exact = DedupIndex.incrementalDedupIndexed(
        spark.table("graft_spec_exact_idx"), delta, col("doc_id"), key)
      assertHistoryUnshuffled(exact, Seq("graft_spec_exact_idx"))
      // storage must not change the answer: indexed == inline
      val inline = graft.operators.Dedup.incrementalDedup(
        hist, delta, col("doc_id"), key)
      assert(exact.exceptAll(inline).count() === 0 &&
        inline.exceptAll(exact).count() === 0)

      DedupIndex.writeNearDupIndex(hist, col("doc_id"), col("text"),
        n = 3, bands = 32, rowsPerBand = 4,
        bandTable = "graft_spec_band_idx",
        shingleTable = "graft_spec_sh_idx", buckets = 8)
      val near = DedupIndex.incrementalNearDedupIndexed(
        spark.table("graft_spec_band_idx"), spark.table("graft_spec_sh_idx"),
        delta, col("doc_id"), col("text"),
        n = 3, threshold = 0.8, bands = 32, rowsPerBand = 4)
      assertHistoryUnshuffled(near,
        Seq("graft_spec_band_idx", "graft_spec_sh_idx"))
      val nearInline = graft.operators.Dedup.incrementalNearDedup(
        hist, delta, col("doc_id"), col("text"), n = 3, threshold = 0.8)
      assert(near.exceptAll(nearInline).count() === 0 &&
        nearInline.exceptAll(near).count() === 0)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("IncrementalAgg: monoid law, nulls, new groups, state-side unshuffled") {
    import graft.operators.IncrementalAgg
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import spark.implicits._
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val below = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: below.flatMap(flatten)
    }
    // unit semantics on a tiny frame: null measures count for nothing,
    // a group with only nulls keeps null sum/min/max, a group only in
    // the delta appears, and merge == one-shot recompute (exceptAll
    // both ways so schema AND values must agree)
    val hist = Seq((1L, Option(10.0)), (1L, None), (2L, Option(5.0)),
      (4L, None)).toDF("g0", "x")
    val delta = Seq((1L, Option(2.5)), (3L, Option(7.0)), (4L, None))
      .toDF("g0", "x")
    val merged = IncrementalAgg.mergeDelta(
      IncrementalAgg.state(hist, col("g0"), col("x"), 2),
      delta, col("g0"), col("x"), 2)
    val full = IncrementalAgg.state(hist.unionByName(delta),
      col("g0"), col("x"), 2)
    assert(merged.exceptAll(full).count() === 0 &&
      full.exceptAll(merged).count() === 0)
    val g4 = merged.filter(col("g") === 4L).head()
    assert(g4.getLong(1) === 0L && g4.isNullAt(2) && g4.isNullAt(3))
    val v4 = IncrementalAgg.view(merged, 2).filter(col("g") === 4L).head()
    assert(v4.isNullAt(5), "avg over zero measures must be null, not 0/0")

    // at-scale shape: state read back from its bucketed table must
    // reach the merge join with no Exchange (broadcast disabled to
    // force the 100 TB plan, as in the dedup-index pin).
    // autoBucketedScan pinned OFF (round 18, r17 verdict item 2): the
    // DisableUnnecessaryBucketedScan heuristic may decide the bucketed
    // read isn't beneficial in a given session and stamp the scan
    // "Bucketed: false (disabled by query planner)" — a planner whim,
    // not operator breakage; this spec asserts the 100 TB shape, so the
    // heuristic must not vote.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    // the contract must hold under any shuffle-partition count: run at
    // the session's own setting and at 32 (the 32-core host's), which
    // differs from the state's 8 buckets
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (parts <- Seq(sessionParts, "32")) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val ords = Tables(spark, sfDir, "orders")
        IncrementalAgg.writeState(
          IncrementalAgg.state(ords.filter(col("o_orderkey") % 5 =!= 0),
            col("o_custkey"), col("o_totalprice"), 2),
          "graft_spec_mv_state", buckets = 8)
        val day2 = IncrementalAgg.mergeDelta(
          spark.table("graft_spec_mv_state"),
          ords.filter(col("o_orderkey") % 5 === 0),
          col("o_custkey"), col("o_totalprice"), 2)
        day2.collect()
        val all = flatten(day2.queryExecution.executedPlan)
        val scan = all.collectFirst {
          case s: FileSourceScanExec if s.relation.location.rootPaths
            .exists(_.toString.contains("graft_spec_mv_state")) => s
        }.getOrElse(fail("no scan of the stored MV state"))
        assert(scan.toString.contains("Bucketed: true"))
        val aboveScan = all.takeWhile(_ ne scan) // preorder: root..scan
        val joinIdx = aboveScan.lastIndexWhere(_.nodeName.contains("Join"))
        assert(joinIdx >= 0, "state scan must feed a merge join")
        assert(!aboveScan.drop(joinIdx).exists(_.isInstanceOf[Exchange]),
          "no Exchange between the state scan and its consuming join:\n" +
            day2.queryExecution.executedPlan)
        // and the monoid law holds at table scale too
        val fullOrd = IncrementalAgg.state(ords, col("o_custkey"),
          col("o_totalprice"), 2)
        assert(day2.exceptAll(fullOrd).count() === 0 &&
          fullOrd.exceptAll(day2).count() === 0)
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", sessionParts)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    }
  }

  test("round-7 operators stay equi-join only — no products anywhere") {
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
    val edges = li.as("x").join(li.as("y"), Seq("k"))
      .filter(col("x.p") =!= col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
    val docs = Tables(spark, sfDir, "documents")
    val plans = Seq(
      "triangles" -> operators.Graph.triangleStats(edges),
      "nearDedup" -> operators.Dedup.incrementalNearDedup(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        col("doc_id"), col("text"), n = 3, threshold = 0.8),
      "targetEnc" -> graft.ml.TargetEncoder.oofMeans(
        Tables(spark, sfDir, "orders"), col("o_orderkey"),
        col("o_orderpriority"), col("o_totalprice"), k = 5))
    plans.foreach { case (name, df) =>
      df.collect() // materialize so AQE finalizes the physical plan
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name must not cartesian:\n$plan")
      // the ONLY nested-loop joins allowed are the Cross combines of
      // one-row scalar aggregates (triangleStats' final stat row);
      // any data-sized nested loop would appear as a non-Cross BNLJ
      val bnlj = plan.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.forall(_.contains("Cross")),
        s"$name has a non-scalar nested loop join:\n$plan")
      if (name != "triangles")
        assert(bnlj.isEmpty, s"$name must stay equi-join only:\n$plan")
    }
  }

  test("stateful and windowed sessionization agree") {
    val state = Sessionize.run(spark, sfDir, gapSeconds = 1800)
    val batch = Sessionize.sessionizeBatch(
      Tables(spark, sfDir, "events"), gapSeconds = 1800)
    assert(state.count() === batch.count())
    assert(state.exceptAll(batch).count() === 0)
  }

  test("batch sessionize plans exactly one exchange and one sort") {
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Sessionize.Event]
    val plan = Sessionize.sessionize(ev, 1800, emitOpen = true)
      .queryExecution.executedPlan.toString
    // the secondary sort's own exchange + sort satisfy the stateful
    // operator's requirements — Catalyst must not add a second of either
    assert(plan.split("Exchange").length - 1 === 1, s"extra exchange:\n$plan")
    assert(plan.split("SortExec").length - 1 <= 1, s"extra sort:\n$plan")
    assert(!plan.contains("SinglePartition"), s"global funnel:\n$plan")
  }

  test("incremental sessionizer equals the window twin on adversarial order") {
    // seeded random events, deliberately presented in scrambled order —
    // the secondary sort must restore time order before the fold
    val rnd = new scala.util.Random(20260812L)
    val evs = (0 until 2000).map { i =>
      Sessionize.Event(
        event_id = i.toLong,
        ts = new java.sql.Timestamp(
          1700000000000L + rnd.nextInt(500000) * 1000L),
        user_id = rnd.nextInt(17).toLong,
        event_type = "e",
        value = math.round(rnd.nextDouble() * 10000) / 100.0)
    }
    val scrambled = rnd.shuffle(evs).toDS().repartition(7)
    val stateful = Sessionize.sessionize(scrambled, 600, emitOpen = true).toDF()
    val batch = Sessionize.sessionizeBatch(scrambled.toDF(), 600)
    assert(stateful.count() > 0)
    assert(stateful.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stateful).count() === 0)
  }

  test("histogram covers every row; quantile bins are equal-frequency") {
    val li = Tables(spark, sfDir, "lineitem")
    val hist = operators.Binning.equiWidthHistogram(li, col("l_quantity"), 10)
    assert(hist.agg(sum("n")).head().getLong(0) === li.count())
    val binned = operators.Binning.quantileBins(li,
      col("l_extendedprice"), Seq(0.25, 0.5, 0.75))
    val counts = binned.groupBy("bin").count().orderBy("bin")
      .as[(Long, Long)].collect()
    assert(counts.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    val n = li.count()
    counts.foreach { case (_, c) =>
      assert(math.abs(c - n / 4.0) <= n * 0.02 + 4, s"skewed bin: $c of $n")
    }
  }

  test("equi-depth histogram: covers every row, balanced, bounds chain") {
    val li = Tables(spark, sfDir, "lineitem")
    val h = operators.Binning.equiDepthHistogram(li,
      col("l_extendedprice"), 10).orderBy("bin").collect()
    val n = li.count()
    assert(h.map(_.getLong(3)).sum === n)
    assert(h.head.isNullAt(1) && h.last.isNullAt(2))
    // interior bounds chain: bin i's hi == bin i+1's lo
    h.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(2) === b.getDouble(1))
    }
    h.foreach(r => assert(math.abs(r.getLong(3) - n / 10.0) <=
      n * 0.02 + 4, s"skewed equi-depth bin: $r of $n"))
    // empty input: empty frame, right schema
    val e = operators.Binning.equiDepthHistogram(
      li.filter(lit(false)), col("l_extendedprice"), 10)
    assert(e.columns.toSeq === Seq("bin", "bin_lo", "bin_hi", "n"))
    assert(e.count() === 0)
  }

  test("binned quantile sketch: within one bin width of the exact value") {
    val li = Tables(spark, sfDir, "lineitem")
    val (lo, hi, nBins) = (0.0, 110000.0, 1024)
    val width = (hi - lo) / nBins
    val est = operators.Binning.binnedQuantiles(li, col("l_returnflag"),
        col("l_extendedprice"), lo, hi, nBins, Seq(500, 950, 990))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val exact = li.groupBy(col("l_returnflag").as("g"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p500"),
        expr("percentile(l_extendedprice, 0.95)").as("p950"),
        expr("percentile(l_extendedprice, 0.99)").as("p990"))
      .collect()
    exact.foreach { r =>
      Seq(500, 950, 990).zipWithIndex.foreach { case (p, i) =>
        val e = est((r.getString(0), p.toLong))
        val x = r.getDouble(i + 1)
        // the estimate is the upper edge of the bin holding the
        // ceil(p·n)-th order statistic; the INTERPOLATED percentile
        // sits within one order-statistic gap of that, so allow two
        // bin widths against it
        assert(e >= x - width - 1e-9 && e - x <= 2 * width + 1e-9,
          s"flag ${r.getString(0)} p$p: est $e exact $x width $width")
      }
    }
  }

  test("stratified sample: seeded, per-stratum fractions, no shuffle") {
    val ev = Tables(spark, sfDir, "events")
    val fr = Map("click" -> 0.5, "purchase" -> 1.0)
    val a = operators.Splits.stratifiedSample(ev, "event_type", fr, 7L)
    val b = operators.Splits.stratifiedSample(ev, "event_type", fr, 7L)
    // deterministic under a fixed seed; unlisted strata dropped
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    assert(a.filter(!col("event_type").isin("click", "purchase"))
      .count() === 0)
    // fraction-1.0 stratum survives whole; 0.5 stratum thins
    val nPurch = ev.filter(col("event_type") === "purchase").count()
    assert(a.filter(col("event_type") === "purchase").count() === nPurch)
    val nClick = ev.filter(col("event_type") === "click").count()
    val got = a.filter(col("event_type") === "click").count()
    assert(got > nClick / 4 && got < 3 * nClick / 4)
    assert(!a.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("as-of join: inclusive at equal ts, null before first, one exchange") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    val facts = Seq((1L, 10L, t(100)), (2L, 10L, t(200)), (3L, 10L, t(50)),
        (4L, 20L, t(100)))
      .toDF("fact_id", "k", "ts")
    val refs = Seq((10L, t(100), "a"), (10L, t(150), "b"), (30L, t(10), "z"))
      .toDF("k", "ts", "snap")
    val out = graft.operators.AsOfJoin.backward(facts, refs,
        keyCols = Seq("k"), tsCol = "ts", payloadCols = Seq("snap"))
      .select("fact_id", "snap").as[(Long, Option[String])].collect().toMap
    assert(out(1L) === Some("a")) // equal ts is visible (ASOF <=)
    assert(out(2L) === Some("b")) // most recent, not first
    assert(out(3L) === None)      // nothing at or before t=50
    assert(out(4L) === None)      // key with no refs at all
    val plan = graft.operators.AsOfJoin.backward(facts, refs,
        Seq("k"), "ts", Seq("snap")).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"nested loop:\n$plan")
  }

  test("binned range join equals the nested-loop reference, no BNLJ") {
    val points = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey").as("pkey"), col("o_totalprice").as("v"))
    val intervals = Tables(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("ikey"),
        (col("o_totalprice") - 5000).as("lo"),
        (col("o_totalprice") + 5000).as("hi"))
    val binned = graft.operators.RangeJoin.pointInInterval(
      points, intervals, "v", "lo", "hi", binWidth = 7000.0)
    val naive = points.join(intervals,
      col("v") >= col("lo") && col("v") <= col("hi"))
    assert(binned.count() === naive.count())
    assert(binned.select("pkey", "ikey")
      .exceptAll(naive.select("pkey", "ikey")).count() === 0)
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"nested loop:\n$plan")
    // degenerate interval (hi < lo) matches nothing, like SQL BETWEEN
    import spark.implicits._
    val deg = graft.operators.RangeJoin.pointInInterval(
      Seq(5.0).toDF("v"), Seq((1L, 10.0, 0.0)).toDF("ikey", "lo", "hi"),
      "v", "lo", "hi", binWidth = 1.0)
    assert(deg.count() === 0)
  }

  test("IVF with full probing equals brute force; partial probe is sane") {
    val emb = Tables(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val brute = operators.Similarity.bruteForceTopK(emb, queries,
      col("vec_id"), col("embedding"), k = 5)
    val ivfFull = operators.Similarity.ivfTopK(emb, queries,
      col("vec_id"), col("embedding"), k = 5, nCentroids = 8, nProbe = 8)
    assert(ivfFull.exceptAll(brute).count() === 0)
    assert(brute.exceptAll(ivfFull).count() === 0)
    val ivfPartial = operators.Similarity.ivfTopK(emb, queries,
      col("vec_id"), col("embedding"), k = 5, nCentroids = 8, nProbe = 2)
    // partial probe returns <= k ranked rows per query from real cells
    assert(ivfPartial.filter(col("rank") > 5).count() === 0)
    assert(ivfPartial.select("q_id").distinct().count() === 3)
  }

  test("IVF partial probing: measured recall@k clears the documented bound") {
    // The approximate-recall contract of probe p < cells (the
    // cosinePairsApprox documented-recall pattern applied to IVF):
    // probing the 2 nearest of 8 cells scans ~1/4 of the corpus per
    // query; recall@5 against brute force over a 20-query panel must
    // clear 0.5 — the scan-fraction/recall trade is a MEASURED
    // property, not an assumption. (Observed 0.65 on this corpus —
    // random embeddings are the WORST case for a coarse quantizer, as
    // near-orthogonal vectors spread true neighbors across cells; the
    // bound is set to catch a collapse to chance level, with headroom
    // for an MLlib quantizer retrain, and sits 4x above the random-
    // baseline expectation of ~nProbe·k/N.)
    val emb = Tables(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val brute = pairs(operators.Similarity.bruteForceTopK(emb, queries,
      col("vec_id"), col("embedding"), k = 5))
    val partial = pairs(operators.Similarity.ivfTopK(emb, queries,
      col("vec_id"), col("embedding"), k = 5, nCentroids = 8, nProbe = 2))
    val recall = (brute intersect partial).size.toDouble / brute.size
    info(f"IVF nProbe=2/8 recall@5 over 20 queries: $recall%.3f")
    assert(recall >= 0.5,
      f"partial-probe recall collapsed: $recall%.3f < 0.5")
  }

  test("date-partitioned writes get partition pruning on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    graft.sources.Sinks.writePartitionedByDate(
      Tables(spark, sfDir, "events"), "ts", dir)
    val read = spark.read.parquet(dir).filter(col("dt") === "2024-01-05")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(dt"),
      s"no partition pruning:\n$plan")
    assert(read.count() > 0)
    // non-matching partitions are not even listed as input files
    assert(read.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains("dt=2024-01-05")))
  }

  test("heavy hitters: exact within capacity, bounded error beyond") {
    val terms = Tables(spark, sfDir, "events").select(col("event_type"))
    // capacity 64 >> 5 distinct types → exact, error 0
    val got = terms
      .agg(graft.plans.HeavyHitters.topItems(col("event_type"), 64, 5).as("t"))
      .select(explode(col("t"))).select("col.*")
      .as[(String, Long, Long)].collect()
    val exact = terms.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(got.map(_._1).toSet === exact.keySet)
    got.foreach { case (term, cnt, err) =>
      assert(cnt === exact(term) && err === 0L, s"inexact in-capacity: $term")
    }
    // approx regime, on a stream skewed enough for the guarantee: the
    // dominant item (60% > n/capacity at capacity 8) must surface, every
    // count is an upper bound tight to within its recorded error, and
    // errors respect the n/capacity bound
    val rnd = new scala.util.Random(7L)
    val skewed = (0 until 20000).map { _ =>
      val r = rnd.nextInt(10)
      if (r < 6) "dominant" else s"tail_${rnd.nextInt(500)}"
    }
    val skewedDs = skewed.toDF("term").repartition(16)
    val trueCounts = skewed.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val approx = skewedDs
      .agg(graft.plans.HeavyHitters.topItems(col("term"), 8, 4).as("t"))
      .select(explode(col("t"))).select("col.*")
      .as[(String, Long, Long)].collect()
    assert(approx.map(_._1).contains("dominant"), s"lost heavy hitter")
    approx.foreach { case (term, cnt, err) =>
      val truth = trueCounts.getOrElse(term, 0L)
      assert(cnt >= truth, s"undercount for $term")
      assert(cnt - err <= truth, s"error bound broken for $term: " +
        s"cnt=$cnt err=$err truth=$truth")
      assert(err <= skewed.size / 8 + 1, s"error above n/capacity for $term")
    }
  }

  test("KMV distinct sketch estimates within its error bound") {
    val li = Tables(spark, sfDir, "lineitem")
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val est = li.select(
      graft.plans.KmvDistinctSketch.distinctSketch(col("l_partkey"), 256)
        .as("est")).head().getLong(0)
    // SE ≈ 1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
    val tol = math.max(8.0, exact * 4.0 / math.sqrt(254.0))
    assert(math.abs(est - exact) <= tol, s"est $est vs exact $exact")
    // below-k cardinalities are exact by construction
    val small = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_linestatus")).as("exact"),
        graft.plans.KmvDistinctSketch.distinctSketch(col("l_linestatus"))
          .as("est"))
    assert(small.filter(col("exact") =!= col("est")).count() === 0)
  }

  test("replayable KMV-32: partition-invariant, exact below k, in bound") {
    val li = Tables(spark, sfDir, "lineitem")
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    def est(df: org.apache.spark.sql.DataFrame) = df.select(
      graft.plans.Kmv32DistinctSketch.distinctSketch32(col("l_partkey"), 64)
        .as("est")).head().getLong(0)
    val e1 = est(li.repartition(3))
    val e32 = est(li.repartition(32))
    // merge is union-and-truncate over a deterministic hash: the
    // estimate cannot depend on partitioning or merge order
    assert(e1 === e32)
    val tol = math.max(8.0, exact * 4.0 / math.sqrt(62.0))
    assert(math.abs(e1 - exact) <= tol, s"est $e1 vs exact $exact")
    // below-k cardinalities are exact (integer-keyed: hash32 is
    // arithmetic-only by design — strings go to the xxhash64 sketch)
    val small = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_linenumber")).as("exact"),
        graft.plans.Kmv32DistinctSketch.distinctSketch32(col("l_linenumber"))
          .as("est"))
    assert(small.filter(col("exact") =!= col("est")).count() === 0)
    // the Column hash and a literal replay of the arithmetic agree
    val probe = spark.range(-5, 100).toDF("x")
    val a = probe.select(graft.functions.PortableHash.hash32(col("x"))
      .as("h")).collect().map(_.getLong(0))
    def jvm(x: Long): Long = {
      val m = graft.functions.PortableHash.Mod
      val mult = graft.functions.PortableHash.Mult
      val h0 = ((x % m) + m) % m
      val h1 = ((h0 ^ (h0 >> 16)) * mult) % m
      val h2 = ((h1 ^ (h1 >> 16)) * mult) % m
      h2 ^ (h2 >> 16)
    }
    assert(a.toSeq === (-5L until 100L).map(jvm))
  }

  test("negative sampler: in range, never the positive, 2 per event") {
    val out = graft.queries.CurationQueries.q120NegativeSample
      .fn(spark, sfDir)
    val n = Tables(spark, sfDir, "part")
      .agg(max(col("p_partkey"))).head().getLong(0)
    assert(out.filter(col("neg") === col("pos")).count() === 0)
    assert(out.filter(col("neg") < 1 || col("neg") > n).count() === 0)
    val perEvent = out.groupBy("event_id").count()
    assert(perEvent.filter(col("count") =!= 2).count() === 0)
  }

  test("count-min: never undercounts, cell mass = 2n, collisions only add") {
    val ev = Tables(spark, sfDir, "events")
    val w = 256
    val cells = operators.FrequencySketch.cmsCells(ev, col("user_id"), w)
    assert(cells.agg(sum("cnt")).head().getLong(0) === 2 * ev.count())
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
    val est = operators.FrequencySketch.cmsEstimates(cells, exact,
      col("user_id"), w)
    val joined = est.join(exact, col("key") === col("user_id"))
    assert(joined.filter(col("est") < col("exact")).count() === 0,
      "count-min must never undercount")
    intercept[IllegalArgumentException] {
      operators.FrequencySketch.cmsCells(ev, col("user_id"), 100)
    }
    // querying ARBITRARY keys is the point of a CMS: keys unseen at
    // build time (and null) must come back est>=0, never vanish. An
    // unseen key may still collide into occupied cells (one-sided
    // error) but a probe into an empty cell must floor at 0.
    val probes = spark.range(1).select(
        explode(array(lit(-1L), lit(-999999L), lit(null).cast("long")))
          .as("uid"))
    val unseen = operators.FrequencySketch.cmsEstimates(cells, probes,
      col("uid"), w).collect()
    assert(unseen.length === 3, "no queried key may disappear")
    assert(unseen.forall(r => !r.isNullAt(1) && r.getLong(1) >= 0L))
  }

  test("CMS join-size: exact when collision-free, 0 when disjoint, ≥ truth") {
    import graft.operators.FrequencySketch
    val w = 1024
    // A: key 1 ×3, key 2 ×2; B: key 1 ×4, key 3 ×5 → true size 3·4 = 12
    val a = (Seq.fill(3)(1L) ++ Seq.fill(2)(2L)).toDF("k")
    val b = (Seq.fill(4)(1L) ++ Seq.fill(5)(3L)).toDF("k")
    val ca = FrequencySketch.cmsCells(a, col("k"), w)
    val cb = FrequencySketch.cmsCells(b, col("k"), w)
    val est = FrequencySketch.cmsJoinSize(ca, cb).as[Long].collect().head
    assert(est === 12L) // 3 keys in 1024 cells: no collisions
    // disjoint key sets → estimate must be exactly 0, not missing
    val cc = FrequencySketch.cmsCells(Seq(99L, 98L).toDF("k"), col("k"), w)
    val dj = FrequencySketch.cmsJoinSize(ca, cc).as[Long].collect().head
    assert(dj === 0L)
    // d=1 cell tables (hand-built): the row seed must come from the
    // INPUTS — a hardcoded d=2 seed would coalesce the absent row to
    // 0 and undercut the min to 0
    val d1a = Seq((0L, 5L, 3L)).toDF("row", "pos", "cnt")
    val d1b = Seq((0L, 5L, 4L)).toDF("row", "pos", "cnt")
    assert(FrequencySketch.cmsJoinSize(d1a, d1b)
      .as[Long].collect().head === 12L)
    // two empty cell tables: estimate 0, never an empty/NULL result
    val empty = d1a.filter(lit(false))
    assert(FrequencySketch.cmsJoinSize(empty, empty)
      .as[Long].collect().head === 0L)
    // real tables: never undercounts
    val ev = Tables(spark, sfDir, "events")
    val or = Tables(spark, sfDir, "orders")
    val got = FrequencySketch.cmsJoinSize(
      FrequencySketch.cmsCells(ev, col("user_id"), w),
      FrequencySketch.cmsCells(or, col("o_custkey"), w))
      .as[Long].collect().head
    val exact = ev.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("na"))
      .join(or.groupBy(col("o_custkey")).agg(count(lit(1)).as("nb")),
        col("user_id") === col("o_custkey"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)))
      .as[Long].collect().head
    assert(got >= exact, s"AMS estimate $got undercuts true size $exact")
  }

  test("plan lint: fires on known hazards, clean on graded plans") {
    import graft.plans.PlanLint
    import org.apache.spark.sql.expressions.Window
    // ranges above PlanLint.LiteralRowsMax: a compile-time-literal
    // relation at or below that bound is CERTIFIED bounded since round
    // 16 (parameter grids, VALUES lookups), so the hazard fixtures
    // must sit above it to exercise the rules
    val a = spark.range(100000).toDF("x")
    val b = spark.range(100000).toDF("y")
    // cross join with no condition: small sides plan as a broadcast
    // nested loop, large ones as a cartesian — both are the hazard
    val cross = a.crossJoin(b)
    assert(PlanLint.findings(cross).exists(f =>
      f._1 == "cartesian_product" || f._1 == "nested_loop_join"))
    val bigCross = spark.range(10000000).toDF("x")
      .crossJoin(spark.range(10000000).toDF("y"))
    assert(PlanLint.findings(bigCross)
      .exists(_._1 == "cartesian_product"))
    // nested loop: non-equi theta join
    val theta = a.join(b, col("x") < col("y"))
    assert(PlanLint.findings(theta).exists(_._1 == "nested_loop_join"))
    // single-partition window: global row_number
    val w = a.withColumn("rn",
      row_number().over(Window.orderBy(col("x"))))
    assert(PlanLint.findings(w)
      .exists(_._1 == "single_partition_window"))
    // root global sort without a bounding limit
    val sorted = a.orderBy(col("x"))
    assert(PlanLint.findings(sorted).exists(_._1 == "global_sort"))
    // a projection/filter above the sort bounds nothing — still flags
    val projected = a.orderBy(col("x"))
      .filter(col("x") > 1).select((col("x") * 2).as("y"))
    assert(PlanLint.findings(projected).exists(_._1 == "global_sort"))
    // ...but a top-k (TakeOrderedAndProject) does NOT flag
    assert(PlanLint.clean(a.orderBy(col("x")).limit(5)))
    // and the graded join/agg plans lint clean
    val q3 = SparkEntry.queries("q03_join_revenue")(spark, sfDir)
    assert(PlanLint.findings(q3).filterNot(_._1 == "global_sort").isEmpty)
  }

  test("plan lint: the round-8 analytics operators carry no scale " +
      "hazards") {
    import graft.plans.PlanLint
    // AUC: the two-phase prefix machinery must never plan a
    // single-partition window or a cartesian; its only nested loops
    // are one-row scalar/offset attaches
    val auc = graft.ml.BinaryMetrics.rankMetrics(
      Tables(spark, sfDir, "orders"), col("o_orderstatus") === "F",
      expr("cast(floor(o_totalprice * 100 + 0.5) as bigint) div 1000"),
      15000L)
    assert(PlanLint.findings(auc).forall(_._1 == "nested_loop_join"))
    // KS: same machinery, same contract
    val ev = Tables(spark, sfDir, "events").filter(col("value").isNotNull)
    val cents = (signum(col("value")) *
      floor(abs(col("value")) * 100 + lit(0.5))).cast("long")
    val ks = graft.operators.Stats.ksDistance(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"), cents)
    assert(PlanLint.findings(ks).forall(_._1 == "nested_loop_join"))
    // BFS hop labeling: joins and anti-joins only — nothing cartesian,
    // no windows at all
    val und = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val bfs = graft.operators.Graph.bfsHops(
      und.union(und.select(col("dst"), col("src"))),
      Seq("a").toDF("node"), 2)
    assert(PlanLint.clean(bfs))
    // decayed counters: ONE one-row reference-date attach and a plain
    // agg — the weight lookup must stay a scan-side array index
    val decay = graft.operators.Decay.decayedCounts(
      Tables(spark, sfDir, "events"), col("event_type"), col("ts"),
      9L, 10L, 30)
    val fs = PlanLint.findings(decay)
    assert(fs.forall(_._1 == "nested_loop_join") && fs.size <= 1,
      s"unexpected hazards: $fs")
    // Markov transitions: the lead window must be sequence-partitioned
    val mk = graft.operators.Markov.transitions(
      Tables(spark, sfDir, "events").filter(col("user_id").isNotNull),
      col("user_id"), Seq(unix_micros(col("ts")), col("event_id")),
      col("event_type"))
    assert(PlanLint.findings(mk)
      .forall(_._1 == "nested_loop_join")) // the one-row V attach
  }

  test("incremental join view: delta algebra equals full recompute") {
    import graft.operators.IncrementalJoin
    val ev = Tables(spark, sfDir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"))
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val (dA, oA) = (ev.filter(col("event_id") % 10 === 0),
      ev.filter(col("event_id") % 10 =!= 0))
    val (dB, oB) = (cust.filter(col("user_id") % 7 === 0),
      cust.filter(col("user_id") % 7 =!= 0))
    val maintained = IncrementalJoin.mergeDelta(
      oA.join(oB, Seq("user_id")), oA, dA, oB, dB, "user_id")
    val recompute = ev.join(cust, Seq("user_id"))
    // exact set equality row-for-row: no pair lost, none double-counted
    assert(maintained.count() === recompute.count())
    assert(maintained.exceptAll(recompute).count() === 0)
    assert(recompute.exceptAll(maintained).count() === 0)
    // the history-side term joins a tiny delta: must broadcast, so
    // history streams through its scan without a join shuffle
    val plan = oA.join(dB, Seq("user_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"A ⋈ ΔB should broadcast the delta:\n$plan")
  }

  test("expectations: null predicates count as violations, exact ppm") {
    import graft.operators.Expectations
    val df = Seq(
      (Option(5.0), "A"), (Option(60.0), "A"),
      (Option.empty[Double], "X"), (Option(10.0), null.asInstanceOf[String]))
      .toDF("q", "f")
    val out = Expectations.validate(df, Seq(
        "f_domain" -> col("f").isin("A", "N", "R"),
        "q_range" -> col("q").between(1, 50)))
      .orderBy("check_name").collect()
    // f_domain: "X" + null f; q_range: 60 + null q — nulls are
    // violations, never silent passes
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq === Seq(
      ("f_domain", 4L, 2L, 500000L, 0L),
      ("q_range", 4L, 2L, 500000L, 0L)))
    // all-pass check reports passed=1, 0 ppm
    val ok = Expectations.validate(df, Seq("n" -> lit(true)))
      .collect().head
    assert((ok.getLong(2), ok.getLong(3), ok.getLong(4)) === ((0L, 0L, 1L)))
  }

  test("bloom pre-filter: no false negatives, honest FP accounting") {
    val li = Tables(spark, sfDir, "lineitem")
    val dim = Tables(spark, sfDir, "supplier")
      .filter(col("s_nationkey") === 3)
    val passed = operators.RuntimeFilter.bloomFilterFact(
      li, col("l_suppkey"), dim, col("s_suppkey"))
    // every true joiner survives the bloom
    val joiners = li.join(broadcast(dim),
      col("l_suppkey") === col("s_suppkey"), "left_semi")
    assert(joiners.exceptAll(passed.select(joiners.columns.map(col): _*))
      .count() === 0)
    // a deliberately tiny filter (64 bits) against ~150 distinct
    // customer keys must produce false positives, and the census must
    // count them rather than hide them
    val ords = Tables(spark, sfDir, "orders")
    val cust = Tables(spark, sfDir, "customer")
      .filter(pmod(col("c_custkey"), lit(10)) === 3)
    val st = operators.RuntimeFilter.bloomJoinStats(
      ords, col("o_custkey"), cust, col("c_custkey"), mBits = 64).head()
    assert(st.getLong(0) === ords.count())
    assert(st.getLong(1) >= st.getLong(2)) // pass >= match always
    assert(st.getLong(3) > 0L, "64-bit bloom should collide here")
    intercept[IllegalArgumentException] {
      operators.RuntimeFilter.bloomJoinStats(li, col("l_suppkey"),
        dim, col("s_suppkey"), mBits = 100)
    }
  }

  test("sessions respect the idle gap") {
    val sessions = Sessionize.run(spark, sfDir, gapSeconds = 1800)
      .select("user_id", "session_start", "session_end")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1)
    sessions.values.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, end1), (_, start2, _)) =>
          assert(start2 - end1 > 1800,
            s"adjacent sessions closer than the gap: $end1 -> $start2")
        case _ =>
      }
    }
  }

  test("snapshot diff plans a full-outer equi-join, never a nested loop") {
    import graft.operators.SnapshotDiff
    val orders = Tables(spark, sfDir, "orders")
    val out = SnapshotDiff.diff(
      orders.filter(pmod(col("o_orderkey"), lit(10)) =!= 3),
      orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 2),
      "o_orderkey", Seq("o_totalprice", "o_orderstatus"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), s"expected a full-outer join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"diff must be an equi-join on the key:\n$plan")
  }

  test("sequence packing never plans a single-partition exchange") {
    val docs = Tables(spark, sfDir, "documents")
    val out = Scale.packSequences(docs, col("doc_id"),
      size(split(col("text"), " ")), seqLen = 256)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"the running sum must stay two-phase:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"prefix offsets should come back via broadcast:\n$plan")
  }

  test("HLL registers: codegen'd hash agg with map-side partial, no UDAF") {
    import graft.operators.HyperLogLog
    val ev = Tables(spark, sfDir, "events")
    val regs = HyperLogLog.registers(ev, col("event_type"), col("user_id"))
    val plan = regs.queryExecution.executedPlan.toString
    // declarative two-phase build: partial + final HashAggregate —
    // each map task collapses to ≤ 64 rows per group pre-shuffle
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final hash aggregates:\n$plan")
    // no UDAF: ObjectHashAggregate/SortAggregate would mean the sketch
    // fell out of whole-stage codegen (the KMV Aggregator's cost —
    // HLL's entire point is staying declarative)
    assert(!plan.contains("ObjectHashAggregate"), s"UDAF in plan:\n$plan")
    assert(!plan.contains("SortAggregate"), s"sort agg in plan:\n$plan")
    assert(plan.contains("partial_max"), s"no map-side combine:\n$plan")
    // exactly one shuffle: the (g, reg) exchange; estimates add the
    // second group-level exchange and nothing else
    val ex = "Exchange".r.findAllIn(plan).size
    assert(ex === 1, s"register build must shuffle exactly once:\n$plan")
    // the scan reads only the two columns the sketch needs and the
    // null filter reaches parquet
    assert(plan.contains("PushedFilters: [IsNotNull(user_id)]"),
      s"null filter must push to the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<user_id:bigint,event_type:string>"),
      s"scan must prune to the sketch's two columns:\n$plan")
  }

  test("bigram novelty: partial aggregation below the frequency shuffle") {
    import graft.operators.CorpusStats
    val docs = Tables(spark, sfDir, "documents")
    val out = CorpusStats.bigramNovelty(docs, col("doc_id"), col("text"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"novelty join shape:\n$plan")
    // The occurrence-sized frequency join must be hash-based; the only
    // nested-loop allowed is the one-row scalar N attach, which sits
    // above the per-doc aggregate on doc-cardinality rows.
    assert(plan.contains("BroadcastHashJoin"), s"novelty join shape:\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"only the scalar N attach may nest-loop:\n$plan")
    // map-side combine: a partial HashAggregate must sit below the
    // bigram Exchange (two HashAggregates per agg is Spark's partial/
    // final split; the plan has two aggs -> at least 4)
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 4, s"expected partial+final aggregates:\n$plan")
  }
}
