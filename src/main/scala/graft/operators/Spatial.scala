package graft.operators

import graft.operators.Checkpoints.TruncateOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial self-join: all point pairs within Euclidean radius r —
  * store-vs-store proximity, user co-location, near-duplicate
  * coordinates. The naive form is the |points|² distance matrix; the
  * scalable form is GRID BLOCKING, the planar cousin of the LSH-band
  * join: tile the plane into r×r cells, and any pair within r lies
  * in the same or an adjacent cell (|Δcell| ≤ 1 per axis — the
  * pigeonhole is exact, so blocking is LOSSLESS); candidates come
  * from an equi-join of each point's 3×3 neighborhood against cell
  * keys, and the exact integer distance check keeps only true pairs.
  *
  * All arithmetic integer: coordinates are longs (scale upstream),
  * cells by floor division (engine-exact via x − pmod(x, r)), the
  * verify squared distance — no floating point anywhere, so the
  * result replays bit-for-bit in any engine.
  *
  * Scale shape: one explode ×9 (a constant), one equi-join keyed on
  * the cell, one codegen'd filter. Per-task work is bounded by cell
  * POPULATION products — the skew knob is cell density (a uniform
  * grid over a hotspot city block concentrates; shrink r or salt the
  * hot cells, the q58 pattern). Each qualifying pair emerges exactly
  * once: one offset matches per ordered pair, and id_a < id_b keeps
  * one orientation.
  */
object Spatial {

  /** Pair volume above which [[dbscan]] contracts its CC input (see
    * the adaptive note in the method body). Overridable per session via
    * [[ContractionThresholdKey]] — primarily so a spec can force the
    * contraction path on tiny data and pin both paths identical.
    */
  private[operators] val ContractionThreshold = 2000000L

  private[graft] val ContractionThresholdKey =
    "spark.graft.dbscan.contractionThreshold"

  private def contractionThreshold(df: DataFrame): Long =
    df.sparkSession.conf
      .get(ContractionThresholdKey, ContractionThreshold.toString).toLong

  def radiusPairs(df: DataFrame, id: Column, x: Column, y: Column,
      r: Long): DataFrame =
    radiusPairsFull(df, id, x, y, r)
      .select(col("id_a"), col("id_b"), col("dist2"))

  /** [[radiusPairs]] plus both endpoints' coordinates — what
    * [[dbscan]] consumes so its edge contraction never re-joins the
    * point table. Same join, same verify; only the projection is
    * wider.
    *
    * The cell equi-join is an EXPLOSIVE join: its shuffled inputs are
    * tiny (N×9 probe rows) but the post-join candidate volume is the
    * real work (Σ_cell 9·n²). AQE sizes reducers by shuffled BYTES, so
    * left alone it coalesces this stage down to a couple of tasks and
    * the distance verify runs nearly serial — measured 42 s of q207's
    * 85 s at sf1 on 32 cores. Past the [[Explosive]] blocker gate both
    * sides are therefore repartitioned by cell with an EXPLICIT
    * partition count (user-specified numbered repartitions are exempt
    * from AQE coalescing), which the join reuses as its exchanges:
    * full verify parallelism, no extra shuffle. Below the gate the
    * join is left to AQE/broadcast — the small-input regime where the
    * pin's dead exchanges cost more than starvation ever could (the
    * round-10 sf0.1 scale regression).
    */
  private[graft] def radiusPairsFull(df: DataFrame, id: Column,
      x: Column, y: Column, r: Long): DataFrame = {
    require(r >= 1, s"r must be >= 1, got $r")
    val pts = df.select(id.as("pid"), x.cast("long").as("px"),
        y.cast("long").as("py"))
      .filter(col("px").isNotNull && col("py").isNotNull)
    // ADAPTIVE pin (round 11): unconditional pinning recovered 42 s at
    // sf1 but cost ~1 s at sf0.1, where the un-pinned join broadcasts
    // or AQE-coalesces fine — so pin only past the blocker gate
    // (probe rows = 9 × points). The input count is one cheap action
    // over the projected points, cached per logical plan.
    val pin = Explosive.pinGate(df, "spatial-pts",
        pts.queryExecution.analyzed.semanticHash(), 9)(pts.count())
    def cellOf(c: Column) = (c - pmod(c, lit(r))) / r
    val cells = pts
      .withColumn("cx", cellOf(col("px")).cast("long"))
      .withColumn("cy", cellOf(col("py")).cast("long"))
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probes = cells.select(col("pid").as("id_a"),
        col("px").as("xa"), col("py").as("ya"),
        explode(offsets).as("o"),
        col("cx"), col("cy"))
      .select(col("id_a"), col("xa"), col("ya"),
        (col("cx") + col("o.dx")).as("cx"),
        (col("cy") + col("o.dy")).as("cy"))
    val cand = Explosive.blockerJoin(probes,
        cells.select(col("pid").as("id_b"), col("px").as("xb"),
          col("py").as("yb"), col("cx"), col("cy")),
        Seq("cx", "cy"), pin)
      .filter(col("id_a") < col("id_b"))
    cand.select(col("id_a"), col("id_b"),
        col("xa"), col("ya"), col("xb"), col("yb"),
        ((col("xa") - col("xb")) * (col("xa") - col("xb"))
          + (col("ya") - col("yb")) * (col("ya") - col("yb")))
          .as("dist2"))
      .filter(col("dist2") <= r * r)
  }

  /** DBSCAN density clustering, deterministic form — composed
    * entirely from graded primitives: ε-neighborhoods from
    * [[radiusPairs]] (lossless grid blocking), cluster formation
    * from [[Components.connectedComponents]] (alternating-star) over
    * the core-core graph. Roles follow the classic definition with
    * the point counting itself in its own neighborhood:
    *
    *  - `core`: |neighborhood| ≥ minPts → cluster = its component
    *    (labelled by the component's minimum core id);
    *  - `border`: non-core with ≥ 1 core neighbor → cluster = the
    *    MINIMUM cluster label among its core neighbors (textbook
    *    DBSCAN leaves multi-reachable borders order-dependent; the
    *    min rule makes the assignment a pure function of the point
    *    set — what lets an oracle replay it at all);
    *  - `noise`: everything else, cluster null.
    *
    * Scale shape: radiusPairs' cell-bounded join, one combining
    * neighbor count, the CC loop's node-keyed star rounds, one
    * min-aggregate for borders. Nothing quadratic, nothing ordered.
    */
  def dbscan(df: DataFrame, id: Column, x: Column, y: Column,
      r: Long, minPts: Long): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val pts = df.select(id.as("pid"), x.cast("long").as("px"),
      y.cast("long").as("py"))
    // the contraction grid (see below) — computed up front because the
    // pair checkpoint carries each endpoint's s2-cell instead of its
    // raw coordinates: the cells are free to derive while the coords
    // are already in flight inside the pair join, they are all the
    // contraction ever reads, and dropping (xa,ya,xb,yb,dist2) for
    // (qxa,qya,qxb,qyb) shrinks the one pair-sized checkpoint this
    // operator writes (21.6 M rows at sf1) by a seventh. Carrying them
    // in the checkpoint — rather than re-attaching via a join against
    // the point table — is the scale-honest choice: at 100 TB the
    // point table is not broadcastable.
    val s2 = { var s = 1L; while (2L * s * s <= r * r) s += 1; s }
    def cellCol(c: Column) = ((c - pmod(c, lit(s2))) / s2).cast("long")
    // pair count observed during the checkpoint's own job (no extra
    // action) — it picks the CC-input strategy below
    val pairsObs = org.apache.spark.sql.Observation()
    val pairsC = radiusPairsFull(pts, col("pid"), col("px"), col("py"), r)
      .select(col("id_a"), col("id_b"),
        cellCol(col("xa")).as("qxa"), cellCol(col("ya")).as("qya"),
        cellCol(col("xb")).as("qxb"), cellCol(col("yb")).as("qyb"))
      .observe(pairsObs, count(lit(1)).as("n"))
      .truncated // read three times below
    val nPairs = pairsObs.get("n").asInstanceOf[Long]
    val pairs = pairsC.select(col("id_a"), col("id_b"))
    val sym = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
    val nbCount = sym.groupBy(col("a").as("pid"))
      .agg(count(lit(1)).as("nb"))
    // point/core counts observed on the roles checkpoint (no extra
    // action). ALL-CORE SHORTCUT (round 14, from the sf1 phase
    // profile): dense inputs — the common regime for DBSCAN at scale,
    // and all 150 k sf1 points — make every point core, and then every
    // core-restricting semi-join below is the identity (a semi-join
    // against the full key set keeps every row, null-coordinate points
    // included since they never reach the pair set at all). Skipping
    // them removes two passes over the pair-sized checkpoint, measured
    // ~2 s of q207's 15 s at sf1. Equality of OBSERVED counts is what
    // gates it, so the decision is exact, not heuristic; under the
    // reliable-checkpoint knob both counts double together (same
    // action), so the comparison stays valid — the scale-invariance
    // rule in [[Checkpoints]]'s caveats.
    val rolesObs = org.apache.spark.sql.Observation()
    val roles = pts.join(nbCount, Seq("pid"), "left")
      .select(col("pid"),
        (coalesce(col("nb"), lit(0L)) + 1 >= minPts).as("is_core"))
      .observe(rolesObs, count(lit(1)).as("n"),
        sum(when(col("is_core"), 1L).otherwise(0L)).as("nc"))
      .truncated
    val nPts = rolesObs.get("n").asInstanceOf[Long]
    val nCore = Option(rolesObs.get("nc"))
      .fold(0L)(_.asInstanceOf[Number].longValue)
    val allCore = nPts > 0 && nCore == nPts
    val core = roles.filter(col("is_core")).select(col("pid"))

    // -- CC edge CONTRACTION (lossless) -------------------------------
    // A second grid with side s2 = max{s : 2·(s−1)² ≤ r²} guarantees
    // any two integer points in the same s2-cell are within r. So on
    // the core-core graph, (a) all cores sharing an s2-cell are
    // mutually adjacent — a star to the cell's minimum core id spans
    // them; (b) for cores in different cells, ONE verified
    // representative edge per ordered cell pair preserves exactly the
    // cell-pair connectivity every individual edge provided (its
    // endpoints reach their cellmates through the stars). Components —
    // and their min-id labels — are therefore IDENTICAL to running CC
    // on all core-core pairs, but the CC input shrinks from O(Σ n²)
    // verified pairs to O(#core + #adjacent cell pairs): measured
    // 21.6 M → ~0.2 M edges at sf1, turning the CC loop from the
    // dominant cost into noise. Every emitted edge is a real pair
    // (stars connect same-cell cores, which are within r by the s2
    // bound), so this is a spanning-subgraph selection, not an
    // approximation.
    //
    // ADAPTIVE: below ContractionThreshold pairs the contraction's
    // fixed stages (two semi-joins, two group-bys) cost more than they
    // save — measured +0.9 s at sf0.1's 0.2 M pairs vs −62 s at sf1's
    // 21.6 M — so the small-volume path feeds the verified pairs to CC
    // directly. The pair count is free (observed during the pairs
    // checkpoint), making this the same shape as an AQE decision:
    // plan from observed runtime statistics, identical results either
    // way.
    val coreEdges = if (nPairs < contractionThreshold(df)) {
      val symCore =
        if (allCore) sym
        else sym
          .join(core.select(col("pid").as("a")), Seq("a"), "left_semi")
          .join(core.select(col("pid").as("b")), Seq("b"), "left_semi")
      symCore.select(col("a").as("src"), col("b").as("dst"))
    } else {
      val corePairs =
        if (allCore) pairsC
        else pairsC
          .join(core.select(col("pid").as("id_a")), Seq("id_a"), "left_semi")
          .join(core.select(col("pid").as("id_b")), Seq("id_b"), "left_semi")
      val cross = corePairs
        .filter(col("qxa") =!= col("qxb") || col("qya") =!= col("qyb"))
        .groupBy(col("qxa"), col("qya"), col("qxb"), col("qyb"))
        .agg(min(struct(col("id_a"), col("id_b"))).as("e"))
        .select(col("e.id_a").as("src"), col("e.id_b").as("dst"))
      // null-coordinate points can still be core under minPts == 1
      // (nb coalesces to 0, 0+1 >= 1) but never join any pair —
      // radiusPairsFull filters them. Mirror that filter here or they
      // all land in the null s2-cell and the star fuses them into one
      // bogus cluster; excluded, they stay isolated CC nodes →
      // singleton clusters, exactly what the small-pairs path yields.
      // (The allCore shortcut is sound here for the same reason: a
      // semi-join against the full core set keeps exactly these
      // non-null rows.)
      val ptsCells = pts
        .filter(col("px").isNotNull && col("py").isNotNull)
        .select(col("pid"), cellCol(col("px")).as("qx"),
          cellCol(col("py")).as("qy"))
      val coreCells =
        if (allCore) ptsCells
        else ptsCells.join(core, Seq("pid"), "left_semi")
      val stars = coreCells
        .join(coreCells.groupBy(col("qx"), col("qy"))
          .agg(min(col("pid")).as("rep")), Seq("qx", "qy"))
        .filter(col("pid") =!= col("rep"))
        .select(col("pid").as("src"), col("rep").as("dst"))
      stars.unionByName(cross)
    }
    val clusters = Components.connectedComponents(coreEdges,
        Some(core.select(col("pid").as("node"))))
      .select(col("node").as("pid"), col("component").as("cluster"))
    // border resolution only matters for NON-core points — the
    // when(is_core) branch below shadows every border row computed for
    // a core point, so restricting the min-aggregate's probe side to
    // non-core points halves its input in mixed corpora and empties it
    // outright in the all-core regime (AQE propagates the empty
    // relation through the joins). Same output by construction.
    val borderCluster = sym
      .join(roles.filter(!col("is_core")).select(col("pid").as("a")),
        Seq("a"), "left_semi")
      .join(core.select(col("pid").as("b")), Seq("b"), "left_semi")
      .join(clusters.select(col("pid").as("b"),
        col("cluster")), Seq("b"))
      .groupBy(col("a").as("pid"))
      .agg(min(col("cluster")).as("b_cluster"))
    roles
      .join(clusters, Seq("pid"), "left")
      .join(borderCluster, Seq("pid"), "left")
      .select(col("pid"),
        when(col("is_core"), lit("core"))
          .when(col("b_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("is_core"), col("cluster"))
          .otherwise(col("b_cluster")).as("cluster"))
  }
}
