package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are forced through the `noop` sink so the
  * full plan executes (a bare .count() would let Catalyst prune the
  * projection away).
  *
  * Trust hardening (round 4):
  *  - the JSON line is also written to SPARK_GRAFT_BENCH_OUT
  *    (default `BENCH.json` in the working dir), so consumers never have
  *    to fish it out of sbt log noise;
  *  - /proc/loadavg is stamped before and after the run, so a
  *    machine-load-contaminated result is visible in the artifact itself
  *    (the r3 "regressions" were exactly this);
  *  - load GATE (round 8): if the 1-min load exceeds
  *    SPARK_GRAFT_LOAD_MAX (default 2.0 — this is a 32-core box, so 2
  *    means another multi-core job is active) the run sleep-retries up
  *    to 10×30 s for the machine to go idle; if it never clears, the
  *    artifact records `"valid":false` — the numbers are then a load
  *    measurement, not a bench, and say so machine-readably (the r6/r7
  *    artifacts were both contaminated and only a human rerun could
  *    tell);
  *  - a log4j2 appender counts logged CompileExceptions (a failed Janino
  *    compile means a codegen'd operator silently fell back to
  *    interpreted execution) and the run EXITS NONZERO if any occurred —
  *    a bench of the fallback path is not a bench of the shipped code;
  *  - ALL-CORES contamination gate (round 12): the r10 and r11 driver
  *    artifacts both passed the loadavg gate AND the single-thread
  *    calibration drift check while running 33-76% slow — a contender
  *    job leaves one core free, so single-thread yardsticks read clean
  *    while 32-thread queries starve. [[BenchGates.cpuCalibParMs]]
  *    measures the max-of-32-concurrent-spins wall before and after
  *    the run; a parallel/single ratio above
  *    [[BenchGates.ParRatioMax]] marks the artifact `"valid":false`;
  *  - RETRY-UNTIL-CLEAN (round 13): the r12 driver artifact shipped
  *    `"valid":false` — the gate WORKED (a contender was stealing
  *    cores) but the canonical trend file a reader grabs first was a
  *    flagged load measurement. The whole timed run now sleep-retries
  *    (bounded, SPARK_GRAFT_BENCH_ATTEMPTS, default 3) until the
  *    artifact ends valid, the same way the startup gate already
  *    sleep-retries on loadavg; only if every attempt is contaminated
  *    does the LAST attempt's flagged artifact ship.
  */
object Bench {

  /** One timed section: its queries, and the tag its JSON keys carry.
    * The first section of a run is the headline: its total is the
    * artifact's `value` and its rows are `queries`; a later section's
    * are `<tag>_total` and `<tag>_queries`. Every section also stamps
    * `par_ratio_<tag>` and `steal_pct_<tag>`.
    */
  case class Section(tag: String, queries: Seq[QueryDef])

  /** One published row: min seconds over the burst-free runs, the
    * steal that run carried, and how many runs the row took.
    */
  private case class Row(name: String, sec: Double, stealPct: Double,
      runs: Int)

  /** A timed section: its pre-section all-cores ratio, its rows and
    * the steal over its timed window.
    */
  private case class Timed(section: Section, parRatio: Double,
      rows: Seq[Row], stealPct: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    run(sfDir, Seq(Section("headline", SparkEntry.headline),
      // the 100 TB scale families — APSS, stored-index near-dedup,
      // BPE training, PageRank, DBSCAN, HLL
      Section("scale", SparkEntry.scaleBench)), "headline_total", outPath)
  }

  /** The gated measurement every bench main shares: times `sections`
    * over `sfDir` inside [[BenchGates.retryUntilValid]], prints the
    * chosen attempt's JSON line (`{"metric":<metric>,...}`), writes it
    * to `outPath` too, and exits nonzero if any codegen'd stage fell
    * back to interpreted execution.
    */
  def run(sfDir: String, sections: Seq[Section], metric: String,
      outPath: String): Unit = {
    import BenchGates._
    require(new java.io.File(sfDir).isDirectory,
      s"$sfDir missing — sf1: python3 tools/gen_sf1.py <sf0.1 dir> $sfDir")
    val counter = graft.plans.CodegenWatch.install()
    val json = Sessions.run() { spark =>
      def runOnce(d: QueryDef): Double = {
        val t0 = System.nanoTime()
        try d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${d.name} failed: $e"); return -1.0 }
        (System.nanoTime() - t0) / 1e9
      }

      // PER-ROW steal with burst retries (round 17): a single-row steal
      // burst inside an otherwise clean attempt once shipped a row 40%
      // high with nothing in the artifact to adjudicate it. Each row is
      // the min over up to 3 burst-free runs (a run at >=
      // StealGateMaxPct steal is a load measurement and is re-run;
      // bounded at 5 runs), stamped with the published run's steal.
      // When every run burst, the min over all ships, honestly stamped.
      def timeRow(d: QueryDef): Row = {
        def burstFree(r: (Double, Double)) = r._2 < 0 || r._2 < StealGateMaxPct
        var runs = List.empty[(Double, Double)]
        def clean = runs.count(r => r._1 >= 0 && burstFree(r))
        while (runs.length < 5 && clean < 3 && !runs.exists(_._1 < 0))
          runs ::= withSteal(runOnce(d))
        if (runs.exists(_._1 < 0)) Row(d.name, -1.0, -1.0, runs.length)
        else {
          val pool = runs.filter(burstFree)
          val best = (if (pool.nonEmpty) pool else runs).minBy(_._1)
          Row(d.name, best._1, best._2, runs.length)
        }
      }

      // one full gated measurement: idle gate, before-calibrations, the
      // timed sections, after-calibrations → (artifact JSON, rank).
      def attempt(attemptNo: Int): (String, Int) = {
        val gate = waitForIdle()
        val loadBefore = loadavg()
        // per-attempt codegen-fallback count: the watcher is
        // JVM-cumulative, so a clean retry must not inherit a discarded
        // attempt's fallbacks (the process-exit gate stays cumulative)
        val ceStart = counter.count.get()
        val attemptT0 = System.nanoTime()
        val attemptSt0 = stealTicks()
        val calibMs = cpuCalibMs()
        val parMs = cpuCalibParMs()
        // barrier-shaped probe (see barrierCalibMs), with the steal it
        // ran under: "the hypervisor took N% of the box during the
        // probe" adjudicates an out-of-band reading directly
        val (barrierMs, barrierStealPct) = withSteal(barrierCalibMs(spark))
        // per section: warm-up pass (JIT, codegen, parquet footers,
        // one-time fixtures land outside the timed region), then the
        // all-cores ratio re-probed immediately before the timed rows
        // (round 18: an in-guest contender invisible to steal once
        // started a section contended minutes after the startup gate
        // cleared), then the rows inside their own steal window
        val timed = sections.map { s =>
          // warm-up laps go to stderr, so a timed row can be read
          // against its own lap
          s.queries.foreach { d =>
            System.err.println(f"[bench] warm-up ${d.name} ${runOnce(d)}%.3f s")
          }
          val par = parRatioNow()
          val (rows, steal) = withSteal(s.queries.map(timeRow))
          Timed(s, par, rows, steal)
        }
        val compileExceptions = counter.count.get() - ceStart
        // mid-run contamination checks: >15% single-thread drift means
        // the host changed speed mid-bench (round 11); the all-cores
        // parallel/single ratio, before and after, sees a contender that
        // leaves one core free (round 12)
        val calibAfterMs = cpuCalibMs()
        val parAfterMs = cpuCalibParMs()
        val barrierAfterMs = barrierCalibMs(spark)
        val calibDrift =
          math.abs(calibAfterMs - calibMs).toDouble / calibMs.toDouble
        val parRatio = parMs.toDouble / calibMs.toDouble
        val parRatioAfter = parAfterMs.toDouble / calibAfterMs.toDouble
        // a section that started contended is a load measurement even
        // when the attempt's endpoint probes read clean
        val sectionsClean = timed.forall(_.parRatio <= ParRatioMax)
        val parClean = parRatio <= ParRatioMax &&
          parRatioAfter <= ParRatioMax && sectionsClean
        val validFinal = gate.valid && calibDrift <= 0.15 && parClean
        // barrier-state comparability, NOT folded into `valid`: an
        // elevated barrier means cross-day deltas are host noise while
        // the measurement is still internally clean. Pre-run reading
        // only (the post-bench JVM carries GC/cached-block state that
        // reads slow without being host state); the after value is
        // information. The anchor breathes ±25% at near-zero steal, so
        // out-of-band has a direction: "slow" fakes regressions, "fast"
        // fakes improvements (value_per_barrier normalizes either).
        val barrierRatio = barrierMs.toDouble / RefBarrierMs
        val iterComparable = math.abs(barrierRatio - 1.0) <= 0.15
        val barrierState =
          if (iterComparable) "band"
          else if (barrierRatio < 1.0) "fast" else "slow"
        val fastHostClean = validFinal && barrierState == "fast" &&
          barrierStealPct >= 0 && barrierStealPct < StealGateMaxPct
        if (!sectionsClean) System.err.println(
          "[bench] WARN: pre-section all-cores ratio " +
            timed.map(t => f"${t.section.tag}=${t.parRatio}%.2f").mkString(" ") +
            f" exceeds $ParRatioMax%.2f — a section started contended; " +
            "artifact carries \"valid\":false")
        if (!iterComparable) System.err.println(
          f"[bench] NOTE: barrier calibration $barrierMs/$barrierAfterMs ms " +
            f"vs idle reference ${RefBarrierMs}%.0f ms ($barrierState host) — " +
            "trend deltas are not cross-day comparable this run except " +
            "via value_per_barrier")
        if (!parClean) System.err.println(
          f"[bench] WARN: all-cores calibration ratio $parRatio%.2f/" +
            f"$parRatioAfter%.2f exceeds $ParRatioMax%.2f — another " +
            "multi-core job is stealing cores; artifact carries \"valid\":false")
        else if (!validFinal && gate.valid) System.err.println(
          f"[bench] WARN: calibration drifted $calibDrift%.2f mid-run " +
            s"($calibMs -> $calibAfterMs ms) — artifact carries \"valid\":false")
        val attemptStealPct = stealPct(stealTicks() - attemptSt0,
          (System.nanoTime() - attemptT0) / 1000000L)

        // calib-normalized totals: seconds this run WOULD have taken on
        // the round-8 reference host (cpu_calib_ms = 284), so
        // cross-round comparison is a field read
        val refCalibMs = 284.0
        def obj(rows: Seq[Row], f: Row => String): String =
          rows.map(r => "\"" + r.name + "\":" + f(r)).mkString("{", ",", "}")
        def str(v: String): String = "\"" + v + "\""
        def f3(v: Double): String = f"$v%.3f"
        def f2(v: Double): String = f"$v%.2f"
        val sectionFields = timed.zipWithIndex.flatMap {
          case (Timed(s, par, rows, steal), i) =>
            val (total, queries) =
              if (i == 0) ("value", "queries")
              else (s"${s.tag}_total", s"${s.tag}_queries")
            val sum = rows.map(_.sec).filter(_ >= 0).sum
            Seq(total -> f3(sum),
              queries -> obj(rows, r => f3(r.sec)),
              s"${queries}_steal_pct" -> obj(rows, r => f2(r.stealPct)),
              s"${queries}_runs" -> obj(rows, _.runs.toString),
              s"${total}_per_calib" -> f3(sum / (calibMs / refCalibMs)),
              s"${total}_per_barrier" -> f3(sum / barrierRatio),
              s"par_ratio_${s.tag}" -> f3(par),
              s"steal_pct_${s.tag}" -> f2(steal))
        }
        val fields = Seq("metric" -> str(metric)) ++ sectionFields ++ Seq(
          "unit" -> str("sec"),
          "valid" -> validFinal.toString,
          "ref_calib_ms" -> "284",
          "sf" -> str(sfDir),
          "loadavg_before" -> str(loadBefore),
          "loadavg_after" -> str(loadavg()),
          "load_gate" -> str(gate.loadGate),
          "steal_pct_gate" -> f2(gate.gateStealPct),
          "loadavg_gate_residual" -> f2(gate.residualLoad),
          "cpu_calib_ms" -> calibMs.toString,
          "cpu_calib_after_ms" -> calibAfterMs.toString,
          "cpu_calib_par_ms" -> parMs.toString,
          "cpu_calib_par_after_ms" -> parAfterMs.toString,
          "par_ratio" -> f3(parRatio),
          "par_ratio_after" -> f3(parRatioAfter),
          "par_ratio_max" -> f2(ParRatioMax),
          "barrier_calib_ms" -> barrierMs.toString,
          "barrier_calib_after_ms" -> barrierAfterMs.toString,
          "ref_barrier_ms" -> f"$RefBarrierMs%.0f",
          "barrier_ratio" -> f3(barrierRatio),
          "steal_pct_barrier" -> f2(barrierStealPct),
          "steal_pct_attempt" -> f2(attemptStealPct),
          // each section's flag reads its own pre-section par probe on
          // top of the shared barrier probe: the headline flag the
          // first section's, the iterative flag the last section's
          "headline_comparable" ->
            (iterComparable && timed.head.parRatio <= ParRatioMax).toString,
          "iterative_comparable" ->
            (iterComparable && timed.last.parRatio <= ParRatioMax).toString,
          "barrier_state" -> str(barrierState),
          "attempt" -> attemptNo.toString,
          "compile_exceptions" -> compileExceptions.toString)
        (fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}"),
          if (validFinal && iterComparable) RankClean
          else if (fastHostClean) RankFastHost
          else RankDirty)
      }

      retryUntilValid("bench")(attempt)
    }
    println(json)
    // the printed line is the source of truth; an unwritable out path
    // must not turn a successful run into a nonzero exit
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] WARN: could not write $outPath: $e") }
    val compileExceptions = counter.count.get()
    if (compileExceptions > 0) {
      System.err.println(s"[bench] FAILING: $compileExceptions CompileException(s) logged — a codegen'd stage fell back to interpreted execution")
      sys.exit(1)
    }
  }
}

/** Idle-reference re-anchoring main (round 16): prints the barrier
  * probe reading from a fresh JVM in the exact session shape Bench and
  * BenchSf1 use, plus the single-thread and all-cores spins — run this
  * on a VERIFIED-IDLE host (loadavg < 0.5, no contenders) to re-stamp
  * [[BenchGates.RefBarrierMs]] when the flag starts firing on every
  * run (the r15 failure mode: every measurement read 1.14–1.36 against
  * a stale 4700 ms anchor, so the flag stopped informing). One JSON
  * line: {"barrier_ms":…,"calib_ms":…,"par_ratio":…,"loadavg":"…"}.
  */
object BarrierAnchor {
  def main(args: Array[String]): Unit = Sessions.run() { spark =>
    import BenchGates._
    val calib = cpuCalibMs()
    val par = cpuCalibParMs()
    val (barrier, stl) = withSteal(barrierCalibMs(spark))
    println(f"""{"barrier_ms":$barrier,"calib_ms":$calib,"par_ratio":${par.toDouble / calib}%.3f,"steal_pct_barrier":$stl%.2f,"ref_barrier_ms":${RefBarrierMs}%.0f,"loadavg":"${loadavg()}"}""")
  }
}

/** The trust gates every bench artifact shares (Bench, BenchSf1):
  * idle gate, loadavg stamps, and the deterministic CPU calibration.
  */
object BenchGates {

  /** Deterministic single-thread spin (xorshift64, 2²⁷ rounds, min of
    * 3 after a JIT warm-up), in milliseconds — a host-speed yardstick
    * stamped into the artifact. loadavg exposes CONTENTION but not a
    * slower host: two idle machines can differ 30%+ in single-core
    * speed, which would read as a code regression across rounds. With
    * the calibration in the artifact, cross-round per-query seconds
    * can be normalized by the hosts' calibration ratio before anyone
    * concludes a plan got worse.
    */
  private def spinOnce(): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 27)) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      i += 1
    }
    // publish h so the loop cannot be dead-code-eliminated
    if (h == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1000000L
  }

  def cpuCalibMs(): Long = {
    spinOnce() // JIT warm-up
    Seq.fill(3)(spinOnce()).min
  }

  /** All-cores calibration probe (round 12): wall-clock for ALL of
    * `nThreads` concurrent spins to finish (max-of-threads), min of 2
    * runs. The single-thread spin is blind to multi-core contention —
    * a contender job leaves one core free for the spin, so `calibMs`
    * and the 1-min loadavg both read clean while every local[32] query
    * is starved (the r10 AND r11 driver artifacts passed every gate
    * that way). The PARALLEL/SINGLE ratio is the detector: measured
    * idle on the reference host it is ~1.13, and a 12-thread contender
    * moves it to ~1.88 while moving the single spin only 13%. Gate at
    * [[ParRatioMax]], before AND after the run.
    */
  /** Barrier-shaped calibration probe (round 14): wall-clock for a
    * fixed 10-round shuffle-iterate microjob — each round is one job
    * (range scan → keyed repartition → count), so the probe pays 10
    * scheduler barriers and 10 shuffle write+read cycles over a fixed
    * 4 M-row working set. Rationale: the r13 frozen-binary A/B proved
    * q93/q207's ±25% cross-day sf1 swings were HOST STATE, yet both
    * runs passed every existing gate — the single-thread and all-cores
    * CPU spins are pure-compute and blind to whatever moves
    * barrier/shuffle latency (page cache, IO, scheduler state). This
    * probe is shaped like the queries that drifted; BenchSf1 stamps it
    * before and after the run next to [[RefBarrierMs]], and flags
    * `iterative_comparable:false` when it sits >15% off the idle
    * reference — sf1 trend deltas on iterative-barrier rows
    * (q93/q207/q125-shaped) are then machine-readably noise, without
    * poisoning `valid` (the measurement itself is still internally
    * clean).
    */
  def barrierCalibMs(spark: SparkSession, rounds: Int = 15,
      rows: Long = 1L << 20): Long = {
    import org.apache.spark.sql.functions._
    def once(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      var sink = 0L
      while (i < rounds) {
        sink ^= spark.range(rows)
          .select((col("id") * 2654435761L % 65536).as("k"))
          .repartition(32, col("k"))
          .count()
        i += 1
      }
      if (sink == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1000000L
    }
    // the probe reads scheduler+shuffle latency, not allocator state: a
    // JVM fresh off a heavy bench carries GC debt that would read as
    // host drift — settle it first
    System.gc()
    // DEEP warm-up (measured): with a single warm-up loop the reading
    // tracks JIT depth, not the host — fresh JVMs read ~4.0-4.7 s where
    // a heavily-exercised JVM reads ~2.7 s for the same host state.
    // Three full loops before timing puts the whole scheduler/shuffle/
    // codegen stack on its steady tier.
    (1 to 3).foreach(_ => once())
    Seq.fill(3)(once()).min
  }

  /** Idle reference for [[barrierCalibMs]]. RE-ANCHORED round 16: the
    * r14 stamp (4700, clean band 4240–5185) went stale — every r15
    * measurement read 1.14–1.36 against it, so the flag had stopped
    * informing. Root cause found via the steal stamp: this guest's
    * vCPUs are hypervisor-overcommitted, and a noisy neighbor now takes
    * 2–13% of capacity under parallel load, varying by the minute
    * (idle ≈ 1.8%, measured under a 32-thread spin: 9.4%). The r16
    * re-anchor is the reading at a VERIFIED-near-zero-steal moment
    * (barrier 5594 ms at 0.32% steal; contended same-day readings
    * 6517–11768 at 5.7–13.2% steal — read steal_pct_barrier in the
    * artifact to adjudicate any flagged run directly). The 15% band is
    * unchanged: it tolerates intra-day wander at low steal while
    * flagging the steal-storm class. Env-overridable for other hosts
    * like the par-ratio gate; re-stamp with graft.BarrierAnchor when
    * it next goes stale.
    *
    * Round-17 A/B finding: the idle reading itself breathes ±25% at
    * near-zero steal (5470 vs 4150 ms an hour apart, both < 0.8%
    * probe steal — neighbor bandwidth pressure steal cannot count),
    * so this anchor is a band CENTER, not a constant: a below-band
    * barrier_ratio with a clean steal stamp means a FAST host, and
    * such runs are as internally clean as in-band ones (SCALING.md
    * round 17, finding 3).
    */
  val RefBarrierMs: Double =
    sys.env.get("SPARK_GRAFT_REF_BARRIER_MS")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(5600.0)

  def cpuCalibParMs(nThreads: Int = CalibThreads): Long = {
    spinOnce() // JIT warm-up (shared method with cpuCalibMs)
    def wall(): Long = {
      val ts = Array.fill(nThreads)(new Thread(() => { spinOnce(); () }))
      val t0 = System.nanoTime()
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1000000L
    }
    Seq.fill(2)(wall()).min
  }

  /** The all-cores/single-thread calibration ratio right now. */
  def parRatioNow(): Double = {
    val single = cpuCalibMs()
    cpuCalibParMs().toDouble / single.toDouble
  }

  /** Threads for the all-cores probe. Default availableProcessors —
    * correct on the reference host (32 physical-thread local[32] box).
    * On an SMT host availableProcessors counts hyperthreads, so 2×
    * physical-core spins share ports and the IDLE ratio sits near 2.0;
    * set SPARK_GRAFT_CALIB_THREADS to the physical core count there
    * (or raise SPARK_GRAFT_PAR_RATIO_MAX) so clean runs aren't flagged.
    */
  val CalibThreads: Int =
    sys.env.get("SPARK_GRAFT_CALIB_THREADS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Max allowed parallel/single calibration ratio for a valid
    * artifact. Committed reference: 1.13 idle on the r12 host; 1.35
    * leaves scheduler-noise headroom while still flagging any
    * contender big enough to skew a 32-thread query (a 12-thread
    * contender measures ~1.9). Host-overridable (round 13, per
    * advisor): the 1.35 constant is calibrated to the non-SMT
    * reference host — on SMT hosts set SPARK_GRAFT_PAR_RATIO_MAX
    * (or SPARK_GRAFT_CALIB_THREADS above) to the locally-measured
    * idle ratio plus headroom.
    */
  val ParRatioMax: Double =
    sys.env.get("SPARK_GRAFT_PAR_RATIO_MAX").map(_.toDouble).getOrElse(1.35)

  /** Retry-until-clean (round 13; attempt-aware round 16): run the
    * full gated measurement up to SPARK_GRAFT_BENCH_ATTEMPTS (default
    * 3) times, sleeping 60 s between attempts, until one reports clean.
    * The r12 driver artifact shipped valid:false — the contamination
    * gate fired correctly, but the canonical trend file was then a
    * flagged load measurement; a bounded whole-run retry makes the
    * committed artifact a measurement whenever the contention is
    * transient. Since round 16 the caller's cleanliness predicate may
    * be STRICTER than `valid` (Bench/BenchSf1 also require the barrier
    * probe in its comparability band — the r15 driver artifact was
    * "valid":true yet carried a 3.0× headline swing the probe had
    * flagged), and each attempt receives its 1-based number so the
    * artifact records how many measurements it took. If every attempt
    * is dirty the LAST attempt's flagged JSON is returned — an honest
    * record, machine-readably flagged via its own fields.
    */
  /** Attempt quality ranks for [[retryUntilValid]]: CLEAN = valid and
    * barrier in its comparability band (stop retrying, ship);
    * FAST_HOST = valid, internally clean, barrier BELOW band at a
    * verified-clean steal reading — the round-17 A/B proved this is a
    * genuinely fast host window (the idle anchor breathes ±25% at
    * near-zero steal), so such an attempt is a real measurement worth
    * shipping over a storm-flagged one, machine-readably stamped
    * `barrier_state:"fast"`; DIRTY = everything else.
    */
  val RankClean = 2
  val RankFastHost = 1
  val RankDirty = 0

  def retryUntilValid(
      label: String,
      maxAttempts: Int =
        // tolerant parse (r13 advisor): a malformed env value must not
        // crash the bench after the session is already up
        // default raised 3 → 4 in round 17 (r16 verdict task 2): two
        // rounds running the driver's canonical artifact shipped with
        // every attempt flagged; one more attempt plus the steal-gated
        // pre-wait in waitForIdle makes a clean canonical point the
        // expected outcome rather than the lucky one
        sys.env.get("SPARK_GRAFT_BENCH_ATTEMPTS")
          .flatMap(s => scala.util.Try(s.toInt).toOption)
          .getOrElse(4).max(1),
      sleepMs: Long = 60000L)(attempt: Int => (String, Int)): String = {
    // best-attempt shipping (round 17): retry toward a CLEAN attempt,
    // but remember the best-ranked artifact seen — when the host never
    // offers an in-band window (it sat FAST all session during the r17
    // A/B), a valid fast-host measurement ships instead of whatever
    // flagged artifact happened to be last (the r15/r16 canonical-file
    // failure mode).
    var n = 1
    var (json, rank) = attempt(n)
    var best = (json, rank)
    while (rank < RankClean && n < maxAttempts) {
      System.err.println(
        s"[$label] attempt $n/$maxAttempts contaminated or flagged — " +
          s"sleeping ${sleepMs / 1000} s and re-running the whole measurement")
      Thread.sleep(sleepMs)
      n += 1
      val r = attempt(n); json = r._1; rank = r._2
      if (rank >= best._2) best = (json, rank)
    }
    if (rank < RankClean) {
      if (best._2 == RankFastHost) System.err.println(
        s"[$label] no in-band attempt in $maxAttempts tries — shipping " +
          "the valid fast-host measurement (barrier_state:\"fast\")")
      else System.err.println(
        s"[$label] all $maxAttempts attempts contaminated or flagged — " +
          "shipping the last artifact; its valid/comparable fields say why")
      best._1
    } else json
  }

  def loadavg(): String =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.UTF_8)
      s.split("\\s+").take(3).mkString(" ")
    } catch { case _: Throwable => "unavailable" }

  /** Cumulative hypervisor steal ticks (/proc/stat cpu line, field 8,
    * USER_HZ = 100). Round 16: direct measurement of what the barrier
    * probe was proxying — this host measures ~2% steal idle but
    * 9–13% under full 32-thread load (a noisy neighbor takes 3–4
    * cores' worth whenever the guest goes wide, varying by the
    * minute), which is exactly the "barrier/shuffle-shaped capacity
    * invisible to pure-compute gates" the r13–r15 swings traced to.
    * −1 when unavailable (non-Linux).
    */
  def stealTicks(): Long =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")),
        java.nio.charset.StandardCharsets.UTF_8)
      val a = s.linesIterator.next().trim.split("\\s+")
      if (a.length > 8) a(8).toLong else -1L
    } catch { case _: Throwable => -1L }

  /** Steal as % of total guest CPU capacity over a window: ticks are
    * 10 ms each, capacity is elapsed × cores.
    */
  def stealPct(ticksDelta: Long, elapsedMs: Long): Double =
    if (ticksDelta < 0 || elapsedMs <= 0) -1.0
    else 100.0 * ticksDelta * 10.0 /
      (elapsedMs.toDouble * Runtime.getRuntime.availableProcessors())

  /** `body`'s result and the steal % over the window it ran in. */
  def withSteal[A](body: => A): (A, Double) = {
    val s0 = stealTicks()
    val t0 = System.nanoTime()
    val a = body
    (a, stealPct(stealTicks() - s0, (System.nanoTime() - t0) / 1000000L))
  }

  /** The idle gate's verdict plus the evidence it decided on, so the
    * artifact can distinguish a genuinely idle start from an
    * adjudicated one (round 17, advisor: the loadavg demotion needs
    * its override STAMPED, not just logged to stderr).
    * `loadGate` values: "clear" (every signal clean),
    * "steal_adjudicated" (loadavg lingered; par ratio + repeated
    * loaded-steal samples clean → self-residue), "steal_never_cleared"
    * (gates clean but the loaded-steal pre-wait never dropped below
    * [[StealGateMaxPct]] — the measurement is internally valid but the
    * barrier probe will likely flag comparability), "failed_par_ratio"
    * / "failed_loadavg_steal" (a contender confirmed — valid:false).
    */
  case class IdleGate(valid: Boolean, loadGate: String,
      gateStealPct: Double, residualLoad: Double)

  /** Hypervisor steal measured UNDER a sustained all-cores spin load —
    * the signal that actually predicts barrier/headline elevation on
    * this overcommitted guest (idle steal reads ~2% while loaded steal
    * swings 0–13% minute to minute; SCALING.md round 16). A ~5 s
    * loaded window, per the SCALING.md gating recipe — long enough to
    * catch a storm the one-shot par-probe sample misses. −1 when
    * /proc/stat is unavailable.
    */
  def stealUnderLoadPct(ms: Long = 5000L): Double = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ts = Array.fill(CalibThreads)(new Thread(() => {
      while (!stop.get()) spinOnce(); ()
    }))
    ts.foreach { t => t.setDaemon(true); t.start() }
    try {
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      Thread.sleep(ms)
      stealPct(stealTicks() - s0, (System.nanoTime() - t0) / 1000000L)
    } finally { stop.set(true); ts.foreach(_.join()) }
  }

  /** Loaded-steal threshold for the pre-measurement gate (round 17,
    * r16 verdict task 2): the SCALING.md recipe's < 2%. The
    * adjudication threshold for a lingering loadavg stays at the
    * round-16 3% — it decides validity, not comparability.
    */
  val StealGateMaxPct: Double =
    sys.env.get("SPARK_GRAFT_STEAL_GATE_MAX")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(2.0)

  /** Hard ceiling for the lingering-loadavg steal adjudication (round
    * 18, r17 verdict item 1): a residual 1-min load above this is a
    * contender no matter what the indirect signals say — the gate
    * refuses to proceed on steal/par evidence alone. 3.0 leaves room
    * for the bench's own probe/writeback residue (~1 core) plus lag
    * while staying far below the r17 false-proceed's 5.37.
    */
  val LoadAdjudicateMax: Double =
    sys.env.get("SPARK_GRAFT_LOAD_ADJUDICATE_MAX")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(3.0)

  /** Load gate: a bench started on a busy machine measures the load,
    * not the code. Waits for idle (up to 10×30 s per signal); the
    * returned [[IdleGate]] carries the verdict AND the evidence.
    * Round 17 adds a steal-gated pre-wait (the r16 canonical driver
    * artifact shipped `headline_comparable:false` for the second round
    * running — every attempt STARTED inside a steal storm the loadavg
    * and par-ratio gates cannot see): after the legacy gates clear,
    * the gate samples steal under its own ~5 s all-cores load and
    * sleep-retries until the sample drops below [[StealGateMaxPct]],
    * so attempt 1 begins in a clean window whenever the host offers
    * one inside the wait budget. The repeated samples double as the
    * lingering-loadavg adjudication signal (advisor: the old one-shot
    * sample left a false-clean window).
    */
  def waitForIdle(): IdleGate = {
    def load1(): Double = loadavg().split(" ").headOption
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(0.0)
    val loadMax = sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX", "2.0").toDouble
    // each gate gets its OWN retry budget (r13 advisor: a shared
    // counter silently halved the worst-case wait and let a loadavg
    // storm starve the par-ratio gate of retries)
    var loadWaits = 0
    while (load1() > loadMax && loadWaits < 10) {
      loadWaits += 1
      System.err.println(
        f"[bench] 1-min load ${load1()}%.2f > $loadMax%.2f — " +
          s"sleeping 30 s (retry $loadWaits/10)")
      Thread.sleep(30000L)
    }
    // residual sampled HERE, before the gate's own probes (round 18):
    // the par/steal probes below spin all cores for ~20 s, which
    // re-inflates the 1-min loadavg above any honest ceiling — sampling
    // after them turned every retry attempt's own instrumentation into
    // a "contender" under the hard adjudication ceiling. A contender
    // arriving DURING the probes is caught by the probes themselves
    // (par ratio, loaded steal) and by the per-section re-probes.
    val residual = load1()
    // all-cores pre-gate (round 13): the 1-min loadavg lags ~60 s and
    // misses a contender that leaves one core free; probe the
    // parallel/single spin ratio directly before letting a timed run
    // start, so transient contention burns a sleep here instead of a
    // whole contaminated measurement.
    var ratio = parRatioNow()
    var parWaits = 0
    while (ratio > ParRatioMax && parWaits < 10) {
      parWaits += 1
      System.err.println(
        f"[bench] all-cores ratio $ratio%.2f > $ParRatioMax%.2f — " +
          s"sleeping 30 s (retry $parWaits/10)")
      Thread.sleep(30000L)
      ratio = parRatioNow()
    }
    // steal-gated pre-wait (round 17): sample hypervisor steal under a
    // sustained ~5 s all-cores load and wait for a clean window. This
    // is what the loadavg/par gates cannot see (an out-of-guest
    // neighbor), and starting attempts inside a storm is why the r15
    // AND r16 canonical driver artifacts shipped comparable:false.
    // A never-clearing storm does NOT invalidate the measurement —
    // the barrier probe owns comparability — but the artifact records
    // that the gate gave up.
    var stl = stealUnderLoadPct()
    var stealWaits = 0
    while (stl >= StealGateMaxPct && stealWaits < 10) {
      stealWaits += 1
      System.err.println(
        f"[bench] loaded steal $stl%.2f%% >= $StealGateMaxPct%.2f%% — " +
          s"sleeping 30 s for a clean window (retry $stealWaits/10)")
      Thread.sleep(30000L)
      stl = stealUnderLoadPct()
    }
    // stale-par recovery (round 17, found by the A/B itself): a steal
    // storm inflates the par ratio too (the 32 spins starve on stolen
    // cores), so the par loop can exhaust its retries DURING a storm
    // that the steal pre-wait — which runs after it — then waits out.
    // p1 of the r17 A/B shipped valid:false from exactly that stale
    // reading while the attempt's own in-run ratios read 1.097/1.077.
    // One fresh probe after the steal wait decides with current
    // evidence; the recovery is stamped, not silent.
    var parRecovered = false
    if (ratio > ParRatioMax && stl >= 0 && stl < StealGateMaxPct) {
      val fresh = parRatioNow()
      if (fresh <= ParRatioMax) {
        System.err.println(
          f"[bench] par ratio recovered after the steal wait " +
            f"($ratio%.2f -> $fresh%.2f) — the storm that inflated it " +
            "has passed; proceeding (stamped)")
        ratio = fresh
        parRecovered = true
      }
    }
    // loadavg demotion (round 16): the 1-min loadavg measures runnable
    // PLUS uninterruptible threads, which includes the bench's OWN
    // residue — a prior attempt's writeback and the gate's own spin
    // probes keep it re-inflated, and the r16 sf1 attempt 2 was
    // marked invalid purely on loadavg while the all-cores ratio read
    // 1.10 (no contender) and the run's mid-flight gates were clean.
    // When loadavg alone fails to clear, adjudicate with the DIRECT
    // signals: the par ratio (in-guest multi-core contender) and
    // hypervisor steal under load (out-of-guest contender) — since
    // round 17 the REPEATED pre-wait samples above, not a one-shot
    // (advisor: a single 2-spin window could read clean inside a
    // storm). Steal unavailable (non-Linux, -1) keeps the old strict
    // behavior.
    val loadCleared = residual <= loadMax
    val ratioCleared = ratio <= ParRatioMax
    val gate =
      if (!ratioCleared) {
        System.err.println(
          f"[bench] WARN: all-cores ratio $ratio%.2f never cleared " +
            f"$ParRatioMax%.2f — artifact will carry \"valid\":false")
        IdleGate(valid = false, "failed_par_ratio", stl, residual)
      } else if (loadCleared) {
        if (stl >= 0 && stl >= StealGateMaxPct) IdleGate(valid = true,
          "steal_never_cleared", stl, residual)
        else if (parRecovered) IdleGate(valid = true,
          "par_recovered_after_steal_wait", stl, residual)
        else IdleGate(valid = true, "clear", stl, residual)
      } else {
        // HARD adjudication ceiling (round 18, r17 verdict item 1): the
        // r16 verdict predicted a contender that moves neither steal nor
        // the par ratio, and the very first steal-adjudicated canonical
        // run (r17, residual 5.37) shipped q24/q30/q34 at 2.4-4.7× with
        // valid:true. Self-residue from the bench's own probes cannot
        // exceed ~1 sustained core plus writeback — a residual above
        // [[LoadAdjudicateMax]] is a contender by definition, no matter
        // how clean the indirect signals read, and the gate refuses to
        // adjudicate it away.
        val ok = stl >= 0 && stl < 3.0 && residual <= LoadAdjudicateMax
        System.err.println(
          f"[bench] loadavg $residual%.2f never cleared but ratio " +
            f"$ratio%.2f is clean; steal under load $stl%.2f%% — " +
            (if (ok) "self-residue, proceeding (stamped steal_adjudicated)"
             else if (residual > LoadAdjudicateMax)
               f"residual above the $LoadAdjudicateMax%.1f adjudication " +
                 "ceiling, artifact will carry \"valid\":false"
             else "contention confirmed, artifact will carry \"valid\":false"))
        if (ok) IdleGate(valid = true, "steal_adjudicated", stl, residual)
        else IdleGate(valid = false, "failed_loadavg_steal", stl, residual)
      }
    gate
  }
}

/** sf1 (100× grading scale) timed bench of the scale families, run by
  * [[Bench.run]] as one section with all of its gates. The round-9 "scale
  * smoke" proved partition-invariance at sf1 but was single-run and
  * ungated, so a scaling REGRESSION at 100× stayed half-invisible; this
  * main makes sf1 latency a first-class per-round artifact
  * (bench/BENCH_SF1_r{N}.json).
  *
  * Input: SPARK_GRAFT_SF1_DIR (default /tmp/graft_sf1), generated by
  * `python3 tools/gen_sf1.py` from sf0.1. Output JSON:
  * `{"metric":"sf1_total", ...}` with the Bench field set; the one
  * section's per-section stamps are `par_ratio_queries` and
  * `steal_pct_queries`.
  */
object BenchSf1 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SF1.json")
    Bench.run(sfDir, Seq(Bench.Section("queries", SparkEntry.scaleBenchSf1)),
      "sf1_total", outPath)
  }
}
