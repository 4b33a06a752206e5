package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark-only 100× smoke of the dedup/similarity scale families —
  * the part of the scale story the DuckDB oracle cannot follow (its
  * replays already dominate the sweep at sf0.1). Runs each named
  * query TWICE on the given directory under deliberately different
  * parallelism (8 shuffle partitions / 128 MB splits, then 64 / 4 MB)
  * and compares a partition-order-independent content hash: a
  * blocked/banded/capped candidate generator that silently depends on
  * physical partitioning (lost candidates, per-partition RNG, first-
  * wins races) diverges here even with no oracle watching.
  *
  * Also probes the observed LSH candidate volume against its bound
  * from the q122 banded index's own stored band table: Σ_bucket C(n,2)
  * candidate pairs vs the all-pairs C(N,2) it replaces — the measured
  * blocking payoff, recorded in the artifact.
  *
  * Usage: ScaleSmoke <dataDir> <outJson> [query,query,...]
  *
  * The two parallelism legs default to 8/128 MB vs 64/4 MB and can be
  * overridden with SPARK_GRAFT_SMOKE_LEGS="parts:splitBytes,
  * parts:splitBytes" — the deliberately-starved p8 leg is the point
  * of the probe, but one decade up it can exceed any reasonable probe
  * budget (the r14 q95 sf10 attempt sat >50 min in its first p8
  * execution); a p16 or p32 first leg keeps the invariance check
  * honest while fitting the budget.
  */
object ScaleSmoke {

  /** Queries whose QueryDef memoizes a day-1 index build per
    * (JVM, dir) — their FIRST smoke leg's time includes that build
    * (~25 s at sf10), by the bench-warm-up-absorbs-it design.
    * Name prefixes, matching the registry's q-number convention.
    */
  private val IndexMemoizing = Seq("q121_", "q122_")

  /** Partition-order-independent content hash: sum (wrapping) of
    * per-row xxhash64 over every column rendered to string through a
    * canonical cast — identical row multisets hash identically under
    * any partitioning or row order. Returns (hash, rowCount) from the
    * SAME action, so the probe executes each (query, leg) exactly
    * once — the separate count() it replaced doubled every leg's cost
    * (round 14; at sf10 one execution is minutes).
    */
  private def contentHash(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("<null>")))
    // decimal(38) sum: a long sum of 64-bit hashes overflows, which
    // ANSI mode (Spark 4 default) turns into a hard error
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")).as("s"), count(lit(1)).as("n")).head()
    (s"${r.get(0)}/${r.getLong(1)}", r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val outPath = if (args.length > 1) args(1) else "SCALE_SMOKE.json"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else Seq("q33_dedup_exact", "q34_ngram_jaccard", "q35_minhash_lsh",
        "q36_simhash_pairs", "q37_cosine_pairs",
        "q95_sparse_cosine", "q122_indexed_near_dedup", "q207_dbscan",
        "q93_pagerank", "q125_bpe_merges", "q141_hll_replay",
        "q236_simhash_dedup_e2e", "q235_store_lifecycle",
        // q247 (round 16): the density-invariant DBSCAN derivation
        // entered the gated sf1 bench in r15; the invariance smoke
        // covers it at sf1 too (verdict task 7)
        "q247_dbscan_density",
        // round 17 (r16 verdict tasks 4/5): q248's scan-shaped DSIR
        // selection, plus the two composition capstones — the chained
        // semi/anti-join pipelines a real curation run executes end to
        // end, where join ordering is where skew compounds. Families
        // were sf10-covered individually; the CHAINS now hold their
        // own invariance rows.
        "q248_dsir_select", "q123_curation_pipeline", "q198_dedup_e2e")
    val (spark, created) = Sessions.getOrCreate()
    val byName = SparkEntry.defs.map(d => d.name -> d).toMap

    val legs = sys.env.get("SPARK_GRAFT_SMOKE_LEGS")
      .map(_.split(",").toSeq.map { leg =>
        val Array(p, b) = leg.split(":"); (p.trim.toInt, b.trim.toLong)
      })
      .getOrElse(Seq((8, 128L << 20), (64, 4L << 20)))
    require(legs.length == 2, "SPARK_GRAFT_SMOKE_LEGS wants two legs")
    val legsDesc = legs.map { case (p, b) => s"$p:$b" }.mkString(",")

    // per-query failure capture (round 15): the r15 q207 sf10 attempt
    // filled the disk 42 minutes in and the uncaught IOException threw
    // away the two queries that had already PASSED — a probe artifact
    // must record what it measured plus the failure, not vanish
    val results = names.map { name =>
      val d = byName(name)
      def runWith(parts: Int, splitBytes: Long): (String, Long, Double) = {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        spark.conf.set("spark.sql.files.maxPartitionBytes",
          splitBytes.toString)
        val t0 = System.nanoTime()
        val (h, rows) = contentHash(d.fn(spark, dataDir))
        (h, rows, (System.nanoTime() - t0) / 1e9)
      }
      try {
        val (h8, n8, s8) = runWith(legs(0)._1, legs(0)._2)
        val (h64, n64, s64) = runWith(legs(1)._1, legs(1)._2)
        val ok = h8 == h64 && n8 == n64
        System.err.println(
          f"[smoke] $name rows=$n8 match=$ok " +
            f"t${legs(0)._1}=$s8%.1fs t${legs(1)._1}=$s64%.1fs")
        (name, n8, Some(ok), s8, s64, None: Option[String])
      } catch {
        case e: Throwable =>
          System.err.println(s"[smoke] $name FAILED: $e")
          (name, -1L, None: Option[Boolean], -1.0, -1.0,
            Some(e.toString.takeWhile(_ != '\n').take(200)))
      }
    }

    // LSH candidate volume vs bound, from q122's stored band index
    // (the run above persisted it): candidates = Σ_bucket C(n,2);
    // the blocking payoff is that number against all-pairs C(N,2).
    val candProbe = spark.catalog.listTables().collect()
      .map(_.name).find(_.startsWith("graft_q122_band_")).map { t =>
      val bands = spark.table(t) // (id, bkey): one row per doc × band
      val agg = bands.groupBy(col("bkey"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("cand"))
        .head()
      val nDocs = bands.select(col("id")).distinct().count()
      (agg.getLong(0), nDocs, nDocs * (nDocs - 1) / 2)
    }

    // per-leg keys carry the actual partition counts (sec_p8/sec_p64
    // under the defaults, so prior-round artifacts stay comparable);
    // overridden legs are named for what they really ran. When BOTH
    // legs override to the same partition count the keys additionally
    // carry the split size (sec_p32_128m/sec_p32_4m) — identical keys
    // in one JSON object silently lose a leg in most parsers (r14
    // advisor).
    val legKeys = {
      val base =
        if (legs(0)._1 == legs(1)._1)
          legs.map { case (p, b) => s"sec_p${p}_${b >> 20}m" }
        else legs.map { case (p, _) => s"sec_p$p" }
      // IDENTICAL legs (a repeatability probe — the r16 q247 "p64/4M
      // twice" run) still need distinct keys or the JSON object
      // silently drops the first leg
      if (base(0) == base(1)) base.zipWithIndex
        .map { case (k, i) => s"${k}_leg${i + 1}" }
      else base
    }
    val qJson = results.map {
      case (name, n, Some(ok), s8, s64, _) =>
        // index-memoizing queries (build-once per JVM+dir, the q121/q122
        // pattern) pay their day-1 build in whichever leg runs FIRST —
        // the r15 q122 "3.9× spread" investigation; the artifact says so
        // instead of leaving it to a doc note
        val buildNote =
          if (IndexMemoizing.exists(name.startsWith))
            ""","first_leg_includes_build":true""" else ""
        f""""$name":{"rows":$n,"partition_invariant":$ok,"${legKeys(0)}":$s8%.2f,"${legKeys(1)}":$s64%.2f$buildNote}"""
      case (name, _, None, _, _, err) =>
        // full JSON string escaping: takeWhile already strips '\n' but
        // a '\r'/'\t'/other control char in an exception toString would
        // make the artifact unparseable (round 16, advisor)
        val msg = err.getOrElse("unknown").flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString }
        s""""$name":{"error":"$msg"}"""
    }.mkString("{", ",", "}")
    val candJson = candProbe.map { case (cand, nDocs, allPairs) =>
      s""","lsh_candidates":$cand,"lsh_docs":$nDocs,"all_pairs":$allPairs"""
    }.getOrElse("")
    val allOk = results.forall(_._3.contains(true))
    // "actions":1 — since round 14 each leg runs ONE action (hash and
    // count share an aggregate), so per-leg seconds are NOT comparable
    // to pre-r14 smoke artifacts, which ran two actions per leg; the
    // artifact records the semantics so cross-round readers don't have
    // to know the history (r14 advisor)
    val json =
      s"""{"metric":"scale_smoke","data_dir":"$dataDir","legs":"$legsDesc","actions":1,"all_partition_invariant":$allOk,"queries":$qJson$candJson}"""
    println(json)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[smoke] WARN: cannot write $outPath: $e") }
    if (created) spark.stop()
    if (!allOk) sys.exit(1)
  }
}
