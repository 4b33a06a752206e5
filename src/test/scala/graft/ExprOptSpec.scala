package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Round-17 optimization-round expression pins: the two custom
  * codegen'd expressions that replaced interpreted higher-order-
  * function formulations must be VALUE-IDENTICAL to the forms they
  * replaced (scatter_dense vs map_from_entries+transform/element_at in
  * the dense-APSS vector synthesis; text_quality_stats vs
  * size(split)/regexp-length-diff/filter-isin in q30's quality
  * metrics).
  */
class ExprOptSpec extends SparkSpec {
  import spark.implicits._

  test("scatter_dense equals the map_from_entries/transform synthesis") {
    val rows = Seq(
      (1L, Seq((0, 1.5), (3, -2.0))),
      (2L, Seq((4, 0.25))),
      (3L, Seq.empty[(Int, Double)]),
      (4L, Seq((0, 1.0), (1, 2.0), (2, 3.0), (3, 4.0), (4, 5.0))),
    ).toDF("id", "pairs")
      .select(col("id"), expr(
        "transform(pairs, p -> named_struct('idx', p._1, 'w', p._2))")
        .as("entries"))
    val vlen = 5
    val oldForm = rows.select(col("id"),
      map_from_entries(col("entries")).as("m"))
      .select(col("id"), transform(sequence(lit(0), lit(vlen - 1)),
        i => coalesce(element_at(col("m"), i), lit(0.0))).as("v"))
      .orderBy("id").collect().map(_.getSeq[Double](1))
    val newForm = rows.select(col("id"),
      graft.plans.ScatterDense.scatter_dense(col("entries"), vlen).as("v"))
      .orderBy("id").collect().map(_.getSeq[Double](1))
    assert(newForm.toSeq === oldForm.toSeq)
  }

  test("scatter_dense rejects an out-of-range index loudly") {
    val rows = Seq((1L, Seq((7, 1.0)))).toDF("id", "pairs")
      .select(col("id"), expr(
        "transform(pairs, p -> named_struct('idx', p._1, 'w', p._2))")
        .as("entries"))
    val e = intercept[Exception] {
      rows.select(graft.plans.ScatterDense.scatter_dense(col("entries"), 5))
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("simhash_text equals the replaced higher-order formulation") {
    import graft.plans.RollingHash.rolling_hash
    import TextFunctions.{bind, shiftRight, tokens}
    // the exact tree TextFunctions.simhash used before round 17
    def legacySimhash(c: org.apache.spark.sql.Column,
        nBits: Int): org.apache.spark.sql.Column =
      bind(transform(tokens(c), tk => rolling_hash(tk)), hashes => {
        val bits = transform(sequence(lit(0), lit(nBits - 1)), b => {
          val vote = aggregate(hashes, lit(0L), (acc, h) => {
            val mixed = when(b < 30, h)
              .otherwise(pmod(h * 1103515245L + 12345L, lit(1073741789L)))
            val shift = when(b < 30, b).otherwise(pmod(b - 30, lit(30)))
            acc + when(shiftRight(mixed, shift.cast("int"))
              .bitwiseAND(1L) === 1L, 1L).otherwise(-1L)
          })
          when(vote > 0, TextFunctions.shl(lit(1L), b.cast("int")))
            .otherwise(lit(0L))
        })
        aggregate(bits, lit(0L), (acc, x) => acc + x)
      })
    val texts = Seq("the quick brown fox", "", "a  b ", " leading",
      "one", "日本語 テキスト mixed ascii", "x " * 200 + "tail")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for (nBits <- Seq(32, 62, 8)) {
      val legacy = texts
        .select(col("id"), legacySimhash(col("text"), nBits).as("s"))
        .orderBy("id").collect().map(_.getLong(1)).toSeq
      val fused = texts
        .select(col("id"), TextFunctions.simhash(col("text"), nBits).as("s"))
        .orderBy("id").collect().map(_.getLong(1)).toSeq
      assert(fused === legacy, s"nBits=$nBits")
    }
  }

  test("langId via token_set_hits equals the replaced HOF formulation") {
    import TextFunctions.{bind, tokens, LangStopwords}
    // the exact language-ID tree used before round 17
    def legacyLangId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      bind(tokens(c), t => {
        val counts = LangStopwords.map { case (lang, words) =>
          lang -> size(filter(t, tk => tk.isin(words: _*)))
        }
        val allZero = counts.map(_._2 === 0).reduce(_ && _)
        counts.zipWithIndex.foldLeft(when(allZero, lit("unknown"))) {
          case (acc, ((lang, _), i)) =>
            val mine = counts(i)._2
            val isMax = counts.map(_._2).map(o => mine >= o).reduce(_ && _)
            acc.when(isMax, lit(lang))
        }
      })
    val texts = Seq(
      "the cat is on a mat and so is the dog",
      "der hund und die katze das ist gut",
      "el perro y la casa es los",
      "le chat est une merveille et les autres",
      "我 是 的 了 在",
      "nothing matches here xyz",
      "", "the der el le 我",      // 5-way tie → declaration order (en)
      "the the der").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val legacy = texts.select(col("id"), legacyLangId(col("text")).as("l"))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    val fused = texts.select(col("id"),
        TextFunctions.langIdFromHits(
          TextFunctions.langIdHits(col("text"))).as("l"))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(fused === legacy)
  }

  test("text_quality_stats equals the split/regexp/filter formulations") {
    val texts = Seq(
      "the quick brown fox, jumps! over the lazy dog.",
      "a b  c",              // double space → empty token
      "",                    // empty doc
      "trailing space ",     // trailing empty token
      "the",                 // single stopword, no spaces
      "日本語 テキスト the (括弧) and -- end;",
      "[{(\"'.,!?;:-)}]",    // all punctuation
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val sw = TextFunctions.EnglishStopwords
    val legacy = texts.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[.,!?;:'\"()\\[\\]{}-]", "")))
        .as("n_punct"),
      size(filter(split(col("text"), " "), tk => tk.isin(sw: _*)))
        .as("n_stop"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
    val st = graft.plans.TextQualityStats.text_quality_stats(
      col("text"), sw)
    val fused = texts.select(col("doc_id"),
        st.getField("n_tokens").cast("long").as("n_tokens"),
        st.getField("n_punct").as("n_punct"),
        st.getField("n_stop").as("n_stop"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(fused.toSeq === legacy.toSeq)
  }

  // ---- round-18 pins -----------------------------------------------

  test("walk_time_stats equals the replaced HOF chain") {
    import graft.functions.Parsers
    val rows: Seq[(Long, Seq[String])] = Seq(
      1L -> Seq("ＪＲ山手線/恵比寿駅 歩５分", "東京メトロ/駅 歩12分"),
      2L -> Seq("バス20分", "歩8分"),          // one unparseable entry
      3L -> Seq("", "何か 歩3分", ""),          // empties dropped
      4L -> Seq.empty[String],                  // no stations
      5L -> Seq("車5分"),                       // all unparseable
      6L -> Seq(null, "歩7分"),                 // null entry dropped
      7L -> Seq("x 歩0１0分"),                  // mixed-width digits
      8L -> null,                               // null array
    )
    val df = rows.toDF("id", "bt")
    val wt = transform(filter(col("bt"), t => t =!= ""),
      t => Parsers.parseTransportation(t))
    val legacy = df.select(col("id"),
        exists(wt, _.isNull).as("has_bad"),
        size(wt).cast("long").as("n"),
        array_min(wt).as("wmin"),
        // guarded like production: the old avg sits ABOVE the validity
        // filter (size >= 1), so under ANSI it never divides by zero
        when(size(wt) >= 1,
          aggregate(wt, lit(0.0), (a, x) => a + x) / size(wt)).as("wavg"))
      .orderBy("id").collect()
    val st = graft.plans.WalkTimeStats.walk_time_stats(col("bt"))
    val fused = df.select(col("id"),
        (st.getField("n_bad") > 0).as("has_bad"),
        st.getField("n_stations").as("n"),
        st.getField("wmin").as("wmin"),
        st.getField("wavg").as("wavg"))
      .orderBy("id").collect()
    legacy.zip(fused).foreach { case (l, f) =>
      assert(l.isNullAt(1) === f.isNullAt(1), s"has_bad nullness ${l.getLong(0)}")
      if (!l.isNullAt(1)) {
        assert(f.getBoolean(1) === l.getBoolean(1), s"has_bad ${l.getLong(0)}")
        assert(f.getLong(2) === l.getLong(2), s"n ${l.getLong(0)}")
        // min/avg only feed rows the validity filter keeps (no bad
        // entries, >= 1 station) — the old avg is NULL-poisoned by a
        // bad entry, the fused form skips it; compare where it matters
        if (!l.getBoolean(1) && l.getLong(2) >= 1) {
          assert(f.getDouble(3) === l.getDouble(3), s"wmin ${l.getLong(0)}")
          assert(f.getDouble(4) === l.getDouble(4), s"wavg ${l.getLong(0)}")
        }
      }
    }
  }

  test("token_tf equals explode + filter + groupBy counts") {
    val texts = Seq(
      "the quick the quick the fox",
      "a b  c",              // double space → empty segment dropped
      "",                    // empty doc → no rows
      " leading and trailing ",
      "dup dup dup dup",
      "日本語 テキスト 日本語 mixed",
      "single",
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val legacy = texts
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      .filter(col("tk") =!= "")
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
      .orderBy("doc_id", "tk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val fused = texts
      .select(col("doc_id"), inline(graft.plans.TokenTf.token_tf(col("text"))))
      .orderBy("doc_id", "tk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(fused.toSeq === legacy.toSeq)
  }

  test("fence is value-transparent and blocks filter-pushdown duplication") {
    import graft.plans.Fence.fence
    val df = spark.range(100).toDF("v")
    val expensive = concat(lit("p"), (col("v") * 3 % 7).cast("string"))
    val plain = df.select(col("v"), expensive.as("k"))
      .filter(col("k") =!= "p0").orderBy("v").collect().map(_.getString(1))
    val fenced = df.select(col("v"), fence(expensive).as("k"))
      .filter(col("k") =!= "p0").orderBy("v").collect().map(_.getString(1))
    assert(fenced.toSeq === plain.toSeq)
    // single evaluation: the filter must test the ATTRIBUTE, not a
    // substituted copy of the expression
    val fencedPlan = df.select(col("v"), fence(expensive).as("k"))
      .filter(col("k") =!= "p0").queryExecution.executedPlan.toString
    val occurrences = fencedPlan.sliding("concat(p".length)
      .count(_ == "concat(p")
    assert(occurrences === 1, s"fenced expression duplicated:\n$fencedPlan")
  }

  test("langIdFromHits over a materialized hits column equals fused langId") {
    val texts = Seq(
      "the cat is on the mat", "der hund und die katze ist",
      "el la los es y", "le les est et une", "的 是 了 在 我",
      "nothing matches here xyz", "", "the der el le 的",
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fusedCol = texts.select(col("doc_id"),
        TextFunctions.langIdFromHits(
          TextFunctions.langIdHits(col("text"))).as("l"))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    val split2 = texts.select(col("doc_id"),
        TextFunctions.langIdHits(col("text")).as("__hits"))
      .select(col("doc_id"),
        TextFunctions.langIdFromHits(col("__hits")).as("l"))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(split2 === fusedCol)
  }
}
