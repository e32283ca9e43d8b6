package graft

import org.apache.spark.sql.functions._
import graft.operators._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("bucketWithSort pairs labels with ordered sort keys, null gets the last bucket") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 20.0), (2L, 30.0), (3L, 45.0), (4L, null)).toDF("id", "gest")
    val (lbl, srt) = DeriveColumns.bucketWithSort(col("gest"),
      Seq((28.0, "<28wks"), (42.0, "Term")), "Post Term", "Unknown")
    val out = df.select(col("id"), lbl.as("g"), srt.as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out === Map(
      1L -> (("<28wks", 1)), 2L -> (("Term", 2)),
      3L -> (("Post Term", 3)), 4L -> (("Unknown", 4))))
  }

  test("aliasedLadders: alias fallback, garbage coercion, absent branch, cascade") {
    val df = Seq(
      (1L, "800", "36.0"), (2L, "3000", "38.0"), (3L, "garbage", "37.0"), (4L, "4500", null))
      .toDF("id", "BW_value", "Temperature_value")
    // BirthWeight_value absent → falls back to BW_value (case-insensitive)
    assert(DeriveColumns.firstPresent(df,
      Seq("BirthWeight_value", "bw_VALUE", "Bw_value")).contains("BW_value"))
    val out = DeriveColumns.aliasedLadders(df, Seq(
      DeriveColumns.AliasedLadder(Seq("BirthWeight_value", "BW_value"), "w", "wg",
        Seq(1000.0 -> "ELBW", 2500.0 -> "LBW"), lastLabel = "NBW"),
      DeriveColumns.AliasedLadder(Seq("AW_value"), "aw", "awg", // absent
        Seq(1000.0 -> "lo"), lastLabel = "hi"),
      DeriveColumns.AliasedLadder(Seq("Temperature_value"), "t", "tg",
        Seq(36.5 -> "Hypo", 37.5 -> "Normo"), lastLabel = "Hyper")))
    val m = out.collect().map(r => r.getLong(0) ->
      ((r.getString(out.columns.indexOf("wg")), r.getString(out.columns.indexOf("awg")),
        r.getString(out.columns.indexOf("tg"))))).toMap
    assert(m === Map(
      1L -> (("ELBW", null, "Hypo")), 2L -> (("NBW", null, "Hyper")),
      3L -> (("Unknown", null, "Normo")), 4L -> (("NBW", null, "Unknown"))))
    // absent branch keeps typed columns (stable schema across export eras)
    assert(out.schema("aw").dataType.typeName === "double")
    assert(out.schema("awg").dataType.typeName === "string")
    // cascade: default fires only when every source is null
    val src = Seq((Some("a"), None: Option[String]), (None, Some("b")), (None, None))
      .toDF("p", "q")
      .select(DeriveColumns.cascadeSource(Seq(col("p"), col("q")), lit("dflt")).as("s"))
    assert(src.collect().map(_.getString(0)).toSeq === Seq("a", "b", "dflt"))
  }

  test("categoricalProfile: exact census, null accounting, top-k tie order") {
    val df = Seq(
      ("en", "web"), ("en", "web"), ("en", "books"), ("de", "web"),
      ("de", null), ("fr", null), (null, "web")
    ).toDF("lang", "source")
    val out = Summaries.categoricalProfile(df, Seq("lang", "source"), k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5))).toSet
    assert(out === Set(
      // lang: 3 distinct non-null, 1 null row; en(3) then de(2)
      ("lang", 3L, 1L, "en", 3L, 1L), ("lang", 3L, 1L, "de", 2L, 2L),
      // source: web(4) then books(1); two null rows counted
      ("source", 2L, 2L, "web", 4L, 1L), ("source", 2L, 2L, "books", 1L, 2L)))
  }

  test("dropConfidential drops by marker, case- and underscore-insensitive") {
    val df = Seq(("x", "y", "z", "w", "v")).toDF(
      "FirstName_value", "babylastname", "dob_tob_value", "temp_value", "DOBTOB")
    val kept = Cleanup.dropConfidential(df).columns.toSeq
    assert(kept === Seq("temp_value"))
    // custom markers replace the defaults
    val kept2 = Cleanup.dropConfidential(df, Seq("temp")).columns.toSet
    assert(!kept2.contains("temp_value") && kept2.contains("FirstName_value"))
  }

  test("dropSingleLetterColumns drops 1-char and all-digit artifact names only") {
    val df = Seq((1, 2, 3, 4, 5)).toDF("a", "Q", "123", "ab", "a1")
    assert(Cleanup.dropSingleLetterColumns(df).columns.toSeq === Seq("ab", "a1"))
  }

  test("unmatched (anti) and existing (semi) joins") {
    val left = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val right = Seq((2L, "x")).toDF("k2", "w")
    val anti = Joins.unmatched(left, right, col("k") === col("k2"), broadcastRight = true)
      .select("k").as[Long].collect().sorted
    assert(anti === Array(1L, 3L))
    val semi = Joins.existing(left, right, col("k") === col("k2"), broadcastRight = true)
      .select("k").as[Long].collect()
    assert(semi === Array(2L))
  }

  test("taggedUnion aligns schemas, missing columns → null, tags source") {
    val a = Seq((1L, "x")).toDF("id", "only_a")
    val b = Seq((2L, 3.5)).toDF("id", "only_b")
    val out = Unions.taggedUnion(Seq("a" -> a, "b" -> b)).orderBy("id")
    assert(out.columns.toSet === Set("id", "only_a", "only_b", "source_view"))
    val r = out.collect()
    assert(r(0).getAs[String]("only_a") === "x" && r(0).isNullAt(out.columns.indexOf("only_b")))
    assert(r(1).isNullAt(out.columns.indexOf("only_a")) && r(1).getAs[String]("source_view") === "b")
  }

  test("pivot toWideConditional counts per explicit value, no distinct scan") {
    val df = Seq((1L, "click"), (1L, "click"), (1L, "view"), (2L, "view")).toDF("uid", "etype")
    val out = Pivot.toWideConditional(df, Seq("uid"), "etype", Seq("click", "view"), lit(1L))
      .orderBy("uid").as[(Long, Long, Long)].collect()
    assert(out === Array((1L, 2L, 1L), (2L, 0L, 1L)))
  }

  test("bucket assigns CASE-WHEN ranges with default") {
    val out = Seq(5.0, 15.0, 30.0, 99.0).toDF("v")
      .select(DeriveColumns.bucket(col("v"), Seq((10.0, "lo"), (25.0, "mid"), (40.0, "hi")), "xl"))
      .as[String].collect()
    assert(out === Array("lo", "mid", "hi", "xl"))
  }

  test("multiFormatTimestamp parses any of the given formats") {
    val out = Seq("02 Jan,2024", "2024/01/03", "01-04-2024").toDF("raw")
      .select(DeriveColumns.multiFormatTimestamp(col("raw"),
        Seq("dd MMM,yyyy", "yyyy/MM/dd", "MM-dd-yyyy")).cast("date").cast("string"))
      .as[String].collect()
    assert(out === Array("2024-01-02", "2024-01-03", "2024-01-04"))
  }

  test("completeness: single-pass non-null ratios") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (Some(3), None), (None, None))
      .toDF("x", "y")
    val out = Summaries.completeness(df, Seq("x", "y")).collect()(0)
    assert(out.getAs[Double]("x_complete") === 0.5)
    assert(out.getAs[Double]("y_complete") === 0.5)
    // zero rows: one row of NULL ratios, not an ANSI divide-by-zero
    for (f <- Seq(Summaries.completeness _, Summaries.completenessNonEmpty _)) {
      val empty = f(df.limit(0), Seq("x", "y")).collect()
      assert(empty.length === 1)
      assert(empty(0).isNullAt(0) && empty(0).isNullAt(1))
    }
  }

  test("topKPerKey returns k rows per group in rank order") {
    val df = Seq(("a", 3.0), ("a", 2.0), ("a", 1.0), ("b", 9.0)).toDF("g", "v")
    val out = Windows.topKPerKey(df, Seq("g"), Seq(col("v").desc), 2)
      .select("g", "v").as[(String, Double)].collect().toSet
    assert(out === Set(("a", 3.0), ("a", 2.0), ("b", 9.0)))
  }

  test("histogram bins equi-width, clamps the max, skips nulls and all-null columns") {
    val df = Seq[(Double, Option[Double], Option[Double])](
      (0.0, Some(5.0), None),
      (2.5, Some(5.0), None),
      (5.0, Some(5.0), None),  // max of 'a' → clamped into the LAST bin
      (10.0, None, None)
    ).toDF("a", "c", "z")
    val out = Summaries.histogram(df, Seq("a", "c", "z"), nBins = 2)
      .select("col_name", "bin", "lo", "hi", "n")
      .as[(String, Long, Double, Double, Long)].collect().toSet
    assert(out === Set(
      ("a", 0L, 0.0, 5.0, 2L),   // 0.0, 2.5
      ("a", 1L, 5.0, 10.0, 2L),  // 5.0, 10.0 (max clamped in)
      ("c", 0L, 5.0, 5.0, 3L)))  // constant column → single bin, null skipped
  }

  test("forwardFill carries the last non-null value forward per key, in order") {
    val df = Seq(
      ("u1", 1L, Some(10.0), Some("a")),
      ("u1", 2L, None, None),
      ("u1", 3L, Some(7.0), None),
      ("u1", 4L, None, Some("b")),
      ("u2", 1L, None, None) // before any observation → stays null
    ).toDF("u", "seq", "v", "s")
    val out = Windows.forwardFill(df, Seq("u"), Seq(col("seq")), Seq("v", "s"))
      .select("u", "seq", "v", "s").as[(String, Long, Option[Double], Option[String])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out(("u1", 2L)) === ((Some(10.0), Some("a")))) // both fill independently
    assert(out(("u1", 3L)) === ((Some(7.0), Some("a"))))  // real value untouched
    assert(out(("u1", 4L)) === ((Some(7.0), Some("b"))))
    assert(out(("u2", 1L)) === ((None, None)))
    // every filled column shares ONE Window operator: n columns ≠ n sorts
    val p = Windows.forwardFill(df, Seq("u"), Seq(col("seq")), Seq("v", "s"))
      .queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(p).size === 1, p.take(1200))
  }

  test("slidingRangeStats computes trailing-window count and mean per key") {
    def ts(m: Int, s: Int = 0) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:$s%02d")
    val df = Seq(
      ("u1", 1L, ts(0), Some(10.0)),
      ("u1", 2L, ts(30), Some(20.0)),   // frame: rows at 10:00..10:30
      ("u1", 3L, ts(61), Some(30.0)),   // 10:00 fell out (61 min ago)
      ("u1", 4L, ts(62), None),         // NULL value: counted in n, not avg
      ("u2", 5L, ts(0), Some(5.0))
    ).toDF("u", "eid", "ts", "v")
    val out = Windows.slidingRangeStats(df, Seq("u"), col("ts"), col("v"),
        windowSec = 3600)
      .select("eid", "n_win", "avg_win")
      .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((1L, Some(10.0))))
    assert(out(2L) === ((2L, Some(15.0))))
    assert(out(3L) === ((2L, Some(25.0))))  // 20 and 30 in frame
    assert(out(4L) === ((3L, Some(25.0))))  // null v joins frame, avg unchanged
    assert(out(5L) === ((1L, Some(5.0))))
    // both stats share ONE Window operator
    val p = Windows.slidingRangeStats(df, Seq("u"), col("ts"), col("v"), 3600)
      .queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(p).size === 1, p.take(1200))
  }

  test("funnelSteps enforces strict event order and reports the drop-off base") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val events = Seq(
      // u1 completes in order
      ("u1", ts(1), "view"), ("u1", ts(2), "click"), ("u1", ts(3), "purchase"),
      // u2: purchase BEFORE click → funnel stops at click
      ("u2", ts(1), "view"), ("u2", ts(3), "click"), ("u2", ts(2), "purchase"),
      // u3: click before view → only the view counts
      ("u3", ts(2), "view"), ("u3", ts(1), "click"),
      // u4: never viewed → base row with zero steps
      ("u4", ts(1), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val out = Funnel.funnelSteps(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .select("user_id", "steps_completed").as[(String, Int)].collect().toMap
    assert(out === Map("u1" -> 3, "u2" -> 2, "u3" -> 1, "u4" -> 0))
    // reserved-name guard
    intercept[IllegalArgumentException] {
      Funnel.funnelSteps(events.withColumn("t1", lit(1)), "user_id", "ts",
        "event_type", Seq("view"))
    }
  }

  test("topPaths splits on the gap, caps path length, ranks by frequency") {
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val events = Seq(
      // u1 session 1: a>b ; session 2 after 1h gap: a>b
      ("u1", ts(10, 0), "a"), ("u1", ts(10, 1), "b"),
      ("u1", ts(12, 0), "a"), ("u1", ts(12, 1), "b"),
      // u2: a>b once, then c alone in a later session
      ("u2", ts(10, 0), "a"), ("u2", ts(10, 1), "b"),
      ("u2", ts(13, 0), "c")
    ).toDF("user_id", "ts", "event_type")
    val out = Funnel.topPaths(events, "user_id", "ts", "event_type",
        gapSec = 1800, maxLen = 8, topK = 5)
      .select("path", "n_sessions", "rank").as[(String, Long, Long)].collect()
      .sortBy(_._3)
    assert(out.map(r => (r._1, r._2)).toSeq === Seq(("a>b", 3L), ("c", 1L)))
    // maxLen truncates the path
    val long = Seq.tabulate(5)(i => ("u", ts(10, i), s"e$i")).toDF("user_id", "ts", "event_type")
    val capped = Funnel.topPaths(long, "user_id", "ts", "event_type",
      maxLen = 3, topK = 1).select("path").as[String].head()
    assert(capped === "e0>e1>e2")
    // reserved working names are rejected loudly, not silently shadowed
    intercept[IllegalArgumentException] {
      Funnel.topPaths(events.withColumn("__sess", lit(1)),
        "user_id", "ts", "event_type")
    }
  }

  test("psiDrift: identical halves read stable, a shifted sample flags major") {
    import graft.operators.Summaries
    val base = (1 to 2000).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "v")
    val ref = base.filter(col("id") % 2 === 0)
    val same = base.filter(col("id") % 2 === 1)
    val stable = Summaries.psiDrift(ref, same, Seq("v"))
      .as[(String, Double, String)].head()
    assert(stable._3 === "stable" && stable._2 < 0.1, stable)
    // shift most of the mass out of the reference bins (clamps into the
    // top edge bin) — the canonical "population moved" signal
    val shifted = same.withColumn("v", col("v") + 80.0)
    val major = Summaries.psiDrift(ref, shifted, Seq("v"))
      .as[(String, Double, String)].head()
    assert(major._3 === "major" && major._2 >= 0.25, major)
    // an all-NULL current side yields NULL psi, not NaN arithmetic
    val allNull = same.withColumn("v", lit(null).cast("double"))
    val nul = Summaries.psiDrift(ref, allNull, Seq("v"))
      .select("psi", "drift").collect().head
    assert(nul.isNullAt(0) && nul.isNullAt(1))
  }

  test("psiDrift: constant reference still sees drift; all-NULL ref keeps its row") {
    import graft.operators.Summaries
    // constant reference (bin width 0): a wholesale shift must NOT clamp
    // into the reference's single cell and read psi = 0
    val refC = (1 to 100).map(i => (i.toLong, 5.0)).toDF("id", "v")
    val curC = (1 to 100).map(i => (i.toLong, 100.0)).toDF("id", "v")
    val shifted = Summaries.psiDrift(refC, curC, Seq("v"))
      .as[(String, Double, String)].head()
    assert(shifted._3 === "major", shifted)
    val sameC = Summaries.psiDrift(refC, refC, Seq("v"))
      .as[(String, Double, String)].head()
    assert(sameC._3 === "stable" && sameC._2 === 0.0, sameC)
    // an all-NULL reference column still yields its row (NULL psi), and
    // healthy columns in the same call are unaffected
    val ref2 = (1 to 50).map(i =>
      (i.toLong, i.toDouble, None: Option[Double])).toDF("id", "a", "b")
    val cur2 = (1 to 50).map(i =>
      (i.toLong, i.toDouble, Some(1.0): Option[Double])).toDF("id", "a", "b")
    val rows = Summaries.psiDrift(ref2, cur2, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> ((r.isNullAt(1), r.isNullAt(2)))).toMap
    assert(rows("a") === ((false, false)))
    assert(rows("b") === ((true, true)))
  }

  test("rollupSummary on empty input emits the SQL grand-total row") {
    import graft.operators.Summaries
    val empty = Seq.empty[(String, String, Double)].toDF("d1", "d2", "v")
    val out = Summaries.rollupSummary(empty, Seq("d1", "d2"), col("v")).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) === 3L &&
      r.getLong(3) === 0L && r.isNullAt(4), r)
  }

  test("equidepthBins balances a power-law column that equi-width cannot") {
    import graft.operators.Summaries
    val df = (1 to 1000).map(i => (i.toLong, math.pow(i.toDouble, 3)))
      .toDF("id", "v")
    val ed = Summaries.equidepthBins(df, Seq("v"), nBins = 4)
      .select("bin", "n").as[(Long, Long)].collect().toMap
    // quantile cuts put ~250 rows in every bin regardless of the tail
    assert(ed.keySet === Set(0L, 1L, 2L, 3L), ed)
    assert(ed.values.forall(n => n >= 245 && n <= 255), ed)
    // the equi-width histogram of the same column piles the head into
    // bin 0 — the skew equi-depth exists to avoid
    val ew = Summaries.histogram(df, Seq("v"), nBins = 4)
      .select("bin", "n").as[(Long, Long)].collect().toMap
    assert(ew(0L) > 600L, ew)
  }

  test("equidepthBins scalable path equals the percentile yardstick") {
    import graft.operators.Summaries
    // the scalable form's cuts come from ONE batched exactQuantiles
    // narrowing per column instead of the value-buffering percentile
    // agg — output must be identical row for row, including tie-heavy
    // and NULL-bearing columns and a multi-column call
    val df = (1 to 500).map { i =>
      (i.toLong,
        math.pow(i.toDouble, 3),                            // power-law
        (i % 7).toDouble,                                   // heavy ties
        if (i % 5 == 0) None else Some((i % 97).toDouble))  // NULLs mixed in
    }.toDF("id", "a", "b", "c")
    for (nBins <- Seq(2, 4, 10)) {
      def rows(scalable: Boolean) =
        Summaries.equidepthBins(df, Seq("a", "b", "c"), nBins, scalable)
          .collect().map(_.toString).sorted.toSeq
      assert(rows(scalable = true) === rows(scalable = false), s"nBins=$nBins")
    }
    // all-NULL column: absent from the result on BOTH paths
    val an = df.withColumn("d", lit(null).cast("double"))
    for (scalable <- Seq(true, false))
      assert(Summaries.equidepthBins(an, Seq("a", "d"), 4, scalable)
        .filter(col("col_name") === "d").count() === 0L, s"scalable=$scalable")
  }

  test("NaN ≡ missing across the card family: both quantile paths agree with the NaN-filtered frame") {
    import graft.operators.Summaries
    // a raw `percentile` aggregate sorts NaN greatest, so the yardstick
    // path used to shift every cut on NaN-bearing columns while the
    // narrowing (which filters !isnan) did not — the NaN exclusion is
    // now the DOCUMENTED semantic of every distribution operator, and
    // both modes must agree with each other AND with hand-filtering
    val df = (1 to 400).map { i =>
      (i.toLong,
        if (i % 4 == 0) Double.NaN else (i % 83).toDouble,
        if (i % 7 == 0) None else Some(math.pow(i.toDouble, 2)))
    }.toDF("id", "a", "b")
    val clean = df.withColumn("a", when(!isnan(col("a")), col("a")))
    def rows(src: org.apache.spark.sql.DataFrame, scalable: Boolean) =
      Summaries.equidepthBins(src, Seq("a", "b"), 4, scalable)
        .collect().map(_.toString).sorted.toSeq
    assert(rows(df, scalable = true) === rows(df, scalable = false))
    assert(rows(df, scalable = true) === rows(clean, scalable = false))
    // histogram + psiDrift share the entries/bounds plumbing: NaN rows
    // neither bin nor poison the equi-width bounds
    assert(Summaries.histogram(df, Seq("a"), 5).collect().map(_.toString).sorted
      === Summaries.histogram(clean, Seq("a"), 5).collect().map(_.toString).sorted)
    assert(Summaries.psiDrift(df, df, Seq("a"), 5).collect().map(_.toString).sorted
      === Summaries.psiDrift(clean, clean, Seq("a"), 5).collect().map(_.toString).sorted)
    // an all-NaN column behaves exactly like an all-NULL one: absent
    // from bins, present in psiDrift with NULL psi
    val nanOnly = df.withColumn("c", lit(Double.NaN))
    assert(Summaries.histogram(nanOnly, Seq("c"), 5).count() === 0L)
    val psiRow = Summaries.psiDrift(nanOnly, nanOnly, Seq("c"), 5).collect()
    assert(psiRow.length === 1 && psiRow.head.isNullAt(1))
  }

  test("categoricalProfile: an all-NULL column keeps its census row (n_distinct=0, n_nulls=n)") {
    val df = Seq(("en", null: String), ("de", null), (null: String, null))
      .toDF("lang", "license")
    val out = Summaries.categoricalProfile(df, Seq("lang", "license"), k = 2)
    // license has no top-k rows — the census must still publish the one
    // fact a card most needs to report: the column is 100% NULL
    val lic = out.filter(col("col_name") === "license").collect()
    assert(lic.length === 1, lic.toSeq)
    assert(lic.head.getLong(1) === 0L && lic.head.getLong(2) === 3L, lic.head)
    assert(lic.head.isNullAt(3) && lic.head.isNullAt(4) && lic.head.isNullAt(5))
    // and the populated column is unchanged by the outer join
    assert(out.filter(col("col_name") === "lang" && col("rank").isNotNull)
      .count() === 2L)
  }

  test("DatasetCard: quantile vector rows; all-NULL categorical column publishes its census") {
    import graft.operators.DatasetCard
    val df = (1 to 200).map(i =>
      (i.toLong, (i % 50).toDouble,
        if (i % 3 == 0) "en" else "de", null: String))
      .toDF("id", "v", "lang", "license")
    for ((exact, scalable) <- Seq((false, false), (true, false), (true, true))) {
      val card = DatasetCard.build(df, Seq("v"), Seq("lang", "license"),
        exactMedians = exact, scalableMedians = scalable)
      val numItems = card.filter(col("section") === "numeric")
        .select("item").as[String].collect().toSet
      // the default card ships the full quantile vector, not just p50
      assert(Set("p25", "p50", "p75", "p95", "p99").subsetOf(numItems),
        s"exact=$exact scalable=$scalable: $numItems")
      // all-NULL license column: no top-k rows, but the census facts ride
      val lic = card.filter(col("section") === "categorical" &&
          col("col_name") === "license")
        .select("item", "value_d").as[(String, Double)].collect().toMap
      assert(lic === Map("n_distinct" -> 0.0, "n_nulls" -> 200.0),
        s"exact=$exact scalable=$scalable: $lic")
      assert(card.filter(col("section") === "categorical" &&
        col("col_name") === "license" && col("item").rlike("^[0-9]+$"))
        .count() === 0L)
    }
    // the exact paths agree on every quantile row (percentile vs narrowing)
    def numRows(exact: Boolean, scalable: Boolean) =
      DatasetCard.build(df, Seq("v"), Nil,
        exactMedians = exact, scalableMedians = scalable)
        .filter(col("section") === "numeric")
        .collect().map(_.toString).sorted.toSeq
    assert(numRows(exact = true, scalable = false)
      === numRows(exact = true, scalable = true))
  }

  test("rollupSummary equals per-level groupBys; grouping_id tells NULLs apart") {
    import graft.operators.Summaries
    val df = Seq(
      ("A", "x", 1.0), ("A", "x", 2.0), ("A", "y", 4.0),
      ("B", "x", 8.0), ("B", null, 16.0) // genuine NULL dim value
    ).toDF("d1", "d2", "v")
    val out = Summaries.rollupSummary(df, Seq("d1", "d2"), col("v"))
      .as[(Option[String], Option[String], Long, Long, Double)].collect().toSet
    assert(out === Set(
      (Some("A"), Some("x"), 0L, 2L, 3.0),
      (Some("A"), Some("y"), 0L, 1L, 4.0),
      (Some("B"), Some("x"), 0L, 1L, 8.0),
      (Some("B"), None, 0L, 1L, 16.0),      // level 0: the REAL null d2
      (Some("A"), None, 1L, 3L, 7.0),       // level 1: d2 rolled up
      (Some("B"), None, 1L, 2L, 24.0),
      (None, None, 3L, 5L, 31.0)))          // grand total
  }

  test("transitionMatrix counts consecutive pairs with exact probabilities") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val events = Seq(
      ("u1", ts(1), 1L, "a"), ("u1", ts(2), 2L, "b"), ("u1", ts(3), 3L, "a"),
      ("u2", ts(1), 4L, "a"), ("u2", ts(2), 5L, "c")
      // u1: a→b, b→a ; u2: a→c — last events emit nothing
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Funnel.transitionMatrix(events, "user_id", "ts", "event_id", "event_type")
      .select("from_type", "to_type", "n", "n_from", "p")
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out === Map(
      ("a", "b") -> ((1L, 2L, 0.5)),
      ("a", "c") -> ((1L, 2L, 0.5)),
      ("b", "a") -> ((1L, 1L, 1.0))))
  }

  test("cohortRetention counts cohort activity by week offset") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2026-03-$d%02d 12:00:00")
    // 2026-03-02 is a Monday: w0 = Mar 2, w1 = Mar 9, w2 = Mar 16
    val events = Seq(
      ("u1", ts(2)), ("u1", ts(10)), ("u1", ts(17)),  // cohort w0, active w0/w1/w2
      ("u2", ts(3)), ("u2", ts(4)),                   // cohort w0, active w0 only
      ("u3", ts(9)), ("u3", ts(16))                   // cohort w1, active w1/w2
    ).toDF("user_id", "ts")
    val out = Summaries.cohortRetention(events, "user_id", "ts")
      .select("cohort_week", "week_offset", "n_active", "n_cohort")
      .as[(java.sql.Date, Int, Long, Long)].collect()
      .map(r => (r._1.toString, r._2) -> ((r._3, r._4))).toMap
    assert(out === Map(
      ("2026-03-02", 0) -> ((2L, 2L)),
      ("2026-03-02", 1) -> ((1L, 2L)),
      ("2026-03-02", 2) -> ((1L, 2L)),
      ("2026-03-09", 0) -> ((1L, 1L)),
      ("2026-03-09", 1) -> ((1L, 1L))))
  }

  test("scd2Intervals collapses value runs into half-open validity intervals") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val log = Seq(
      ("u1", ts(1), 1L, Some("bronze")),
      ("u1", ts(2), 2L, Some("bronze")),  // same value → same interval
      ("u1", ts(3), 3L, Some("gold")),    // change → new interval
      ("u1", ts(4), 4L, None),            // value → NULL opens an interval
      ("u1", ts(5), 5L, Some("gold")),    // NULL → value opens another
      ("u2", ts(9), 6L, Some("silver"))   // single-run key → one current row
    ).toDF("u", "ts", "eid", "tier")
    val out = Windows.scd2Intervals(log, Seq("u"), Seq(col("ts"), col("eid")),
        Seq("tier"), col("ts"))
      .select("u", "tier", "valid_from", "valid_to", "is_current")
      .as[(String, Option[String], java.sql.Timestamp, Option[java.sql.Timestamp], Int)]
      .collect().sortBy(r => (r._1, r._3.getTime))
    assert(out.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq === Seq(
      ("u1", Some("bronze"), ts(1), Some(ts(3)), 0),
      ("u1", Some("gold"), ts(3), Some(ts(4)), 0),
      ("u1", None, ts(4), Some(ts(5)), 0),
      ("u1", Some("gold"), ts(5), None, 1),
      ("u2", Some("silver"), ts(9), None, 1)))
    // one exchange end-to-end: run window, run agg, and lead window all
    // share the hash(keys) partitioning
    val p = Windows.scd2Intervals(log, Seq("u"), Seq(col("ts"), col("eid")),
      Seq("tier"), col("ts")).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(1500))
    // reserved-name guard
    intercept[IllegalArgumentException] {
      Windows.scd2Intervals(log.withColumnRenamed("tier", "valid_from"),
        Seq("u"), Seq(col("ts")), Seq("valid_from"), col("ts"))
    }
  }

  test("multimodal synthesize produces binary payloads with typed metadata") {
    val base = Seq(1L, 2L, 3L).toDF("c_custkey")
    val media = Multimodal.synthesize(base, "c_custkey")
    val meta = Multimodal.metadataOnly(media).collect()
    assert(meta.length === 3)
    val kinds = meta.map(_.getAs[String]("kind")).toSet
    assert(kinds.subsetOf(Set("image", "audio", "video")))
    assert(media.schema("bytes").dataType.typeName === "binary")
  }

  test("neolab summary keeps NULL-episode rows with a zero census (correlated-COUNT semantics)") {
    val nl = Seq(
      ("F1", "u1", null.asInstanceOf[java.lang.Integer], "2026-01-10",
        "lbl", "ECOLI", null, "Pos", "CULTURE FINAL", "2026-01-09"),
      ("F1", "u1", java.lang.Integer.valueOf(2), "2026-01-11",
        "lbl", "ECOLI", null, "Neg", "CULTURE FINAL", "2026-01-10"))
      .toDF("facility", "uid", "episode", "DateBCR_value", "Org1_label",
        "Org1_value", "OtherOrg1_value", "BCResult_value", "BCType_value",
        "DateBCT_value")
    val got = graft.operators.Neolab.episodeSummary(nl, lit("2026-01-14"))
      .select("episode", "n_cultures_episode")
      .as[(Option[Int], Long)].collect().toSet
    // SQL `=` never matches NULL: the reference's correlated COUNT sees no
    // rows for a NULL episode and returns 0 — the row must SURVIVE with 0,
    // not vanish into an inner join
    assert(got === Set((None, 0L), (Some(2), 1L)))
  }

  test("ImageIoCodec decodes REAL PNG bytes back to the synth parameters") {
    val ids = Seq(0L, 1L, 5L, 300L) // 300 wraps the 256 color space
    val media = Multimodal.synthesizeImages(ids.map(Tuple1(_)).toDF("id"), "id")
    // the payload is a genuine PNG container, not a hash
    val first = media.orderBy("media_id").select("bytes").head.getAs[Array[Byte]](0)
    assert(first.take(4).map(_ & 0xff).sameElements(Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt)))
    val got = Multimodal.decodeMeta(media, ImageIoCodec)
      .select("media_id", "width", "height", "mean_r", "mean_g", "mean_b")
      .as[(Long, Int, Int, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    ids.foreach { id =>
      assert(got(id) === ((id, (id % 4 * 16 + 32).toInt, (id % 3 * 16 + 32).toInt,
        (id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt)))
    }
    // pixel-derived frame features (not the stub's byte hash)
    val f = Multimodal.frameFeatures(
      media.filter(col("media_id") === 5L)
        .withColumn("meta", struct(col("meta.width"), col("meta.height"),
          col("meta.sample_rate"), lit(2).as("n_frames"), col("meta.mime"))),
      everyNth = 1, codec = ImageIoCodec)
      .select("feature").as[Array[Float]].collect()
    assert(f.length === 2 && f(0)(0) === 48.0f && f(0)(1) === 64.0f) // 5%4*16+32, 5%3*16+32
  }

  test("decodeMeta routes corrupt and non-image payloads to NULL measurements") {
    val junk = Multimodal.synthesize(Seq(1L, 2L, 3L).toDF("c_custkey"), "c_custkey")
    val out = Multimodal.decodeMeta(junk, ImageIoCodec).collect()
    // sha-derived fake bytes decode as nothing, audio/video never decode —
    // every row SURVIVES with null width (countable, not dropped)
    assert(out.length === 3 && out.forall(_.isNullAt(2)))
  }

  test("AudioWavCodec decodes REAL WAV bytes back to the synth formulas") {
    val ids = Seq(0L, 1L, 5L, 300L)
    val media = Multimodal.synthesizeAudio(ids.map(Tuple1(_)).toDF("id"), "id")
    // the payload is a genuine RIFF/WAVE container, not a hash
    val first = media.orderBy("media_id").select("bytes").head.getAs[Array[Byte]](0)
    assert(new String(first.take(4), "US-ASCII") === "RIFF")
    assert(new String(first.slice(8, 12), "US-ASCII") === "WAVE")
    val got = Multimodal.decodeAudioMeta(media, AudioWavCodec)
      .select("media_id", "sample_rate", "channels", "bits", "n_samples")
      .as[(Long, Int, Int, Int, Long)].collect().map(r => r._1 -> r).toMap
    ids.foreach { id =>
      assert(got(id) === ((id, (8000 + id % 3 * 4000).toInt, 1, 16,
        (id % 4 * 160 + 320))))
    }
    // amplitude stats are sample-walk ground truth: replay id=5's formula
    val n5 = ((5 % 4) * 160 + 320)
    val samples = (0 until n5).map(t => math.abs(((5 * 31 + t * 7919) % 65536) - 32768))
    val stats = Multimodal.decodeAudioMeta(media, AudioWavCodec)
      .filter(col("media_id") === 5L).select("mean_abs", "peak")
      .as[(Long, Int)].head()
    assert(stats === ((samples.map(_.toLong).sum / n5, samples.max)))
    // payload-derived frame features via the shared sampler path
    val f = Multimodal.frameFeatures(
      media.filter(col("media_id") === 5L)
        .withColumn("meta", struct(col("meta.width"), col("meta.height"),
          col("meta.sample_rate"), lit(2).as("n_frames"), col("meta.mime"))),
      everyNth = 1, codec = AudioWavCodec)
      .select("feature").as[Array[Float]].collect()
    assert(f.length === 2 && f(0)(0) === 16000.0f && f(0)(1) === n5.toFloat)
  }

  test("GifFrameCodec decodes frame f OUT OF the container, not frame 0") {
    val ids = Seq(0L, 5L, 301L)
    val media = Multimodal.synthesizeVideos(ids.map(Tuple1(_)).toDF("id"), "id")
    // the payload is a genuine GIF container
    val first = media.orderBy("media_id").select("bytes").head.getAs[Array[Byte]](0)
    assert(new String(first.take(3), "US-ASCII") === "GIF")
    val feats = Multimodal.frameFeatures(media, everyNth = 1, codec = GifFrameCodec)
      .select("media_id", "frame_no", "feature")
      .as[(Long, Int, Array[Float])].collect()
    // every sampled frame reproduces ITS OWN color formula — a codec
    // that re-decoded frame 0 would fail on every frame_no > 0
    feats.foreach { case (id, f, a) =>
      assert(a != null, s"id=$id f=$f")
      assert(a(0) === (id % 4 * 16 + 32).toFloat && a(1) === (id % 3 * 16 + 32).toFloat)
      assert(math.round(a(2) * 255) === (id + 17 * f) % 256, s"id=$id f=$f r")
      assert(math.round(a(3) * 255) === (id * 7 + 29 * f) % 256, s"id=$id f=$f g")
      assert(math.round(a(4) * 255) === (id * 13 + 41 * f) % 256, s"id=$id f=$f b")
      assert(a(5) === f.toFloat)
    }
    // frame counts come from the container (id%6+2), and an
    // out-of-range request or junk bytes routes to null, not a throw
    assert(feats.count(_._1 == 5L) === 7)
    assert(GifFrameCodec.decodeFrame(first, 999) === null)
    assert(GifFrameCodec.decodeFrame(Array[Byte](1, 2, 3), 0) === null)
    assert(GifFrameCodec.decodeFrame(first, -1) === null)
  }

  test("decodeAudioMeta routes corrupt and non-audio payloads to NULL measurements") {
    val junk = Multimodal.synthesize(Seq(1L, 2L, 3L).toDF("c_custkey"), "c_custkey")
    val out = Multimodal.decodeAudioMeta(junk, AudioWavCodec).collect()
    assert(out.length === 3 && out.forall(_.isNullAt(2)))
    // an image codec asked for audio stays None via the trait default
    assert(ImageIoCodec.decodeAudio(Array[Byte](1, 2, 3)).isEmpty)
  }
}
