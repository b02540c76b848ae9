package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Validate
import graft.operators.Validate._

class ValidateSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  // 8 rows, hand-checkable: id unique; txt has 2 nulls (completeness
  // 6/8); len in [1,100] except one 250; lang ∈ {en,de} except one
  // "xx" and one null; email-ish col half matching.
  private def fixture() = Seq(
    (1L, Some("alpha"), 10L, Some("en"), Some("a@x.com")),
    (2L, Some("beta"), 20L, Some("en"), Some("bad")),
    (3L, None, 30L, Some("de"), Some("c@x.com")),
    (4L, Some("gamma"), 250L, Some("de"), Some("bad2")),
    (5L, Some("delta"), 40L, Some("xx"), Some("d@x.com")),
    (6L, None, 50L, None, Some("bad3")),
    (7L, Some("epsilon"), 60L, Some("en"), Some("e@x.com")),
    (8L, Some("zeta"), 70L, Some("de"), None)
  ).toDF("id", "txt", "len", "lang", "email")

  private def row(rep: org.apache.spark.sql.DataFrame, name: String) =
    rep.filter($"check_name" === name).collect() match {
      case Array(r) => r
      case rs => fail(s"expected 1 row for $name, got ${rs.length}")
    }

  test("report: one row per check, hand-computed values and verdicts") {
    val rep = Validate.report(fixture(), Seq(
      Completeness("txt", 0.7),            // 6/8 = 0.75 ≥ 0.7 pass
      Uniqueness("id", 1.0),               // 8/8 pass
      FracBetween("len", 1, 100, 0.9),     // 7/8 = 0.875 < 0.9 FAIL
      Matches("email", "^[a-z]@x\\.com$", 0.5), // 4/7 ≈ 0.5714 pass
      InSet("lang", Seq("en", "de"), 0.8), // 6/7 non-null ≈ 0.857 pass
      Satisfies("len >= 10 AND len <= 70", "len_win", 0.9),
                                           // 7/8 = 0.875 < 0.9 FAIL
      MinOf("len", 10.0),                  // min=10 pass
      MaxOf("len", 100.0),                 // max=250 FAIL
      MeanBetween("len", 10, 100),         // mean=530/8=66.25 pass
      SizeAtLeast(5)                       // 8 ≥ 5 pass
    ))
    assert(rep.count() == 10)
    assert(rep.columns.toSeq == Seq("check_name", "column_name",
      "requirement", "value", "passed"))

    val comp = row(rep, "completeness(txt)")
    assert(comp.getAs[Double]("value") == 0.75 &&
      comp.getAs[Boolean]("passed"))
    val uniq = row(rep, "uniqueness(id)")
    assert(uniq.getAs[Double]("value") == 1.0 &&
      uniq.getAs[Boolean]("passed"))
    val btw = row(rep, "between(len)")
    assert(btw.getAs[Double]("value") == 0.875 &&
      !btw.getAs[Boolean]("passed"))
    val m = row(rep, "matches(email)")
    assert(m.getAs[Double]("value") == math.rint(4.0 / 7 * 1e6) / 1e6
      && m.getAs[Boolean]("passed"))
    val ins = row(rep, "in_set(lang)")
    assert(ins.getAs[Double]("value") == math.rint(6.0 / 7 * 1e6) / 1e6
      && ins.getAs[Boolean]("passed"))
    val sat = row(rep, "satisfies(len_win)")
    assert(sat.getAs[Double]("value") == 0.875 &&
      !sat.getAs[Boolean]("passed"))
    assert(row(rep, "min(len)").getAs[Double]("value") == 10.0)
    val mx = row(rep, "max(len)")
    assert(mx.getAs[Double]("value") == 250.0 &&
      !mx.getAs[Boolean]("passed"))
    val mean = row(rep, "mean(len)")
    assert(mean.getAs[Double]("value") == 66.25 &&
      mean.getAs[Boolean]("passed"))
    val sz = row(rep, "size()")
    assert(sz.getAs[Double]("value") == 8.0 &&
      sz.getAs[Boolean]("passed"))
  }

  test("single pass: the whole suite plans exactly ONE Aggregate over " +
      "one scan (no per-check re-aggregation, no join)") {
    val rep = Validate.report(fixture(), Seq(
      Completeness("txt", 0.5), Uniqueness("id", 1.0),
      FracBetween("len", 1, 100, 0.5), MeanBetween("len", 0, 100)))
    val plan = rep.queryExecution.optimizedPlan.toString
    val nAggs = "(?m)^\\s*[+:-]*\\s*Aggregate".r
      .findAllIn(plan).size
    assert(nAggs == 1, s"expected 1 Aggregate, plan:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("null/empty semantics: all-null column and empty frame read " +
      "unknown (null value+passed), never a silent pass; SizeAtLeast " +
      "reads 0 and FAILS on empty") {
    val allNull = Seq[(Long, Option[String])]((1L, None), (2L, None))
      .toDF("id", "txt")
    val rep1 = Validate.report(allNull, Seq(
      Completeness("txt", 0.5),     // 0/2 = 0.0: known, FAILS
      FracBetween("id", 0, 10, 1.0), Uniqueness("txt", 1.0),
      Matches("txt", "x", 0.5)))
    val c = row(rep1, "completeness(txt)")
    assert(c.getAs[Double]("value") == 0.0 &&
      !c.getAs[Boolean]("passed"))
    // fraction-of-non-null checks over an all-null column: unknown
    for (n <- Seq("uniqueness(txt)", "matches(txt)")) {
      val r = row(rep1, n)
      assert(r.isNullAt(r.fieldIndex("value")) &&
        r.isNullAt(r.fieldIndex("passed")), s"$n should be unknown")
    }

    val empty = fixture().filter(lit(false))
    val rep2 = Validate.report(empty, Seq(
      Completeness("txt", 0.5), MinOf("len", 0), SizeAtLeast(1)))
    val sz = row(rep2, "size()")
    assert(sz.getAs[Double]("value") == 0.0 &&
      !sz.getAs[Boolean]("passed"))
    for (n <- Seq("completeness(txt)", "min(len)")) {
      val r = row(rep2, n)
      assert(r.isNullAt(r.fieldIndex("value")) &&
        r.isNullAt(r.fieldIndex("passed")), s"$n should be unknown")
    }
  }

  test("satisfies: rows where the predicate is NULL count as NOT " +
      "satisfying (conservative), not as skipped") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "v")
    val rep = Validate.report(df, Seq(
      Satisfies("v < 10", "v_small", 0.5)))
    // v<10: true, null, false → 1/3
    val r = row(rep, "satisfies(v_small)")
    assert(r.getAs[Double]("value") == math.rint(1.0 / 3 * 1e6) / 1e6)
    assert(!r.getAs[Boolean]("passed"))
  }

  test("grouped report (by): per-group metrics; a group failing a " +
      "check doesn't leak into another group's verdict") {
    val rep = Validate.report(fixture(), Seq(
      FracBetween("len", 1, 100, 1.0)), by = Seq("lang"))
    val de = rep.filter($"lang" === "de").collect()(0)
    assert(!de.getAs[Boolean]("passed")) // the 250 row is de
    val en = rep.filter($"lang" === "en").collect()(0)
    assert(en.getAs[Boolean]("passed") &&
      en.getAs[Double]("value") == 1.0)
    // null-lang group still reports
    assert(rep.filter($"lang".isNull).count() == 1)
  }

  test("uniqueness: duplicate values lower the distinct fraction " +
      "exactly (unsaturated KMV = exact)") {
    val df = Seq(1L, 2L, 2L, 3L, 3L, 3L).toDF("v")
    val rep = Validate.report(df, Seq(Uniqueness("v", 0.9)))
    val r = row(rep, "uniqueness(v)")
    assert(r.getAs[Double]("value") == 0.5) // 3 distinct / 6
    assert(!r.getAs[Boolean]("passed"))
  }

  test("assertPassed: green suite returns; failures throw listing " +
      "every failed check with its value; unknown counts as failure") {
    Validate.assertPassed(fixture(), Seq(
      Completeness("txt", 0.7), Uniqueness("id", 1.0),
      SizeAtLeast(1)))
    val e = intercept[IllegalStateException] {
      Validate.assertPassed(fixture(), Seq(
        Completeness("txt", 0.99), MaxOf("len", 100.0),
        SizeAtLeast(1)))
    }
    assert(e.getMessage.contains("completeness(txt)"))
    assert(e.getMessage.contains("max(len)"))
    assert(e.getMessage.contains("0.75"))
    assert(!e.getMessage.contains("size()"))
    // unknown (all-null column) must not slip through as a pass
    val allNull = Seq[(Long, Option[String])]((1L, None))
      .toDF("id", "txt")
    val e2 = intercept[IllegalStateException] {
      Validate.assertPassed(allNull, Seq(Matches("txt", "x", 0.5)))
    }
    assert(e2.getMessage.contains("unknown"))
  }

  test("profile: one row per column, hand-computed stats — dtype, " +
      "completeness, exact distinct, numeric envelope, string top " +
      "values by (count desc, value asc); non-applicable stats null") {
    val p = Validate.profile(fixture()).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(p.size == 5)

    val id = p("id")
    assert(id.getAs[String]("dtype") == "bigint")
    assert(id.getAs[Long]("n_rows") == 8 &&
      id.getAs[Long]("n_null") == 0)
    assert(id.getAs[Double]("completeness") == 1.0)
    assert(id.getAs[Double]("n_distinct") == 8.0)
    assert(id.getAs[Double]("distinct_frac") == 1.0)
    assert(id.getAs[Double]("min_value") == 1.0 &&
      id.getAs[Double]("max_value") == 8.0 &&
      id.getAs[Double]("mean_value") == 4.5)
    assert(id.isNullAt(id.fieldIndex("top_values")),
      "numeric columns have no top_values")

    val txt = p("txt")
    assert(txt.getAs[Double]("completeness") == 0.75)
    assert(txt.getAs[Double]("n_distinct") == 6.0)
    assert(txt.getAs[Double]("distinct_frac") == 1.0)
    assert(txt.isNullAt(txt.fieldIndex("min_value")) &&
      txt.isNullAt(txt.fieldIndex("mean_value")))
    // all counts 1 → pure value-asc order
    assert(txt.getSeq[String](txt.fieldIndex("top_values")).toSeq ==
      Seq("alpha", "beta", "delta", "epsilon", "gamma", "zeta"))

    val lang = p("lang")
    assert(lang.getAs[Double]("completeness") == 0.875)
    assert(lang.getAs[Double]("n_distinct") == 3.0)
    // en×3, de×3, xx×1 → tie at 3 broken value-asc
    assert(lang.getSeq[String](lang.fieldIndex("top_values")).toSeq ==
      Seq("de", "en", "xx"))

    val len = p("len")
    assert(len.getAs[Double]("min_value") == 10.0 &&
      len.getAs[Double]("max_value") == 250.0 &&
      len.getAs[Double]("mean_value") == 66.25)

    // column subset + unknown column refusal + topK cap
    assert(Validate.profile(fixture(), Seq("id", "lang")).count() == 2)
    intercept[IllegalArgumentException] {
      Validate.profile(fixture(), Seq("nope"))
    }
    val capped = Validate.profile(fixture(), Seq("txt"), topK = 2)
      .collect().head
    assert(capped.getSeq[String](capped.fieldIndex("top_values")).toSeq ==
      Seq("alpha", "beta"))
  }

  test("profile: timestamp columns report their time envelope as " +
      "epoch millis (min/max; mean stays null), and suggestChecks " +
      "never pins a frozen time window on them") {
    val df = Seq(1000L, 5000L, 3000L).toDF("ms")
      .withColumn("ts", timestamp_millis($"ms"))
    val p = Validate.profile(df, Seq("ts")).collect().head
    assert(p.getAs[String]("dtype").startsWith("timestamp"))
    assert(p.getAs[Double]("min_value") == 1000.0 &&
      p.getAs[Double]("max_value") == 5000.0)
    assert(p.isNullAt(p.fieldIndex("mean_value")))
    assert(p.getAs[Double]("n_distinct") == 3.0)
    val suite = Validate.suggestChecks(df, Seq("ts"))
    assert(!suite.exists(_.name == "between(ts)"),
      "a frozen time window must not be suggested for event time")
    // ...but the rest of the contract still applies to the column
    assert(suite.exists(_.name == "completeness(ts)"))
    Validate.assertPassed(df, suite)
  }

  test("profile: empty frame and all-null column — null completeness/" +
      "stats rather than garbage; n_distinct reads 0") {
    val empty = fixture().filter(lit(false))
    val pe = Validate.profile(empty, Seq("id", "txt")).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(pe("id").getAs[Long]("n_rows") == 0)
    assert(pe("id").isNullAt(pe("id").fieldIndex("completeness")))
    assert(pe("id").getAs[Double]("n_distinct") == 0.0)
    val allNull = Seq[(Long, Option[String])]((1L, None), (2L, None))
      .toDF("id", "txt")
    val pn = Validate.profile(allNull, Seq("txt")).collect().head
    assert(pn.getAs[Double]("completeness") == 0.0)
    assert(pn.getAs[Double]("n_distinct") == 0.0)
    assert(pn.isNullAt(pn.fieldIndex("distinct_frac")))
    assert(pn.getSeq[String](pn.fieldIndex("top_values")).toSeq == Seq.empty)
  }

  test("suggestChecks: the suggested contract PASSES on the profiled " +
      "frame itself, and encodes the observed shape — key uniqueness, " +
      "numeric envelopes, small value sets, size floor") {
    val suite = Validate.suggestChecks(fixture())
    // the central property: profile a healthy drop, its suggestions
    // hold on that very drop
    Validate.assertPassed(fixture(), suite)
    val byName = suite.map(c => c.name -> c).toMap
    assert(byName.contains("uniqueness(id)"),
      "complete fully-distinct column must suggest a key check")
    assert(!suite.exists(_.name == "uniqueness(txt)"),
      "a column with nulls is not a key")
    assert(byName("completeness(id)")
      .asInstanceOf[Completeness].minFrac == 1.0)
    assert(byName("completeness(txt)")
      .asInstanceOf[Completeness].minFrac == 0.75)
    val lenRange = byName("between(len)").asInstanceOf[FracBetween]
    assert(lenRange.lo == 10.0 && lenRange.hi == 250.0 &&
      lenRange.minFrac == 1.0)
    val langSet = byName("in_set(lang)").asInstanceOf[InSet]
    assert(langSet.values == Seq("de", "en", "xx"))
    assert(byName("size()").asInstanceOf[SizeAtLeast].atLeast == 4L)
    // a later drop that breaks the envelope fails the suggested suite
    val drifted = fixture().withColumn("len", col("len") * 100)
    intercept[IllegalStateException] {
      Validate.assertPassed(drifted, suite)
    }
  }

  test("suggestChecks: rounding edges — a handful of nulls (or one " +
      "dup) on a large frame rounds the profile fraction to 1.0, but " +
      "the 1.0-threshold rules gate on exact counts, so the " +
      "suggested suite still PASSES on the profiled frame itself") {
    // 3,000,001 rows, exactly one null: completeness =
    // 3000000/3000001 = 0.9999996…, which ROUNDS to 1.0 at the
    // profile's 6 decimals — Completeness(c, 1.0) would fail on the
    // unrounded metric; near_key has one duplicate, so distinct_frac
    // also rounds to 1.0 while the true fraction is < 1
    val big = spark.range(3000001L)
      .select(
        when($"id" === 0L, lit(null).cast("long")).otherwise($"id")
          .as("almost_complete"),
        when($"id" === 0L, lit(1L)).otherwise($"id").as("near_key"))
    val suite = Validate.suggestChecks(big)
    val byName = suite.map(c => c.name -> c).toMap
    val comp = byName("completeness(almost_complete)")
      .asInstanceOf[Completeness]
    assert(comp.minFrac == 0.99,
      "a column WITH nulls must get a floored threshold, never 1.0")
    assert(!byName.contains("uniqueness(near_key)") &&
      !byName.contains("uniqueness(almost_complete)"),
      "approximate-regime near-1.0 distinct fractions must not be " +
        "pinned to a key check")
    Validate.assertPassed(big, suite)

    // exact-regime twin: a fully distinct column whose non-null
    // count exceeds the sketch k is OUTSIDE the exact regime — no
    // key check even though it would happen to pass here
    val small = spark.range(20L).select($"id".as("k20"))
    val smallSuite = Validate.suggestChecks(small, k = 16)
    assert(!smallSuite.exists(_.name == "uniqueness(k20)"))
    Validate.assertPassed(small, smallSuite)
    val exact = Validate.suggestChecks(small, k = 64)
    assert(exact.exists(_.name == "uniqueness(k20)"))
    Validate.assertPassed(small, exact)
  }

  test("profile: DateType time envelope is timezone-independent — " +
      "the same date column reads identical epoch millis under " +
      "different session time zones") {
    val df = Seq("2026-03-01", "2026-03-15").toDF("d")
      .select(to_date($"d").as("d"))
    val tzKey = "spark.sql.session.timeZone"
    val orig = spark.conf.get(tzKey)
    def envelope(): (Double, Double) = {
      val r = Validate.profile(df, Seq("d")).collect().head
      (r.getAs[Double]("min_value"), r.getAs[Double]("max_value"))
    }
    try {
      spark.conf.set(tzKey, "UTC")
      val utc = envelope()
      spark.conf.set(tzKey, "America/Los_Angeles")
      val la = envelope()
      spark.conf.set(tzKey, "Asia/Tokyo")
      val tokyo = envelope()
      assert(utc == la && la == tokyo,
        s"DateType envelope must not depend on session tz: " +
          s"$utc / $la / $tokyo")
      // and it is the UTC-midnight epoch millis of the dates
      assert(utc._1 == 20513.0 * 86400000 && utc._2 == 20527.0 * 86400000)
    } finally spark.conf.set(tzKey, orig)
  }

  test("meltMetrics + writeMonitorReport: monitor rows melt into " +
      "history series (key-suffixed check names), share writeReport's " +
      "duplicate-run refusal, and anomalies grades a planted shift") {
    val rep = Seq(("src1", 100L, 0L, 0.12), ("src2", 90L, 2L, 0.15))
      .toDF("source", "n_rows", "n_null", "tvd")
    // key-suffixed naming: one series per (metric, slice)
    val melted = Validate.meltMetrics(rep, Seq("n_rows", "tvd"),
      keyCols = Seq("source"))
    assert(melted.columns.toSeq ==
      Seq("check_name", "value", "passed"))
    val byName = melted.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byName == Map("n_rows(source=src1)" -> 100.0,
      "n_rows(source=src2)" -> 90.0, "tvd(source=src1)" -> 0.12,
      "tvd(source=src2)" -> 0.15))
    assert(melted.collect().forall(r => r.isNullAt(2)),
      "monitors emit measurements, not verdicts")
    // carry passes through; null keys stringify
    val carried = Validate.meltMetrics(rep, Seq("tvd"),
      carry = Seq("source"))
    assert(carried.columns.toSeq ==
      Seq("source", "check_name", "value", "passed"))
    val nullKey = Seq((Option.empty[String], 1.0)).toDF("k", "m")
    assert(Validate.meltMetrics(nullKey, Seq("m"), keyCols = Seq("k"))
      .collect().head.getString(0) == "m(k=null)")
    // writeMonitorReport logs through the SAME path + refusal as v4
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mhist").toString + "/hist"
    Validate.writeMonitorReport(rep, dir, "2026-08-01",
      Seq("n_rows", "tvd"), keyCols = Seq("source"))
    val e = intercept[IllegalArgumentException] {
      Validate.writeMonitorReport(rep, dir, "2026-08-01",
        Seq("n_rows", "tvd"), keyCols = Seq("source"))
    }
    assert(e.getMessage.contains("already logged"))
    // a validation report can append to the same log (shared shape)
    Validate.writeReport(
      Validate.report(fixture(), Seq(SizeAtLeast(1))), dir,
      "2026-08-02")
    assert(Validate.readHistory(spark, dir).count() == 5)
    // anomalies over an accumulated monitor history: 8 steady runs
    // then a shifted drop — the shifted metric flags, the steady
    // companion does not
    val histRows = (1 to 8).flatMap(i => Seq(
      (s"r$i", "tvd(source=src1)", 0.10 + 0.001 * (i % 3)),
      (s"r$i", "n_rows(source=src1)", 100.0 + (i % 2))))
    val hist = histRows.toDF("run_id", "check_name", "value")
    val cur = Seq(("tvd(source=src1)", 0.55),
      ("n_rows(source=src1)", 100.0))
      .toDF("check_name", "value")
    val graded = Validate.anomalies(hist, cur).collect()
      .map(r => r.getString(r.fieldIndex("check_name")) ->
        r.getAs[Boolean]("is_anomaly")).toMap
    assert(graded("tvd(source=src1)"))
    assert(!graded("n_rows(source=src1)"))
    // refusals
    intercept[IllegalArgumentException] {
      Validate.meltMetrics(rep, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Validate.meltMetrics(rep, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      Validate.meltMetrics(rep, Seq("tvd"), keyCols = Seq("tvd"))
    }
  }

  test("monitor history over WINDOWED monitor output: driftMonitor " +
      "windows melt under a stable window-POSITION key (hour of " +
      "day), accumulate per (run, metric, hour) across daily drops, " +
      "and a drifted window flags against its own hour's history") {
    import graft.api.DataStream
    import graft.api.WindowShape.Fixed
    import graft.operators.Drift
    // one 'drop' per day: two hourly windows (00 and 01), values
    // drawn so hour 00 sits at the baseline mix and hour 01 slightly
    // off; the LAST drop's hour-01 window is fully drifted
    val bounds = Seq(10.0)
    val fracs = Seq(0.5, 0.5)
    // hour 00: constant 2-low/2-high (tvd 0 every day — the MAD=0
    // degenerate series); hour 01: 10 rows with 5 or 6 low values
    // alternating by day (tvd oscillates 0/0.1 — a real-variance
    // series, so the drifted day grades through the z path)
    def drop(day: Int, h1Drifted: Boolean) = {
      val base = Seq(5.0, 15.0, 5.0, 15.0).zipWithIndex.map {
        case (v, i) => (day * 86400000L + i * 60000L, v) }
      val lowCount = if (h1Drifted) 10 else 5 + (day % 2)
      val h1 = (0 until 10).map { i =>
        (day * 86400000L + 3600000L + i * 60000L,
          if (i < lowCount) 5.0 else 15.0)
      }
      (base ++ h1).toDF("ms", "v")
        .select(timestamp_millis($"ms").as("ts"), $"v")
    }
    def windows(df: org.apache.spark.sql.DataFrame) =
      DataStream(df, "ts").driftMonitor("v", Fixed("1 hour"), bounds, fracs)
        .df
        .withColumn("hour_of_day",
          hour(col("window_start_time")))
    val metrics = Seq("n_rows", "tvd", "max_shift")
    // 6 clean daily runs accumulate history per (metric, hour) key
    val hist = (1 to 6).map { day =>
      Validate.meltMetrics(windows(drop(day, h1Drifted = false)),
          metrics, keyCols = Seq("hour_of_day"))
        .select(lit(s"day$day").as("run_id"), col("check_name"),
          col("value"))
    }.reduce(_ unionByName _)
    assert(hist.select("check_name").distinct().count() == 6,
      "3 metrics x 2 window positions = 6 history series")
    // day 7: hour 01 drifted
    val cur = Validate.meltMetrics(windows(drop(7, h1Drifted = true)),
      metrics, keyCols = Seq("hour_of_day"))
    val graded = Validate.anomalies(hist, cur, minRuns = 5)
      .collect()
      .map(r => r.getString(r.fieldIndex("check_name")) ->
        Option(r.getAs[java.lang.Boolean]("is_anomaly"))
          .map(_.booleanValue())).toMap
    assert(graded("tvd(hour_of_day=1)").contains(true),
      s"the drifted hour-1 window must flag: $graded")
    assert(graded("tvd(hour_of_day=0)").contains(false),
      "the clean hour-0 window must not flag")
    assert(graded("n_rows(hour_of_day=1)").contains(false),
      "row count is unremarkable — only the mix drifted")
  }

  test("writeReport concurrency: the _run marker claim is create-" +
      "exclusive — of two simultaneous writers of one runId exactly " +
      "one wins; a claimed-but-crashed run still refuses its redo") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-race").toString + "/hist"
    val suite = Seq(Completeness("txt", 0.5), SizeAtLeast(1))
    val rep = Validate.report(fixture(), suite)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CountDownLatch(1)
    val attempts = (1 to 2).map(_ => Future {
      gate.await()
      try { Validate.writeReport(rep, dir, "2026-08-09"); true }
      catch { case _: IllegalArgumentException => false }
    })
    gate.countDown()
    val outcomes = Await.result(Future.sequence(attempts), 2.minutes)
    assert(outcomes.count(identity) == 1 &&
      outcomes.count(!_) == 1,
      s"exactly one writer must win the claim, got $outcomes")
    assert(Validate.readHistory(spark, dir)
      .filter(col("run_id") === "2026-08-09").count() == 2,
      "the winner logged exactly one report (2 checks)")
    // a marker WITHOUT data (claimed, then crashed before the
    // parquet write) still refuses the runId — and other runs log
    // fine next to it
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-race2").toString + "/hist"
    val p2 = new org.apache.hadoop.fs.Path(dir2)
    val fs = p2.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p2)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest("crashed-run".getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    fs.create(new org.apache.hadoop.fs.Path(p2, s"_run-$digest"),
      false).close()
    val e = intercept[IllegalArgumentException] {
      Validate.writeReport(rep, dir2, "crashed-run")
    }
    assert(e.getMessage.contains("marker"))
    Validate.writeReport(rep, dir2, "fresh-run")
    assert(Validate.readHistory(spark, dir2).count() == 2)
  }

  test("metric history: writeReport appends run-stamped rows, " +
      "duplicate runId refuses, readHistory round-trips") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vhist").toString + "/hist"
    val suite = Seq(Completeness("txt", 0.5), SizeAtLeast(1))
    Validate.writeReport(Validate.report(fixture(), suite),
      dir, "2026-08-01")
    Validate.writeReport(Validate.report(fixture().limit(4), suite),
      dir, "2026-08-02")
    val hist = Validate.readHistory(spark, dir)
    assert(hist.count() == 4) // 2 runs × 2 checks
    assert(hist.select("run_id").distinct().count() == 2)
    val e = intercept[IllegalArgumentException] {
      Validate.writeReport(Validate.report(fixture(), suite),
        dir, "2026-08-01")
    }
    assert(e.getMessage.contains("already logged"))
    intercept[IllegalArgumentException] {
      Validate.writeReport(fixture(), dir, "2026-08-03")
    }
  }

  test("anomalies: robust z against history median/MAD — flags the " +
      "break, MAD=0 means any deviation is anomalous, short history " +
      "reads null verdict, unknown checks read null stats") {
    import spark.implicits._
    // 6 runs of history: metric m stable around 10 (MAD>0), metric c
    // constant 1.0 (MAD=0)
    val hist = (Seq(9.0, 10.0, 10.0, 10.0, 11.0, 12.0)
        .zipWithIndex.map { case (v, i) => (s"r$i", "m", v) } ++
      (0 until 6).map(i => (s"r$i", "c", 1.0)))
      .toDF("run_id", "check_name", "value")
    // current: m = 100 (break), c = 1.0 (on median)
    val cur = Seq(("m", 100.0), ("c", 1.0), ("new_check", 5.0))
      .toDF("check_name", "value")
    val got = Validate.anomalies(hist, cur).collect()
      .map(r => r.getAs[String]("check_name") -> r).toMap
    val m = got("m")
    // median 10, deviations (1,0,0,0,1,2) → MAD = 0.5
    assert(m.getAs[Double]("median_value") == 10.0)
    assert(m.getAs[Double]("mad") == 0.5)
    assert(m.getAs[Double]("z") ==
      math.rint((100.0 - 10.0) / (1.4826 * 0.5) * 1e6) / 1e6)
    assert(m.getAs[Boolean]("is_anomaly"))
    val c = got("c")
    assert(c.getAs[Double]("mad") == 0.0 &&
      c.isNullAt(c.fieldIndex("z")) &&
      !c.getAs[Boolean]("is_anomaly"))
    // ...but a deviation from a constant history IS anomalous
    val cur2 = Seq(("c", 0.98)).toDF("check_name", "value")
    val got2 = Validate.anomalies(hist, cur2).collect().head
    assert(got2.getAs[Boolean]("is_anomaly"))
    // a check with no history: null stats, null verdict
    val nc = got("new_check")
    assert(nc.isNullAt(nc.fieldIndex("median_value")) &&
      nc.isNullAt(nc.fieldIndex("is_anomaly")))
    // short history (< minRuns): verdict null, stats present
    val shortH = Seq(("r0", "m", 10.0), ("r1", "m", 11.0))
      .toDF("run_id", "check_name", "value")
    val gotS = Validate.anomalies(shortH,
      Seq(("m", 99.0)).toDF("check_name", "value")).collect().head
    assert(gotS.isNullAt(gotS.fieldIndex("is_anomaly")))
    assert(gotS.getAs[Long]("n_runs") == 2)
    intercept[IllegalArgumentException] {
      Validate.anomalies(hist, cur, nMad = 0.0)
    }
  }

  test("severity: alert on failed, warn on unknown verdicts, ok on " +
      "pass; refuses a frame without 'passed'") {
    val allNull = Seq[(Long, Option[String])]((1L, None), (2L, None))
      .toDF("id", "txt")
    val rep = Validate.severity(Validate.report(allNull, Seq(
      Completeness("txt", 0.5),   // 0.0 → alert
      Matches("txt", "x", 0.5),   // unknown → warn
      SizeAtLeast(1))))           // pass → ok
    val sev = rep.collect()
      .map(r => r.getAs[String]("check_name") ->
        r.getAs[String]("severity")).toMap
    assert(sev == Map("completeness(txt)" -> "alert",
      "matches(txt)" -> "warn", "size()" -> "ok"))
    val e = intercept[IllegalArgumentException] {
      Validate.severity(allNull)
    }
    assert(e.getMessage.contains("passed"))
    // changePoints rows grade through the same sink column:
    // is_shift true → alert, NULL verdict → warn, false → ok
    val shifts = Seq((Some(true), "r1"), (Some(false), "r2"),
      (Option.empty[Boolean], "r3")).toDF("is_shift", "run_id")
    assert(Validate.severity(shifts).collect()
      .map(r => r.getString(1) -> r.getAs[String]("severity")).toMap ==
      Map("r1" -> "alert", "r2" -> "ok", "r3" -> "warn"))
    // a frame carrying BOTH grades the explicit verdict
    val both = Seq((Some(true), Some(true)), (Some(false), Some(false)))
      .toDF("passed", "is_shift")
    assert(Validate.severity(both).collect()
      .map(_.getAs[String]("severity")).toSeq == Seq("ok", "alert"))
  }

  test("end-to-end validation lifecycle: profile a healthy drop → " +
      "suggested contract → gate later drops → log metrics → the " +
      "anomalous drop flags against its own history") {
    val healthy = fixture()
    val suite = Validate.suggestChecks(healthy)
    Validate.assertPassed(healthy, suite) // the suggestion property
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlife").toString + "/hist"
    // six healthy drops (mild deterministic variation) build history
    (0 until 6).foreach { i =>
      val drop = healthy.withColumn("len", col("len") + lit(i))
      Validate.writeReport(Validate.report(drop, suite), dir,
        s"drop-$i")
    }
    // a drifted drop: lengths shifted far beyond the envelope
    val drifted = healthy.withColumn("len", col("len") * 100)
    intercept[IllegalStateException] {
      Validate.assertPassed(drifted, suite) // the hard gate fires
    }
    val graded = Validate.anomalies(
      Validate.readHistory(spark, dir),
      Validate.report(drifted, suite), minRuns = 5)
    // the range-fraction metric must read anomalous vs its history
    val btw = graded.filter($"check_name" === "between(len)")
      .collect().head
    assert(btw.getAs[Boolean]("is_anomaly"),
      "the drifted envelope metric must flag against history")
    // severity grades the failed rows for the sink
    val sev = Validate.severity(Validate.report(drifted, suite))
    assert(sev.filter($"severity" === "alert").count() >= 1)
  }

  test("refusals: empty suite, duplicate check names, inverted bounds") {
    intercept[IllegalArgumentException] {
      Validate.report(fixture(), Seq.empty)
    }
    val e = intercept[IllegalArgumentException] {
      Validate.report(fixture(),
        Seq(Completeness("txt", 0.5), Completeness("txt", 0.9)))
    }
    assert(e.getMessage.contains("duplicate"))
    intercept[IllegalArgumentException] { FracBetween("len", 10, 1) }
    intercept[IllegalArgumentException] { MeanBetween("len", 10, 1) }
    intercept[IllegalArgumentException] { InSet("lang", Seq.empty) }
  }

  test("changePoints: hand-replayed CUSUM — a persistent +~1.5σ " +
      "shift the per-run z never flags crosses h within two runs; " +
      "fold order pinned by run_id; per-check isolation; MAD=0 and " +
      "minRuns degenerates; refusals") {
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // six calm runs (9..11 jitter) then four shifted (14/15):
    // median 10.5, MAD 1.5 — every |z| < 3.5 (the anomalies() rule
    // would NEVER flag), but S+ accumulates past h=2 from run 8 on
    val vals = Seq(9.0, 10.0, 11.0, 10.0, 9.0, 10.0,
      14.0, 15.0, 14.0, 15.0)
    val hist = vals.zipWithIndex.map { case (v, i) =>
      (f"r${i + 1}%02d", "m", v) }
      .toDF("run_id", "check_name", "value")
    val got = Validate.changePoints(hist, k = 0.5, h = 2.0)
      .orderBy("run_id").collect()
    assert(got.length == 10)
    // replay the exact arithmetic: z rounded at 6, then the fold
    val med = 10.5
    val mad = 1.5
    val zs = vals.map(v => r6((v - med) / (1.4826 * mad)))
    val sps = zs.scanLeft(0.0)((s, z) => math.max(0.0, s + z - 0.5))
      .drop(1)
    val sns = zs.scanLeft(0.0)((s, z) => math.max(0.0, s - z - 0.5))
      .drop(1)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Double]("median_value") == med)
      assert(r.getAs[Double]("mad") == mad)
      assert(r.getAs[Double]("z") == zs(i), s"z at run ${i + 1}")
      assert(r.getAs[Double]("cusum_pos") == sps(i),
        s"S+ at run ${i + 1}")
      assert(r.getAs[Double]("cusum_neg") == sns(i),
        s"S- at run ${i + 1}")
      assert(r.getAs[Boolean]("is_shift") ==
        (sps(i) > 2.0 || sns(i) > 2.0))
    }
    // the per-run anomaly rule really is blind to this shift...
    assert(zs.forall(z => math.abs(z) < 3.5))
    // ...while CUSUM flags every run from the second post-shift one
    assert(got.map(_.getAs[Boolean]("is_shift")).toSeq ==
      Seq(false, false, false, false, false, false, false,
        true, true, true))
    // per-check isolation: an interleaved calm series stays quiet
    val two = hist.unionByName(vals.indices.map(i =>
        (f"r${i + 1}%02d", "calm", 10.0 + (i % 2))).toDF(
        "run_id", "check_name", "value"))
    val byCheck = Validate.changePoints(two, k = 0.5, h = 2.0)
      .collect().groupBy(_.getAs[String]("check_name"))
    assert(byCheck("m").map(_.getAs[Boolean]("is_shift"))
      .count(identity) == 3)
    assert(byCheck("calm").forall(!_.getAs[Boolean]("is_shift")))
    // MAD = 0: constant history, one deviating run — z/cusum NULL,
    // is_shift = value != median (the anomalies() convention)
    val const = (1 to 7).map(i => (f"r$i%02d", "c",
      if (i == 4) 2.0 else 1.0)).toDF("run_id", "check_name", "value")
    val cRows = Validate.changePoints(const).orderBy("run_id")
      .collect()
    assert(cRows.forall(r => r.isNullAt(r.fieldIndex("z")) &&
      r.isNullAt(r.fieldIndex("cusum_pos"))))
    assert(cRows.map(_.getAs[Boolean]("is_shift")).toSeq ==
      Seq(false, false, false, true, false, false, false))
    // under minRuns: verdict NULL, not a pass
    val short = (1 to 3).map(i => (f"r$i%02d", "s", i * 100.0))
      .toDF("run_id", "check_name", "value")
    val sRows = Validate.changePoints(short).collect()
    assert(sRows.forall(r => r.isNullAt(r.fieldIndex("is_shift"))))
    intercept[IllegalArgumentException] {
      Validate.changePoints(hist, k = -1.0)
    }
    intercept[IllegalArgumentException] {
      Validate.changePoints(hist, h = 0.0)
    }
    intercept[IllegalArgumentException] {
      Validate.changePoints(hist.drop("value"))
    }
  }

  test("classifier-metric history bridge: per-drop aucReport rows " +
      "melt into the metric history (check_name = metric×source), a " +
      "planted slow AUC decay the per-run rule never flags alerts " +
      "through changePoints → severity, and the disk round-trip " +
      "(writeMonitorReport/readHistory) grades identically to the " +
      "in-memory history") {
    import graft.operators.TextAnalysis
    // per run: 1 positive scored m+0.5 over 20 negatives scored
    // 1..20 → AUC is EXACTLY m/20 (the #negatives ranked below).
    // Eight calm drops (m 18..19, AUC .90/.95) then four slowly
    // decaying (17,16,15,14 → .85...70): each post-shift z is small
    // against the calm median/MAD, but S- accumulates across runs —
    // the scorer-quality slow-creep the bridge exists to catch.
    val ms = Seq(18, 19, 18, 19, 18, 19, 18, 19, 17, 16, 15, 14)
    def drop(m: Int) =
      (("s1", 1, m + 0.5) +: (1 to 20).map(j => ("s1", 0, j.toDouble)))
        .toDF("source", "y", "score")
    val perRun = ms.zipWithIndex.map { case (m, i) =>
      val rep = TextAnalysis.aucReport(drop(m), "y", "score",
        by = Seq("source"))
      f"r${i + 1}%02d" -> Validate.meltMetrics(rep, Seq("auc"),
        keyCols = Seq("source"))
    }
    // sanity: the melt names the series metric×source and carries
    // the exact AUC
    val first = perRun.head._2.collect()
    assert(first.map(_.getAs[String]("check_name")).toSeq ==
      Seq("auc(source=s1)"))
    assert(first.head.getAs[Double]("value") == 18.0 / 20)
    // in-memory history: union of run-stamped rows
    val hist = perRun.map { case (rid, rows) =>
        rows.select(lit(rid).as("run_id"), col("check_name"),
          col("value"), col("passed"))
      }.reduce(_ unionByName _)
    val graded = Validate.severity(
      Validate.changePoints(hist, k = 0.5, h = 2.0))
    val byRun = graded.orderBy("run_id").collect()
    assert(byRun.length == 12)
    // severity is exactly the is_shift grade, and the decay tail
    // alerts while every calm run stays ok
    byRun.foreach { r =>
      val want =
        if (r.isNullAt(r.fieldIndex("is_shift"))) "warn"
        else if (r.getAs[Boolean]("is_shift")) "alert" else "ok"
      assert(r.getAs[String]("severity") == want)
    }
    val alerts = byRun.filter(_.getAs[String]("severity") == "alert")
      .map(_.getAs[String]("run_id")).toList
    assert(alerts.nonEmpty && alerts.forall(_ > "r08"),
      s"only the planted decay may alert: $alerts")
    assert(byRun.filter(_.getAs[String]("run_id") <= "r08")
      .forall(_.getAs[String]("severity") == "ok"))
    // ...and the per-run robust-z rule alone is blind to the creep
    // until far into the tail: the FIRST decayed run never flags
    val z9 = byRun.find(_.getAs[String]("run_id") == "r09").get
    assert(math.abs(z9.getAs[Double]("z")) < 3.5 &&
      !z9.getAs[Boolean]("is_shift"))
    // disk round-trip: writeMonitorReport appends each drop's rows
    // under its runId; readHistory grades identically row-for-row
    val dir = java.nio.file.Files
      .createTempDirectory("graft-auc-hist").toString
    try {
      perRun.zipWithIndex.foreach { case ((rid, _), i) =>
        Validate.writeMonitorReport(
          TextAnalysis.aucReport(drop(ms(i)), "y", "score",
            by = Seq("source")),
          dir, rid, Seq("auc"), Seq("source"))
      }
      val gradedDisk = Validate.severity(Validate.changePoints(
        Validate.readHistory(spark, dir), k = 0.5, h = 2.0))
      assert(gradedDisk.orderBy("run_id").collect()
          .map(_.toSeq).toList == byRun.map(_.toSeq).toList,
        "disk-accumulated history must grade identically")
    } finally {
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir)); ()
    }
  }
}
