package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation, Deequ-style (Schelter et al.,
  * VLDB 2018 "Automating Large-Scale Data Quality Verification" — the
  * public design this follows): a suite of checks compiles into ONE
  * aggregation pass over the corpus and comes back as a report frame
  * with one row per check (`check_name`, `column_name`, `requirement`,
  * `value`, `passed`) — the "gate the drop before publishing it"
  * stage of a training-data pipeline. (The reference engine stops at
  * windowed aggregation — crates/core/src/physical_plan/continuous/
  * streaming_window.rs; validation is part of this library's
  * pipeline surface, like the dedup and monitor families.)
  *
  * Scale design: every check is expressed as bounded, map-side-
  * combinable aggregates — conditional COUNTs, min/max, exact SUMs,
  * and one ≤ k-long KMV sketch buffer for uniqueness
  * ([[Sketches.kmvSketch]] — the distinct question WITHOUT a distinct
  * shuffle) — so an N-check suite over 100 TB costs exactly one scan
  * and one tiny exchange, not N queries. The same aggregates are
  * streaming-legal (plain counts where COUNT(DISTINCT) is rejected),
  * so [[graft.api.DataStream.validationMonitor]] runs the identical
  * suite per event-time window with constant state.
  *
  * Null/empty semantics (pinned by ValidateSpec): an empty frame (or
  * group/window) still emits every check row with `value` and
  * `passed` NULL — "unknown", not a silent pass or fail; fraction-of-
  * non-null checks over an all-null column are likewise unknown. A
  * pipeline that wants empty-is-failure asserts on `n >= 1` via
  * [[Validate.SizeAtLeast]] explicitly.
  */
object Validate {

  /** One declarative check: a unique display name, the column it
    * watches, a human-readable requirement string, the aggregate
    * columns it needs (tagged to avoid collisions inside the shared
    * single pass), and the (value, passed) pair derived from them.
    * `passed` is evaluated on the UNROUNDED metric; `value` is
    * rounded to 6 for report/gate stability.
    */
  sealed trait Check {
    def name: String
    def columnName: String
    def requirement: String
    private[graft] def aggs(tag: String): Seq[Column]
    private[graft] def result(tag: String, n: Column): (Column, Column)
    /** Null-guard: both value and passed are null when `cond`. */
    private[graft] def unknownWhen(cond: Column, v: Column,
                                   p: Column): (Column, Column) =
      (when(cond, lit(null).cast("double")).otherwise(v),
        when(cond, lit(null).cast("boolean")).otherwise(p))
  }

  /** Fraction of rows with a NON-NULL `column` ≥ `minFrac` — the
    * classic completeness constraint.
    */
  final case class Completeness(column: String, minFrac: Double)
      extends Check {
    val name = s"completeness($column)"
    val columnName = column
    val requirement = s">= $minFrac"
    private[graft] def aggs(tag: String): Seq[Column] =
      Seq(count(col(column)).as(s"__c$tag"))
    private[graft] def result(tag: String, n: Column) = {
      val frac = col(s"__c$tag").cast("double") / n
      unknownWhen(n === 0, frac, frac >= lit(minFrac))
    }
  }

  /** Distinct fraction of `column`'s non-null values ≥ `minFrac`
    * (1.0 = a true unique key). Distinctness rides a KMV bottom-k
    * sketch ([[Sketches.kmvSketch]]) — ≤ k longs of state, no
    * distinct shuffle, EXACT while the true distinct count ≤ k (the
    * gate regime) and ~1/√(k−2) relative error beyond; size k for
    * exactness where the check must be sharp.
    */
  final case class Uniqueness(column: String, minFrac: Double = 1.0,
                              k: Int = 16384) extends Check {
    val name = s"uniqueness($column)"
    val columnName = column
    val requirement = s">= $minFrac"
    private[graft] def aggs(tag: String): Seq[Column] =
      Seq(count(col(column)).as(s"__c$tag"),
        Sketches.kmvSketch(col(column), k).as(s"__sk$tag"))
    private[graft] def result(tag: String, n: Column) = {
      val nn = col(s"__c$tag")
      val frac = Sketches.kmvDistinct(col(s"__sk$tag"), k) / nn
      unknownWhen(nn === 0, frac, frac >= lit(minFrac))
    }
  }

  /** Fraction of `column`'s NON-NULL values inside [lo, hi] ≥
    * `minFrac` (default 1.0 = a hard range constraint).
    */
  final case class FracBetween(column: String, lo: Double, hi: Double,
                               minFrac: Double = 1.0) extends Check {
    require(lo <= hi, s"FracBetween: lo $lo > hi $hi")
    val name = s"between($column)"
    val columnName = column
    val requirement = s"in [$lo, $hi] frac >= $minFrac"
    private[graft] def aggs(tag: String): Seq[Column] =
      Seq(count(col(column)).as(s"__c$tag"),
        count(when(col(column) >= lit(lo) && col(column) <= lit(hi),
          1)).as(s"__in$tag"))
    private[graft] def result(tag: String, n: Column) = {
      val nn = col(s"__c$tag")
      val frac = col(s"__in$tag").cast("double") / nn
      unknownWhen(nn === 0, frac, frac >= lit(minFrac))
    }
  }

  /** Fraction of `column`'s NON-NULL values matching `regex`
    * (Java/RE2-safe syntax — it runs through Spark's `rlike`) ≥
    * `minFrac`.
    */
  final case class Matches(column: String, regex: String,
                           minFrac: Double) extends Check {
    val name = s"matches($column)"
    val columnName = column
    val requirement = s"rlike '$regex' frac >= $minFrac"
    private[graft] def aggs(tag: String): Seq[Column] =
      Seq(count(col(column)).as(s"__c$tag"),
        count(when(col(column).rlike(regex), 1)).as(s"__m$tag"))
    private[graft] def result(tag: String, n: Column) = {
      val nn = col(s"__c$tag")
      val frac = col(s"__m$tag").cast("double") / nn
      unknownWhen(nn === 0, frac, frac >= lit(minFrac))
    }
  }

  /** Fraction of `column`'s NON-NULL values inside the allowed set ≥
    * `minFrac` — the categorical-domain constraint ("lang is one of
    * the corpus languages").
    */
  final case class InSet(column: String, values: Seq[String],
                         minFrac: Double = 1.0) extends Check {
    require(values.nonEmpty, "InSet: empty allowed set")
    val name = s"in_set($column)"
    val columnName = column
    val requirement = s"in {${values.mkString(",")}} frac >= $minFrac"
    private[graft] def aggs(tag: String): Seq[Column] =
      Seq(count(col(column)).as(s"__c$tag"),
        count(when(col(column).isin(values.map(lit): _*), 1))
          .as(s"__in$tag"))
    private[graft] def result(tag: String, n: Column) = {
      val nn = col(s"__c$tag")
      val frac = col(s"__in$tag").cast("double") / nn
      unknownWhen(nn === 0, frac, frac >= lit(minFrac))
    }
  }

  /** Fraction of ALL rows satisfying an arbitrary boolean SQL
    * predicate ≥ `minFrac` — the escape hatch for cross-column
    * invariants ("n_chars = length(text)"). Rows where the predicate
    * is NULL count as NOT satisfying (the conservative read).
    */
  final case class Satisfies(predicateSql: String, label: String,
                             minFrac: Double = 1.0) extends Check {
    val name = s"satisfies($label)"
    val columnName = "*"
    val requirement = s"'$predicateSql' frac >= $minFrac"
    private[graft] def aggs(tag: String): Seq[Column] =
      Seq(count(when(expr(predicateSql), 1)).as(s"__s$tag"))
    private[graft] def result(tag: String, n: Column) = {
      val frac = col(s"__s$tag").cast("double") / n
      unknownWhen(n === 0, frac, frac >= lit(minFrac))
    }
  }

  /** min(`column`) ≥ `atLeast` over non-null values. */
  final case class MinOf(column: String, atLeast: Double)
      extends Check {
    val name = s"min($column)"
    val columnName = column
    val requirement = s">= $atLeast"
    private[graft] def aggs(tag: String): Seq[Column] =
      Seq(min(col(column)).cast("double").as(s"__mn$tag"))
    private[graft] def result(tag: String, n: Column) = {
      val v = col(s"__mn$tag")
      unknownWhen(v.isNull, v, v >= lit(atLeast))
    }
  }

  /** max(`column`) ≤ `atMost` over non-null values. */
  final case class MaxOf(column: String, atMost: Double)
      extends Check {
    val name = s"max($column)"
    val columnName = column
    val requirement = s"<= $atMost"
    private[graft] def aggs(tag: String): Seq[Column] =
      Seq(max(col(column)).cast("double").as(s"__mx$tag"))
    private[graft] def result(tag: String, n: Column) = {
      val v = col(s"__mx$tag")
      unknownWhen(v.isNull, v, v <= lit(atMost))
    }
  }

  /** mean(`column`) inside [lo, hi]. The mean is SUM/COUNT — one
    * IEEE division; over integer columns the sum is exact, so the
    * metric is bit-identical cross-engine (the hash-gateable
    * spelling; double columns carry the usual last-ulp sum caveat).
    */
  final case class MeanBetween(column: String, lo: Double, hi: Double)
      extends Check {
    require(lo <= hi, s"MeanBetween: lo $lo > hi $hi")
    val name = s"mean($column)"
    val columnName = column
    val requirement = s"in [$lo, $hi]"
    private[graft] def aggs(tag: String): Seq[Column] =
      Seq(sum(col(column)).cast("double").as(s"__s$tag"),
        count(col(column)).as(s"__c$tag"))
    private[graft] def result(tag: String, n: Column) = {
      val nn = col(s"__c$tag")
      val v = col(s"__s$tag") / nn
      unknownWhen(nn === 0, v, v >= lit(lo) && v <= lit(hi))
    }
  }

  /** Row count ≥ `atLeast` — the "an empty drop must not pass"
    * check (every other check reads NULL/unknown on empty input by
    * design; this one reads 0 and FAILS).
    */
  final case class SizeAtLeast(atLeast: Long) extends Check {
    val name = "size()"
    val columnName = "*"
    val requirement = s">= $atLeast"
    private[graft] def aggs(tag: String): Seq[Column] = Seq.empty
    private[graft] def result(tag: String, n: Column) =
      (n.cast("double"), n >= lit(atLeast))
  }

  /** Run the suite: ONE aggregation pass (global, or per `by` group)
    * → one report row per check (per group): `check_name`,
    * `column_name`, `requirement`, `value` (rounded 6), `passed`.
    * Check names must be unique (two checks of the same kind on the
    * same column would be indistinguishable in the report — wrap one
    * in [[Satisfies]] with a label instead).
    */
  def report(df: DataFrame, checks: Seq[Check],
             by: Seq[String] = Seq.empty): DataFrame = {
    require(checks.nonEmpty, "validate: empty check suite")
    val names = checks.map(_.name)
    require(names.distinct.size == names.size,
      s"validate: duplicate check names ${names.diff(names.distinct)}")
    val aggCols = suiteAggs(checks)
    val agged =
      if (by.isEmpty) df.agg(aggCols.head, aggCols.drop(1): _*)
      else df.groupBy(by.map(col): _*)
        .agg(aggCols.head, aggCols.drop(1): _*)
    agged.select(by.map(col) :+ reportEntries(checks): _*)
      .select(by.map(col) ++ Seq(col("__chk.check_name"),
        col("__chk.column_name"), col("__chk.requirement"),
        col("__chk.value"), col("__chk.passed")): _*)
  }

  /** The exploded per-check struct column over the shared aggregate
    * row — a pure stateless projection, so the streaming twin
    * ([[graft.api.DataStream.validationMonitor]]) chains it after
    * its windowed aggregation identically.
    */
  private[graft] def reportEntries(checks: Seq[Check]): Column = {
    val entries = checks.zipWithIndex.map { case (c, i) =>
      val (v, p) = c.result(s"_$i", col("__n"))
      struct(lit(c.name).as("check_name"),
        lit(c.columnName).as("column_name"),
        lit(c.requirement).as("requirement"),
        round(v, 6).cast("double").as("value"),
        p.as("passed"))
    }
    explode(array(entries: _*)).as("__chk")
  }

  private[graft] def suiteAggs(checks: Seq[Check]): Seq[Column] =
    count(lit(1)).as("__n") +:
      checks.zipWithIndex.flatMap { case (c, i) => c.aggs(s"_$i") }

  /** Single-pass column PROFILER — the discovery half of the Deequ
    * design (profile a drop once, then hold every future drop to the
    * contract the profile suggests): one aggregation pass over all
    * profiled columns emitting one row per column with `dtype`,
    * `n_rows`/`n_null`/`completeness`, the KMV distinct estimate and
    * distinct fraction (exact while true distinct ≤ k), numeric
    * `min_value`/`max_value`/`mean_value` (null for non-numerics —
    * string min/max deliberately NOT profiled: collation orders
    * differ across engines), and for string columns the top values
    * by Misra–Gries bounded summary (`top_values`, ≤ topK by
    * (count desc, value asc); exact while distinct ≤ capacity).
    * State per column: one ≤ k sketch + one ≤ capacity summary +
    * a handful of scalars — a 100-column profile of 100 TB is still
    * one scan and one tiny exchange.
    */
  def profile(df: DataFrame, cols: Seq[String] = Seq.empty,
              k: Int = 16384, topK: Int = 32,
              mgCapacity: Int = 4096): DataFrame = {
    import org.apache.spark.sql.types._
    require(topK <= mgCapacity,
      s"topK $topK > mgCapacity $mgCapacity — the summary cannot " +
        "hold the requested top set")
    val targets = if (cols.isEmpty) df.columns.toSeq else cols
    require(targets.nonEmpty, "profile: no columns")
    val fieldByName = df.schema.fields.map(f => f.name -> f).toMap
    targets.foreach(c => require(fieldByName.contains(c),
      s"profile: no column '$c' in ${df.columns.toSeq}"))
    def isNum(dt: DataType) = dt.isInstanceOf[NumericType]
    def isStr(dt: DataType) = dt == StringType
    // event-time columns profile their envelope as epoch millis
    // (min/max tell you the drop's time coverage; mean is
    // meaningless for timestamps and stays null)
    def isTs(dt: DataType) =
      dt == TimestampType || dt == TimestampNTZType || dt == DateType
    def numView(c: String): Column = {
      fieldByName(c).dataType match {
        // DateType deliberately avoids cast-to-timestamp (which
        // resolves midnight in the SESSION timezone, so the same
        // date column would profile to different epoch millis under
        // different spark.sql.session.timeZone): days-since-epoch ×
        // 86400000 is timezone-independent and reproducible
        case DateType =>
          (datediff(col(c), to_date(lit("1970-01-01"))).cast("long")
            * lit(86400000L)).cast("double")
        case dt if isTs(dt) =>
          unix_millis(col(c).cast("timestamp")).cast("double")
        case _ => col(c).cast("double")
      }
    }
    val aggCols = count(lit(1)).as("__n") +: targets.zipWithIndex
      .flatMap { case (c, i) =>
        val dt = fieldByName(c).dataType
        Seq(count(col(c)).as(s"__c$i"),
          Sketches.kmvSketch(col(c), k).as(s"__k$i")) ++
          (if (isNum(dt) || isTs(dt)) Seq(
            min(numView(c)).as(s"__mn$i"),
            max(numView(c)).as(s"__mx$i"))
          else Seq.empty) ++
          (if (isNum(dt)) Seq(
            sum(col(c)).cast("double").as(s"__s$i"))
          else Seq.empty) ++
          (if (isStr(dt)) Seq(
            graft.functions.freq_sketch(col(c), mgCapacity)
              .as(s"__f$i"))
          else Seq.empty)
      }
    val agged = df.agg(aggCols.head, aggCols.drop(1): _*)
    val entries = targets.zipWithIndex.map { case (c, i) =>
      val dt = fieldByName(c).dataType
      val n = col("__n")
      val nn = col(s"__c$i")
      val dist = Sketches.kmvDistinct(col(s"__k$i"), k)
      val nullD = lit(null).cast("double")
      val (mn, mx, mean) =
        if (isNum(dt)) (col(s"__mn$i"), col(s"__mx$i"),
          when(nn === 0, nullD).otherwise(col(s"__s$i") / nn))
        else if (isTs(dt)) (col(s"__mn$i"), col(s"__mx$i"), nullD)
        else (nullD, nullD, nullD)
      val tops =
        if (isStr(dt))
          transform(slice(array_sort(transform(
            map_entries(col(s"__f$i.items")),
            e => struct((-e.getField("value")).as("negc"),
              e.getField("key").as("item")))), 1, topK),
            s => s.getField("item"))
        else lit(null).cast("array<string>")
      struct(lit(c).as("column_name"),
        lit(dt.simpleString).as("dtype"),
        n.as("n_rows"), (n - nn).as("n_null"),
        when(n === 0, nullD).otherwise(
          round(nn.cast("double") / n, 6)).as("completeness"),
        when(nn === 0, lit(0.0)).otherwise(round(dist, 6))
          .as("n_distinct"),
        when(nn === 0, nullD).otherwise(round(dist / nn, 6))
          .as("distinct_frac"),
        mn.as("min_value"), mx.as("max_value"),
        round(mean, 6).as("mean_value"),
        tops.as("top_values"))
    }
    agged.select(explode(array(entries: _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Rule-based check SUGGESTION over a [[profile]] — the Deequ
    * constraint-suggestion idea: profile one healthy drop, emit the
    * suite that pins its observed shape, run that suite on every
    * later drop. Rules (each guaranteed to PASS on the profiled
    * frame itself — spec-pinned; 1.0-threshold rules gate on the
    * profile's EXACT counts, `n_null`/`n_distinct`, never the
    * rounded fractions, which round to 1.0 on large frames with a
    * handful of violations):
    *  - zero-null column → `Completeness(c, 1.0)`; partially
    *    complete (≥ minCompleteness) → exact completeness floored
    *    to 2 decimals;
    *  - fully distinct + complete column in the exact KMV regime
    *    (non-null count ≤ k) → `Uniqueness(c, 1.0)`;
    *  - numeric column → `FracBetween(c, min, max, 1.0)` (the
    *    observed envelope);
    *  - string column whose full value set fit the top-K summary →
    *    `InSet(c, values, 1.0)`;
    *  - `SizeAtLeast(max(1, n_rows/2))` — a drop HALF the profiled
    *    size is worth an alarm, an empty one always is.
    * The suggestions are a starting contract, not a verdict — loosen
    * thresholds where drops legitimately vary.
    */
  def suggestChecks(df: DataFrame, cols: Seq[String] = Seq.empty,
                    k: Int = 16384, topK: Int = 32,
                    mgCapacity: Int = 4096,
                    minCompleteness: Double = 0.5): Seq[Check] = {
    val rows = profile(df, cols, k, topK, mgCapacity)
      .collect() // bounded artifact: one row per profiled column
    val nRows = if (rows.isEmpty) 0L else rows.head.getAs[Long]("n_rows")
    val checks = scala.collection.mutable.ArrayBuffer[Check]()
    rows.foreach { r =>
      val c = r.getAs[String]("column_name")
      // 1.0-threshold rules gate on the EXACT counts in the profile
      // row, never the rounded fractions: on a large frame a handful
      // of nulls (or near-unique dups) rounds completeness /
      // distinct_frac to 1.0, yet the suggested check evaluates the
      // UNROUNDED metric and would fail on the profiled frame
      // itself, breaking the guaranteed-to-PASS contract
      val nNull = r.getAs[Long]("n_null")
      val nonNull = nRows - nNull
      if (nRows > 0) {
        if (nNull == 0L) checks += Completeness(c, 1.0)
        else {
          val compExact = nonNull.toDouble / nRows
          if (compExact >= minCompleteness)
            checks += Completeness(c, math.floor(compExact * 100) / 100)
        }
      }
      // exact-KMV regime only (nonNull ≤ k ⇒ the sketch held every
      // value ⇒ n_distinct is the exact count): a truly unique,
      // fully complete column — approximate-regime near-1.0
      // estimates are never pinned to 1.0
      val nDistinct = r.getAs[Double]("n_distinct")
      if (nNull == 0L && nonNull > 0 && nonNull <= k &&
          nDistinct == nonNull.toDouble)
        checks += Uniqueness(c, 1.0, k)
      val mn = Option(r.getAs[java.lang.Double]("min_value"))
      val mx = Option(r.getAs[java.lang.Double]("max_value"))
      val dtype = r.getAs[String]("dtype")
      // timestamp/date envelopes profile as epoch millis but cannot
      // back a FracBetween over the raw column (a time-range check
      // on a NEW drop should look at ingestion lag, not the frozen
      // past window) — numeric columns only
      if (!dtype.startsWith("timestamp") && !dtype.startsWith("date"))
        (mn, mx) match {
          case (Some(lo), Some(hi)) =>
            checks += FracBetween(c, lo, hi, 1.0)
          case _ => ()
        }
      val topIdx = r.fieldIndex("top_values")
      val tops =
        if (r.isNullAt(topIdx)) None
        else Some(r.getSeq[String](topIdx).toSeq)
      tops.foreach { vs =>
        // the whole value set fit the summary → pin it
        if (vs.nonEmpty && nDistinct <= vs.size && vs.size < topK)
          checks += InSet(c, vs.sorted, 1.0)
      }
    }
    checks += SizeAtLeast(math.max(1L, nRows / 2))
    checks.toSeq
  }

  /** Melt a MONITOR report's wide metric columns into the
    * `(check_name, value, passed)` long form the metric-history
    * machinery ([[writeReport]]/[[readHistory]]/[[anomalies]])
    * consumes — the bridge that gives the drift/health monitor
    * family ([[Drift.driftReport]], [[Drift.outlierReport]],
    * [[graft.api.DataStream.healthMonitor]]'s batch twin, …) the
    * same "tvd passed the threshold check but has never been this
    * high before" anomaly grading as validation suites.
    *
    * `check_name` is the metric name, suffixed with
    * `(k1=v1,k2=v2)` when `keyCols` are given — so a per-window /
    * per-source monitor row logs one history series per (metric,
    * slice). Key a series by STABLE slice identity (source, shard,
    * hour-of-day), never an absolute timestamp: a key that is new
    * every run accumulates no history for [[anomalies]] to grade
    * against. `carry` columns pass through unchanged (e.g. the
    * column the caller will rename to `run_id` when building a
    * history in one query). `passed` rides as null — monitors emit
    * measurements, not verdicts. Pure stateless projection
    * (struct-array explode), streams as-is.
    */
  def meltMetrics(df: DataFrame, metricCols: Seq[String],
                  keyCols: Seq[String] = Seq.empty,
                  carry: Seq[String] = Seq.empty): DataFrame = {
    require(metricCols.nonEmpty, "meltMetrics: no metric columns")
    (metricCols ++ keyCols ++ carry).foreach(c =>
      require(df.columns.contains(c),
        s"meltMetrics: no column '$c' in ${df.columns.toSeq}"))
    require(metricCols.intersect(keyCols).isEmpty,
      "meltMetrics: a column cannot be both metric and key")
    val keySuffix: Column =
      if (keyCols.isEmpty) lit("")
      else concat(lit("("), concat_ws(",", keyCols.map(k =>
        concat(lit(s"$k="), coalesce(col(k).cast("string"),
          lit("null")))): _*), lit(")"))
    val entries = metricCols.map(mc =>
      struct(concat(lit(mc), keySuffix).as("check_name"),
        col(mc).cast("double").as("value")))
    df.select(carry.map(col) :+
        explode(array(entries: _*)).as("__m"): _*)
      .select(carry.map(col) ++ Seq(col("__m.check_name"),
        col("__m.value"),
        lit(null).cast("boolean").as("passed")): _*)
  }

  /** Log one monitor run's metric rows to the SAME history log (and
    * through the same duplicate-`runId` refusal) as validation
    * reports: melt via [[meltMetrics]], append via [[writeReport]].
    * A monitor history and a validation history can share a path —
    * check names never collide (monitor metrics carry no `(column)`
    * requirement spelling) — or live apart; [[anomalies]] grades
    * either against [[readHistory]] of the log.
    */
  def writeMonitorReport(report: DataFrame, path: String,
                         runId: String, metricCols: Seq[String],
                         keyCols: Seq[String] = Seq.empty): Unit =
    writeReport(meltMetrics(report, metricCols, keyCols), path, runId)

  /** Append one validation run's report to a metric HISTORY log —
    * the Deequ metrics-repository idea: every drop's report rows
    * land under a caller-chosen `runId` (the drop date/label — no
    * wall-clock stamping, reruns stay deterministic), and
    * [[anomalies]] later grades a new drop's metrics against the
    * distribution of its own past. The log is append-only by design
    * (unlike the frozen dedup/baseline indexes): a duplicate runId
    * REFUSES — re-validating a drop must not double-log its row and
    * silently skew every later median. The refusal is RACE-FREE
    * across concurrent writers: before appending, the run claims a
    * `_run-<md5(runId)>` marker file with create-exclusive
    * semantics (atomic on HDFS and on `Graft.session`'s local
    * filesystem, [[graft.ForkFreeRawLocalFileSystem]]; parquet
    * readers skip `_`-prefixed files) — of two jobs logging the
    * same runId simultaneously, exactly one wins the claim and the
    * other refuses, where a read-then-append check would let both
    * through. A deliberate redo must delete the run's rows AND its
    * marker.
    */
  def writeReport(report: DataFrame, path: String,
                  runId: String): Unit = {
    require(runId.nonEmpty, "writeReport: empty runId")
    Seq("check_name", "value", "passed").foreach(c =>
      require(report.columns.contains(c),
        s"writeReport: no '$c' column — pass a Validate.report " +
          "output"))
    val spark = report.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      // cheap pre-check against histories predating the marker
      // scheme (their runs have rows but no marker); skipped when
      // the dir holds only markers/metadata — a claimed-but-crashed
      // run leaves no data files, and its marker still refuses below
      val hasData = fs.listStatus(p).exists { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      if (hasData) {
        val seen = spark.read.parquet(path)
          .select("run_id").distinct()
          .collect().map(_.getString(0)).toSet // bounded: one per run
        require(!seen.contains(runId),
          s"writeReport: run '$runId' already logged under $path — " +
            "a re-validated drop must not double-log (delete the " +
            "run's rows and its _run marker explicitly if this is " +
            "a deliberate redo)")
      }
    } else fs.mkdirs(p)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(runId.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    val marker = new org.apache.hadoop.fs.Path(p, s"_run-$digest")
    // only the duplicate-claim failure maps to the "already logged"
    // refusal — a transient FS/permission IOException must surface
    // as itself, not masquerade as a duplicate run. The atomicity
    // caveat: create(overwrite=false) is atomic on HDFS and on
    // Graft.session's local filesystem, but check-then-create on
    // stock Hadoop's local one and check-then-put on object stores
    // (S3A), where two simultaneous claims can both win; and a
    // claimed-then-crashed run blocks its runId until the marker is
    // deleted (which the message says how to do).
    val claim =
      try fs.create(marker, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: org.apache.hadoop.fs.PathExistsException =>
          throw new IllegalArgumentException(
            s"writeReport: run '$runId' already logged (or being " +
              s"logged by a concurrent writer, or a previous claim " +
              s"crashed before writing rows) under $path — the " +
              "_run marker claim failed; delete the run's rows and " +
              s"the marker $marker explicitly if this is a " +
              "deliberate redo")
      }
    try claim.write(runId.getBytes("UTF-8")) // marker body: debug aid
    finally claim.close()
    report.select(lit(runId).as("run_id"), col("check_name"),
        col("value"), col("passed"))
      .coalesce(1)
      .write.mode("append").parquet(path)
  }

  /** The accumulated history log (`run_id, check_name, value,
    * passed`).
    */
  def readHistory(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    spark.read.parquet(path)
      .select("run_id", "check_name", "value", "passed")

  /** Grade a new drop's validation metrics against their own
    * HISTORY — the "completeness passed, but it's never been this
    * low before" alarm thresholds can't express: per `check_name`,
    * the robust z of the current value against the history's median
    * and MAD ((v − med) / (1.4826·MAD), flag |z| > `nMad` — the
    * same Iglewicz–Hoaglin rule as [[Drift.outlierReport]],
    * selection statistics so integer-derived metrics replay
    * bit-identically cross-engine). Degenerate-but-common history
    * shapes get exact semantics instead of NaN: MAD = 0 (a metric
    * that has read 1.0 for thirty drops) ⇒ z null and ANY deviation
    * from the median is anomalous; fewer than `minRuns` history
    * rows ⇒ `is_anomaly` NULL (insufficient evidence, not a pass);
    * a check with no history at all ⇒ null stats, null verdict.
    * History size is runs × checks — tiny by construction — so the
    * joins broadcast and the percentile passes are trivial.
    */
  def anomalies(history: DataFrame, current: DataFrame,
                nMad: Double = 3.5, minRuns: Int = 5): DataFrame = {
    require(nMad > 0, s"nMad must be > 0, got $nMad")
    require(minRuns >= 1, s"minRuns must be >= 1, got $minRuns")
    Seq("check_name", "value").foreach { c =>
      require(history.columns.contains(c),
        s"anomalies: history has no '$c' column")
      require(current.columns.contains(c),
        s"anomalies: current has no '$c' column")
    }
    // fresh-alias stat sides + explicit join keys: view-backed
    // histories (streaming memory-sink tables) otherwise trip
    // Spark's self-join dedup — see [[changePoints]]
    val meds = history.filter(col("value").isNotNull)
      .groupBy(col("check_name"))
      .agg(count(lit(1)).as("n_runs"),
        percentile(col("value"), lit(0.5)).as("median_value"))
      .toDF("__m_check", "n_runs", "median_value")
    val mads = history.filter(col("value").isNotNull)
      .join(broadcast(meds), col("check_name") === col("__m_check"))
      .groupBy(col("check_name"))
      .agg(percentile(abs(col("value") - col("median_value")),
        lit(0.5)).as("mad"))
      .toDF("__d_check", "mad")
    val stats = meds.join(mads, col("__m_check") === col("__d_check"))
      .withColumnRenamed("__m_check", "check_name").drop("__d_check")
    val v = col("value")
    val med = col("median_value")
    val mad = col("mad")
    val z = when(mad.isNull || mad === 0.0,
        lit(null).cast("double"))
      .otherwise(round((v - med) / (lit(1.4826) * mad), 6))
    val flag = when(v.isNull || med.isNull ||
        col("n_runs") < lit(minRuns), lit(null).cast("boolean"))
      .when(mad === 0.0, v =!= med)
      .otherwise(abs(z) > lit(nMad))
    current.join(broadcast(stats), Seq("check_name"), "left")
      .withColumn("z", z)
      .withColumn("is_anomaly", flag)
  }

  /** Sequential CHANGE-POINT detection over a metric history — the
    * slow-creep alarm [[anomalies]]' per-run robust z cannot raise
    * (ten consecutive runs each +1σ never individually flag, but
    * the data HAS drifted): the standardized tabular CUSUM (Page
    * 1954; the NIST/SEMATECH recipe). Per `by` group (check_name by
    * default), runs order by `seqCol`; each value standardizes
    * against the group's own median/MAD robust z (selection
    * statistics, rounded at 6 — the [[anomalies]] spelling, so the
    * whole chart replays bit-identically cross-engine), then the
    * one-sided sums fold in sequence order:
    * S⁺ᵢ = max(0, S⁺ᵢ₋₁ + zᵢ − k),  S⁻ᵢ = max(0, S⁻ᵢ₋₁ − zᵢ − k),
    * flagging runs where either side exceeds `h` (k = slack ≈ half
    * the shift worth detecting in σ units, h = decision interval —
    * the 0.5/5 defaults are the textbook operating point).
    *
    * Degenerate shapes follow [[anomalies]]: MAD = 0 ⇒ z and both
    * sums NULL, `is_shift` = value ≠ median; fewer than `minRuns`
    * runs ⇒ NULL verdict (insufficient evidence). Null metric
    * values carry no z and are excluded from the sequence.
    *
    * Scale: history is runs × checks — tiny by construction — so
    * the per-group ordered CUSUM fold runs on a collected array
    * (bounded), exactly like the stats joins it shares with
    * [[anomalies]]. Deterministic: the fold order is pinned by
    * `seqCol`, every op is correctly-rounded IEEE on 6-rounded z.
    *
    * @return by ++ (seqCol, value, n_runs, median_value, mad, z,
    *         cusum_pos, cusum_neg, is_shift), one row per non-null
    *         history value
    */
  def changePoints(history: DataFrame, k: Double = 0.5,
                   h: Double = 5.0, seqCol: String = "run_id",
                   by: Seq[String] = Seq("check_name"),
                   minRuns: Int = 5): DataFrame = {
    require(k >= 0, s"changePoints: k must be >= 0, got $k")
    require(h > 0, s"changePoints: h must be > 0, got $h")
    require(minRuns >= 1, s"minRuns must be >= 1, got $minRuns")
    require(by.nonEmpty, "changePoints: need at least one by column")
    (by :+ seqCol :+ "value").foreach(c =>
      require(history.columns.contains(c),
        s"changePoints: history has no '$c' column"))
    val known = history.filter(col("value").isNotNull)
    // the stats sides rename through fresh aliases (toDF mints new
    // expression ids) and join on explicit equalities: a history
    // read through a VIEW (e.g. a streaming memory-sink table)
    // otherwise trips Spark's self-join deduplication
    // (INTERNAL_ERROR: conflicting references) — same rows,
    // conflict-proof plan
    val mn = by.map("__m_" + _)
    val dn = by.map("__d_" + _)
    def keyCond(right: Seq[String]) =
      by.zip(right).map { case (a, b) => col(a) === col(b) }
        .reduce(_ && _)
    val meds = known.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_runs"),
        percentile(col("value"), lit(0.5)).as("median_value"))
      .toDF(mn ++ Seq("n_runs", "median_value"): _*)
    val mads = known
      .join(broadcast(meds), keyCond(mn))
      .groupBy(by.map(col): _*)
      .agg(percentile(abs(col("value") - col("median_value")),
        lit(0.5)).as("mad"))
      .toDF(dn ++ Seq("mad"): _*)
    val med = col("median_value")
    val mad = col("mad")
    val grouped = known
      .groupBy(by.map(col): _*)
      .agg(sort_array(collect_list(struct(col(seqCol).as("seq"),
        col("value").as("v")))).as("__seq"))
      .join(broadcast(meds), keyCond(mn))
      .join(broadcast(mads), keyCond(dn))
      .drop((mn ++ dn): _*)
      .withColumn("__z",
        // MAD = 0 nulls the whole z sequence up front for NULL
        // semantics / cross-engine replay (a double 0-divide yields
        // ±Inf under ANSI, which would otherwise propagate through
        // the fold); every downstream consumer is null-guarded
        when(mad.isNull || mad === 0.0,
          lit(null).cast("array<double>"))
          .otherwise(transform(col("__seq"), x =>
            round((x.getField("v") - med) / (lit(1.4826) * mad), 6))))
    // the CUSUM recursion as an ordered array fold: state carries
    // the running (S⁺, S⁻), seeded with the (0, 0) sentinel that is
    // sliced off after — element_at(acc, -1) then always has a row
    // (ANSI-safe)
    val zero = array(struct(lit(0.0).as("sp"), lit(0.0).as("sn")))
    val folded = aggregate(col("__z"), zero, (acc, z) => {
      val prev = element_at(acc, -1)
      concat(acc, array(struct(
        greatest(lit(0.0), prev.getField("sp") + z - lit(k))
          .as("sp"),
        greatest(lit(0.0), prev.getField("sn") - z - lit(k))
          .as("sn"))))
    })
    val rows = grouped
      .withColumn("__st", slice(folded, lit(2), size(col("__z"))))
      .select((by.map(col) ++ Seq(col("n_runs"), med, mad,
        col("__z"), col("__st"),
        posexplode(col("__seq")).as(Seq("__i", "__e")))): _*)
    val sp = element_at(col("__st"), col("__i") + 1).getField("sp")
    val sn = element_at(col("__st"), col("__i") + 1).getField("sn")
    val degenerate = mad.isNull || mad === 0.0
    val nullD = lit(null).cast("double")
    rows.select((by.map(col) ++ Seq(
      col("__e").getField("seq").as(seqCol),
      col("__e").getField("v").as("value"),
      col("n_runs"), med, mad,
      when(degenerate, nullD)
        .otherwise(element_at(col("__z"), col("__i") + 1)).as("z"),
      when(degenerate, nullD).otherwise(sp).as("cusum_pos"),
      when(degenerate, nullD).otherwise(sn).as("cusum_neg"),
      when(col("n_runs") < lit(minRuns), lit(null).cast("boolean"))
        .when(degenerate, col("__e").getField("v") =!= med)
        .otherwise(sp > lit(h) || sn > lit(h)).as("is_shift"))): _*)
  }

  /** Alarm grading over a validation report (batch or streaming):
    * `severity` = "alert" for a FAILED check, "warn" for an UNKNOWN
    * verdict (null passed — empty window / all-null column: the
    * drop's shape is off even if no threshold strictly failed),
    * "ok" otherwise — so validation rows feed the same alerting
    * sink as the monitor family's [[Drift.alarms]] output. Also
    * grades [[changePoints]] rows (round 15 — the slow-creep alarm
    * routes through the same severity sink as every other monitor):
    * on a frame with `is_shift` and no `passed`, is_shift = true →
    * "alert", NULL verdict (under-minRuns history: insufficient
    * evidence, not a pass) → "warn", false → "ok". A frame carrying
    * BOTH columns grades `passed` (it is a validation report that
    * happens to carry a shift column — the explicit verdict wins).
    * Pure stateless projection; refuses frames with neither column.
    */
  def severity(df: DataFrame): DataFrame = {
    require(df.columns.contains("passed") ||
      df.columns.contains("is_shift"),
      "severity: no 'passed' or 'is_shift' column — apply to a " +
        "Validate.report / validationMonitor / changePoints output")
    val verdict =
      if (df.columns.contains("passed")) col("passed")
      else !col("is_shift")
    df.withColumn("severity",
      when(verdict.isNull, "warn")
        .when(verdict, "ok").otherwise("alert"))
  }

  /** Gate form: run the suite and THROW (IllegalStateException
    * listing every failed/unknown check with its value) unless all
    * checks pass — `Validate.assertPassed(drop, suite)` before
    * publishing a drop. The report is ≤ |checks| rows (× groups) —
    * a bounded artifact.
    */
  def assertPassed(df: DataFrame, checks: Seq[Check],
                   by: Seq[String] = Seq.empty): Unit = {
    val rep = report(df, checks, by)
    val bad = rep.filter(!col("passed") || col("passed").isNull)
      .collect() // bounded artifact: ≤ |checks| × |groups| rows
    if (bad.nonEmpty) {
      val lines = bad.map { r =>
        val g = by.map(c => s"$c=${r.getAs[Any](c)}").mkString(",")
        val v = r.getAs[Any]("value")
        val p = r.getAs[Any]("passed")
        val status = if (p == null) "unknown" else "FAILED"
        s"  ${if (g.nonEmpty) s"[$g] " else ""}" +
          s"${r.getAs[String]("check_name")} " +
          s"${r.getAs[String]("requirement")}: value=$v ($status)"
      }
      throw new IllegalStateException(
        s"validation failed (${bad.length} of ${checks.size} checks" +
          s"${if (by.nonEmpty) " x groups" else ""}):\n" +
          lines.mkString("\n"))
    }
  }
}
