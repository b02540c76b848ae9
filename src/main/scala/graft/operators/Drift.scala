package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift primitives for ingest monitoring: histogram a
  * numeric column against FROZEN baseline bucket boundaries and
  * compare the per-window distribution to the baseline's — the
  * "did today's crawl's doc-length/quality-score distribution shift"
  * alarm that catches an upstream extractor change even when row
  * counts and dup rates look healthy. (The reference engine stops at
  * windowed aggregation — streaming_window.rs; drift statistics are
  * part of this library's training-data-pipeline surface, like the
  * dedup and monitor families.)
  *
  * Scale design: a window's state is B+1 conditional COUNTs — plain
  * codegen'd aggregates with map-side partial combine, constant in
  * ingest volume — and the baseline rides as B+1 literal doubles.
  * Nothing joins, nothing reshuffles, and the same expressions run
  * batch or streaming (Structured Streaming accepts conditional
  * counts where it rejects COUNT(DISTINCT)).
  *
  * Statistics emitted per window:
  *  - `tvd` — total-variation distance, 0.5·Σ|p_i − b_i| ∈ [0, 1]:
  *    pure arithmetic (driver-hash-gateable across engines);
  *  - `max_shift` — max_i |p_i − b_i|, localizing the worst bucket;
  *  - `psi` — population stability index Σ(p_i−b_i)·ln((p_i+ε)/(b_i+ε)),
  *    the classic model-monitoring stat (rule of thumb: <0.1 stable,
  *    0.1–0.25 moderate shift, >0.25 action). PSI rides `ln`, which
  *    is NOT bit-pinned across math libraries, so it is spec-gated
  *    (exact Scala replay) rather than cross-engine hash-gated.
  */
object Drift {

  /** Bucket index of `value` against sorted `boundaries`: the count
    * of boundaries ≤ value, i.e. B boundaries split the line into
    * B+1 buckets `(-∞,b0) [b0,b1) … [bB-1,∞)`. Null values map to
    * null (callers count them separately — a null surge is its own
    * alarm, not bucket-0 traffic).
    */
  def histBucket(value: Column, boundaries: Seq[Double]): Column = {
    require(boundaries.nonEmpty, "histBucket needs >= 1 boundary")
    require(boundaries == boundaries.sorted &&
      boundaries.distinct == boundaries,
      s"boundaries must be strictly increasing, got $boundaries")
    val idx = boundaries
      .map(b => when(value >= lit(b), 1).otherwise(0))
      .reduce(_ + _)
    when(value.isNotNull, idx)
  }

  /** Exact per-bucket counts over `boundaries`' B+1 buckets: ONE
    * aggregation pass (B+1 map-side-combined conditional counts —
    * the corpus never reshuffles), a (B+1)-long array back. Counts
    * are of NON-NULL rows.
    */
  def histCounts(df: DataFrame, valueCol: String,
                 boundaries: Seq[Double]): Array[Long] = {
    val b = histBucket(col(valueCol), boundaries)
    val n = boundaries.size + 1
    val aggs = (0 until n).map(i =>
      count(when(b === lit(i), 1)).as(s"__b$i"))
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    (0 until n).map(row.getLong).toArray
  }

  /** [[histCounts]] normalized to exact fractions of non-null rows. */
  def histFractions(df: DataFrame, valueCol: String,
                    boundaries: Seq[Double]): Array[Double] = {
    val counts = histCounts(df, valueCol, boundaries)
    fractionsOf(counts, valueCol)
  }

  private[graft] def fractionsOf(counts: Array[Long],
                                 valueCol: String): Array[Double] = {
    val tot = counts.map(_.toDouble).sum
    require(tot > 0,
      s"baseline has no non-null '$valueCol' rows — cannot derive " +
        "a reference distribution")
    counts.map(_ / tot)
  }

  /** Quantile bucket boundaries from a baseline corpus: the B−1
    * inner quantiles of `valueCol` via Spark's mergeable
    * percentile_approx sketch (one pass; rank error ≤ n/accuracy) —
    * the production way to pick boundaries so every baseline bucket
    * holds ~1/B of the mass. Duplicated quantiles (heavy point
    * masses) collapse to the distinct set, so the returned seq is
    * strictly increasing and may be shorter than nBuckets−1.
    */
  def quantileBoundaries(df: DataFrame, valueCol: String,
                         nBuckets: Int = 10,
                         accuracy: Int = 10000): Seq[Double] = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val ps = (1 until nBuckets).map(_.toDouble / nBuckets)
    val row = df.agg(percentile_approx(col(valueCol),
      typedLit(ps), lit(accuracy)).as("qs")).head()
    require(!row.isNullAt(0),
      s"baseline has no non-null '$valueCol' rows — cannot derive " +
        "quantile boundaries")
    row.getSeq[Double](0).distinct.sorted
  }

  /** Exact top-N category fractions of a string column, smaller
    * categories pooled under [[OtherCategory]] — the baseline for
    * [[graft.api.DataStream.categoryDriftMonitor]] ("did the
    * language/event-type mix shift"). One exact groupBy (categorical
    * columns have few distinct values by definition; for unbounded
    * ones use [[Sketches.frequentItems]] to pick the top set first).
    * Ties rank (count desc, category asc); null categories pool into
    * OTHER. Returned fracs sum to 1 over all rows.
    */
  def categoryFractions(df: DataFrame, catCol: String, topN: Int = 20)
      : Seq[(String, Double)] = {
    val counts = categoryCounts(df, catCol, topN)
    val tot = counts.map(_._2).sum.toDouble
    require(tot > 0, s"baseline is empty — no '$catCol' distribution")
    counts.filterNot { case (c, n) => c == OtherCategory && n == 0 }
      .map { case (c, n) => c -> n / tot }
  }

  /** The count form of [[categoryFractions]]: top-N categories by
    * (count desc, category asc) plus an [[OtherCategory]] row that
    * pools everything else and nulls — ALWAYS present (possibly 0),
    * so persisted baselines stay mergeable under
    * [[DedupIndex.appendCats]].
    */
  def categoryCounts(df: DataFrame, catCol: String, topN: Int = 20)
      : Seq[(String, Long)] = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val counts = df.groupBy(col(catCol).as("__cat"))
      .agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__cat").asc_nulls_last)
      .collect() // bounded artifact: one row per distinct category
    val (top, rest) = counts
      .filterNot(_.isNullAt(0)).splitAt(topN)
    val restN = rest.map(_.getLong(1)).sum +
      counts.filter(_.isNullAt(0)).map(_.getLong(1)).sum
    top.map(r => r.getString(0) -> r.getLong(1)).toSeq :+
      (OtherCategory -> restN)
  }

  /** Counts of a NEW drop over a FROZEN category set (the persisted
    * baseline's top categories): one conditional-count pass —
    * anything outside the set, nulls included, pools under
    * [[OtherCategory]]. The append-side twin of [[categoryCounts]].
    */
  def categoryCountsFrozen(df: DataFrame, catCol: String,
                           cats: Seq[String]): Seq[(String, Long)] = {
    val known = cats.filterNot(_ == OtherCategory)
    val aggs = known.map(c =>
      count(when(col(catCol) === lit(c), 1)).as(s"n_$c")) :+
      count(when(col(catCol).isNull ||
        !col(catCol).isin(known.map(lit): _*), 1)).as("n_other")
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    known.zipWithIndex.map { case (c, i) => c -> row.getLong(i) } :+
      (OtherCategory -> row.getLong(known.size))
  }

  /** Pool key for categories outside the baseline's top set. */
  val OtherCategory = "__other__"

  /** Frozen-baseline bundles for the one-pass composite
    * [[graft.api.DataStream.healthMonitor]] — each names the column
    * it watches plus the baseline artifact its drift is judged
    * against (built once per baseline drop via [[histFractions]] /
    * [[categoryFractions]] / [[sumVector]], or loaded from their
    * persisted [[DedupIndex]] forms).
    */
  final case class ValueBaseline(valueCol: String,
      boundaries: Seq[Double], fracs: Seq[Double]) {
    require(fracs.size == boundaries.size + 1,
      s"B boundaries define B+1 buckets: got ${boundaries.size} " +
        s"boundaries but ${fracs.size} baseline fractions")
    require(fracs.forall(f => f >= 0.0 && f <= 1.0),
      s"baseline fractions must be in [0, 1], got $fracs")
  }
  final case class CategoryBaseline(catCol: String,
      fracs: Seq[(String, Double)])
  final case class CentroidBaseline(embCol: String,
      sumVec: Seq[Double]) {
    require(sumVec.nonEmpty, "baseline centroid is empty")
  }
  /** A frozen prior-drop KMV sketch over the SAME column (and same
    * k) as the health monitor's `distinctCol` — overlap rides the
    * window sketch the distinct section already maintains, so this
    * section costs ZERO extra state (load via
    * [[DedupIndex.readKmv]], which pins k).
    */
  final case class OverlapBaseline(sketch: Seq[Long]) {
    require(sketch.nonEmpty, "baseline overlap sketch is empty")
  }

  /** Thresholds for [[alarms]] — defaults follow the classic
    * monitoring rules of thumb (PSI <0.1 stable / 0.1–0.25 moderate /
    * >0.25 act — the scale the psi stat was designed around — with
    * TVD graded on the same bands); dup-rate, overlap and centroid
    * bands are starting points a pipeline tunes to its corpus.
    * `margin` (label-cohesion QA) has no warn band: margin ≤ 0 means
    * a label's members sit closer to ANOTHER label's centroid — it
    * is an alert by definition.
    */
  final case class AlarmThresholds(
      dupRateWarn: Double = 0.2, dupRateAlert: Double = 0.4,
      tvdWarn: Double = 0.1, tvdAlert: Double = 0.25,
      psiWarn: Double = 0.1, psiAlert: Double = 0.25,
      overlapWarn: Double = 0.5, overlapAlert: Double = 0.8,
      centroidDriftWarn: Double = 0.02, centroidDriftAlert: Double = 0.1,
      marginAlert: Double = 0.0)

  /** Alarm projection over ANY monitor/report output in this family:
    * adds `severity` ("ok" | "warn" | "alert" — the worst level any
    * present metric reached) and `alarms` (an array of
    * "metric:level" strings naming every metric at warn-or-above, in
    * a fixed metric order) so monitor rows feed an alerting sink
    * without user-side arithmetic. Recognized metric columns:
    * `dup_rate`, `tvd`, `psi`, `cat_tvd`, `cat_psi`, `overlap_frac`,
    * `centroid_drift`, `emb_centroid_drift` (all ≥-threshold) and
    * `margin` (≤ 0 ⇒ alert); whichever subset the frame carries is
    * graded, null stats grade `ok` (an all-null window's alarm is
    * its n_rows/n_null columns, not a drift verdict). A frame with
    * NO recognized metric column refuses — silently grading nothing
    * as "ok" is how an alerting hook goes dead. Pure stateless
    * projection: runs identically on batch reports and inside
    * streaming monitor queries.
    */
  def alarms(df: DataFrame,
             t: AlarmThresholds = AlarmThresholds()): DataFrame = {
    final case class M(name: String, warn: Option[Double],
                       alert: Double, gte: Boolean = true)
    val metrics = Seq(
      M("dup_rate", Some(t.dupRateWarn), t.dupRateAlert),
      M("tvd", Some(t.tvdWarn), t.tvdAlert),
      M("psi", Some(t.psiWarn), t.psiAlert),
      M("cat_tvd", Some(t.tvdWarn), t.tvdAlert),
      M("cat_psi", Some(t.psiWarn), t.psiAlert),
      M("overlap_frac", Some(t.overlapWarn), t.overlapAlert),
      M("centroid_drift", Some(t.centroidDriftWarn),
        t.centroidDriftAlert),
      M("emb_centroid_drift", Some(t.centroidDriftWarn),
        t.centroidDriftAlert),
      M("margin", None, t.marginAlert, gte = false)
    ).filter(m => df.columns.contains(m.name))
    require(metrics.nonEmpty,
      "alarms: no recognized monitor metric column present " +
        "(dup_rate/tvd/psi/cat_tvd/cat_psi/overlap_frac/" +
        "centroid_drift/emb_centroid_drift/margin) — apply alarms " +
        "to a monitor/report output, not an arbitrary frame")
    def level(m: M): Column = {
      val c = col(m.name)
      val alertCond =
        if (m.gte) c >= lit(m.alert) else c <= lit(m.alert)
      val warnLvl = m.warn.map { w =>
        val warnCond = if (m.gte) c >= lit(w) else c <= lit(w)
        when(warnCond, lit(1)).otherwise(lit(0))
      }.getOrElse(lit(0))
      when(c.isNull, lit(0)).when(alertCond, lit(2))
        .otherwise(warnLvl)
    }
    val maxLvl = metrics.map(level).reduce(greatest(_, _))
    val entries = metrics.map { m =>
      when(level(m) === 2, lit(s"${m.name}:alert"))
        .when(level(m) === 1, lit(s"${m.name}:warn"))
    }
    df.withColumn("severity",
        when(maxLvl === 2, "alert").when(maxLvl === 1, "warn")
          .otherwise("ok"))
      .withColumn("alarms", array_compact(array(entries: _*)))
  }

  /** Validate a category baseline and ensure the [[OtherCategory]]
    * pool row is present (appended with fraction 0 when absent).
    */
  private[graft] def categoryWithOther(
      baseline: Seq[(String, Double)]): Seq[(String, Double)] = {
    require(baseline.nonEmpty, "baseline category set is empty")
    require(baseline.map(_._1).distinct.size == baseline.size,
      "baseline categories must be distinct")
    if (baseline.exists(_._1 == OtherCategory)) baseline
    else baseline :+ (OtherCategory -> 0.0)
  }

  /** Bucket index of a categorical column over the baseline's
    * category list: its position in `cats`, with nulls and
    * out-of-set values pooling at [[OtherCategory]]'s index.
    */
  private[graft] def categoryBucket(catCol: Column,
                                    cats: Seq[String]): Column = {
    val otherIdx = cats.indexOf(OtherCategory)
    val pos = array_position(typedLit(cats), catCol)
    when(catCol.isNull || pos === 0, lit(otherIdx)).otherwise(pos - 1)
  }

  /** Batch drift REPORT: the per-group spelling of
    * [[graft.api.DataStream.driftMonitor]] — one row per group
    * (crawl source, language, shard …) with its `valueCol`
    * distribution's tvd/max_shift/psi against the frozen baseline.
    * The curation question it answers: "WHICH sources diverge from
    * the corpus shape" — per-window tells you WHEN, per-group tells
    * you WHERE. Same scale story: one aggregation pass, B+2
    * conditional counts per group, baseline as literals; groups with
    * zero non-null values report null stats rather than vanishing.
    */
  def driftReport(df: DataFrame, groupCols: Seq[String],
                  valueCol: String, boundaries: Seq[Double],
                  baselineFracs: Seq[Double],
                  eps: Double = 1e-6): DataFrame = {
    require(groupCols.nonEmpty, "driftReport needs >= 1 group column")
    val v = ValueBaseline(valueCol, boundaries, baselineFracs)
    val aggs = count(lit(1)).as("n_rows") +: driftAggs(
      histBucket(col(valueCol), v.boundaries), count(col(valueCol)),
      v.fracs.size, "")
    df.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.drop(1): _*)
      .select(groupCols.map(col) ++ Seq(col("n_rows")) ++
        statCols(v.fracs, eps, "", "", emitNull = true): _*)
  }

  /** The element-wise SUM vector of an embedding column — the frozen
    * baseline for the centroid-drift spellings. One native-aggregate
    * pass ([[graft.expressions.VecSumAgg]]: dim doubles + a count of
    * state per task, map-side combined), a dim-double array back.
    * The SUM, not the mean: cosine is scale-invariant, so consumers
    * never divide by the count and the artifact composes under
    * append (sum-of-union = element-wise add).
    */
  def sumVector(df: DataFrame, embCol: String): Array[Double] = {
    val row = df.agg(graft.functions.vec_sum(col(embCol)).as("s"))
      .head()
    require(!row.isNullAt(0),
      s"baseline has no non-null '$embCol' vectors — cannot derive " +
        "a centroid")
    row.getSeq[Double](0).toArray
  }

  /** Batch centroid-drift REPORT: one row per group with the cosine
    * between the group's embedding centroid and the frozen baseline
    * centroid — the "did this labeled slice / crawl source drift in
    * embedding space" QA (an embedding-model swap or a source going
    * off-topic moves centroids long before exact stats do). Cosine
    * rides the group's SUM vector (scale-invariant, so the mean is
    * never materialized); state per group = dim doubles + 2 counts.
    * `centroid_cos`/`centroid_drift` are null for a group with no
    * non-null vectors (the row still emits) and for a zero-norm sum.
    */
  def centroidDriftReport(df: DataFrame, groupCols: Seq[String],
                          embCol: String,
                          baselineVec: Seq[Double]): DataFrame = {
    require(groupCols.nonEmpty,
      "centroidDriftReport needs >= 1 group column")
    val base = CentroidBaseline(embCol, baselineVec)
    val aggs = count(lit(1)).as("n_rows") +: centroidAggs(embCol, "")
    df.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.drop(1): _*)
      .select(groupCols.map(col) ++ Seq(col("n_rows")) ++
        centroidStatCols(base.sumVec, "", ""): _*)
  }

  /** The centroid aggregates — non-null count and vec_sum — under a
    * column-name TAG, so the composite health monitor can ride
    * several aggregate families (sketch, value buckets, category
    * buckets, vec sum) in ONE windowed aggregation without
    * internal-name collisions (standalone spellings pass "").
    */
  private[graft] def centroidAggs(embCol: String,
                                  tag: String): Seq[Column] =
    Seq(count(col(embCol)).as(s"__nn$tag"),
      graft.functions.vec_sum(col(embCol)).as(s"__vs$tag"))

  /** n_null/centroid_cos/centroid_drift over [[centroidAggs]]' TAGGED
    * columns, output names under `outPrefix`.
    */
  private[graft] def centroidStatCols(baselineVec: Seq[Double],
      tag: String, outPrefix: String): Seq[Column] = {
    val cos = graft.functions.cosine_similarity(col(s"__vs$tag"),
      typedLit(baselineVec))
    Seq((col("n_rows") - col(s"__nn$tag")).as(s"${outPrefix}n_null"),
      round(cos, 6).as(s"${outPrefix}centroid_cos"),
      round(lit(1.0) - cos, 6).as(s"${outPrefix}centroid_drift"))
  }

  /** Robust per-group OUTLIER report — "which source/language/shard
    * is anomalous against its peers", no baseline needed (the
    * baseline-relative question is [[driftReport]]): compute each
    * group's mean of `valueCol` (one aggregation pass), then grade
    * every group's mean by the robust z-score against the ACROSS-
    * GROUP distribution — (mean − median) / (1.4826 · MAD), the
    * classic median/MAD rule (Iglewicz & Hoaglin; 1.4826 makes MAD
    * consistent with σ under normality), with |z| > `zThreshold`
    * flagged (3.5 is the textbook default).
    *
    * Median and MAD deliberately replace mean/σ twice over: they are
    * robust (one broken source cannot drag the reference the way it
    * drags a mean), and they are SELECTION statistics — exact linear
    * interpolation over sorted values, no floating-point summation
    * order anywhere — so for integer-valued columns the whole report
    * is bit-identical cross-engine (hash-gated; double columns carry
    * the usual per-group-sum last-ulp caveat).
    *
    * Scale: group means are one partial-combined aggregation whose
    * result — one row per source, small by construction — is
    * collected ONCE; median and MAD are computed driver-side from
    * that array (exact `percentile` linear interpolation, so the
    * numbers are bit-identical to the SQL spelling) and the report
    * comes back as a local relation, so the corpus is scanned
    * exactly once no matter how many times the caller consumes the
    * result. Groups with
    * zero non-null values emit with null mean/z, never vanish;
    * MAD = 0 (at least half the groups share the median mean) makes
    * every z null with `is_outlier` false — grade those corpora with
    * [[driftReport]] instead, a spread that degenerate needs a
    * baseline, not a peer comparison.
    */
  def outlierReport(df: DataFrame, groupCols: Seq[String],
                    valueCol: String,
                    zThreshold: Double = 3.5): DataFrame = {
    require(groupCols.nonEmpty,
      "outlierReport needs >= 1 group column")
    require(zThreshold > 0, s"zThreshold must be > 0, got $zThreshold")
    val agged = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        count(col(valueCol)).as("__nn"),
        (sum(col(valueCol)).cast("double") / count(col(valueCol)))
          .as("__mean"))
    // ONE action: collect the bounded group table (one row per
    // group, never the corpus) and derive median + MAD driver-side
    // from the array — the corpus group-by scan runs exactly once
    val rows = agged.collect() // bounded artifact: one row per group
    val meanIdx = agged.schema.fieldIndex("__mean")
    val means = rows.collect {
      case r if !r.isNullAt(meanIdx) => r.getDouble(meanIdx)
    }
    require(means.nonEmpty,
      s"outlierReport: no group has a non-null '$valueCol' mean")
    val med = interpolatedMedian(means)
    val mad = interpolatedMedian(means.map(m => math.abs(m - med)))
    val z =
      if (mad == 0.0) lit(null).cast("double")
      else round((col("__mean") - lit(med)) / lit(1.4826 * mad), 6)
    val spark = df.sparkSession
    val g = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), agged.schema)
    g.select(groupCols.map(col) ++ Seq(col("n_rows"),
      (col("n_rows") - col("__nn")).as("n_null"),
      round(col("__mean"), 6).as("mean_value"),
      z.as("z"),
      when(z.isNull, lit(false)).otherwise(abs(z) > lit(zThreshold))
        .as("is_outlier")): _*)
  }

  /** Exact median by `percentile`'s linear-interpolation rule over
    * sorted values (index p·(n−1), interpolate between floor/ceil) —
    * the same selection statistic SQL `percentile(x, 0.5)` computes,
    * bit-identical, so driver-side medians replay in the oracle.
    */
  private[graft] def interpolatedMedian(xs: Array[Double]): Double = {
    val s = xs.sorted
    val idx = 0.5 * (s.length - 1)
    val lo = math.floor(idx).toInt
    val hi = math.ceil(idx).toInt
    if (lo == hi) s(lo) else s(lo) + (s(hi) - s(lo)) * (idx - lo)
  }

  /** The bounded-state aggregate columns every drift spelling shares
    * (next to the caller's n_rows): non-null rows and one conditional
    * count per bucket, under a column-name TAG (see [[centroidAggs]]).
    */
  private[graft] def driftAggs(bucket: Column,
      nonNullCount: Column, n: Int, tag: String): Seq[Column] =
    nonNullCount.as(s"__nn$tag") +: (0 until n).map(i =>
      count(when(bucket === lit(i), 1)).as(s"__b$tag$i"))

  /** The shared output tail over [[driftAggs]]' TAGGED columns:
    * n_null plus the three stats, each null when the group/window had
    * no non-null rows; output columns under `outPrefix` (the
    * composite health monitor emits the category family as
    * cat_tvd/cat_max_shift/cat_psi next to the numeric
    * tvd/max_shift/psi); `emitNull = false` skips the n_null column
    * for spellings whose buckets pool nulls (categorical).
    */
  private[graft] def statCols(baselineFracs: Seq[Double],
      eps: Double, tag: String, outPrefix: String,
      emitNull: Boolean): Seq[Column] = {
    val nn = col(s"__nn$tag")
    val ps = (0 until baselineFracs.size).map(i =>
      col(s"__b$tag$i") / nn)
    val (tvd, maxShift, psi) = driftStats(ps, baselineFracs, eps)
    def guard(c: Column) =
      when(nn === 0, lit(null).cast("double")).otherwise(c)
    (if (emitNull) Seq((col("n_rows") - nn).as(s"${outPrefix}n_null"))
     else Seq.empty[Column]) ++
      Seq(guard(tvd).as(s"${outPrefix}tvd"),
        guard(maxShift).as(s"${outPrefix}max_shift"),
        guard(psi).as(s"${outPrefix}psi"))
  }

  /** The three drift statistics as columns over observed-fraction
    * columns `ps` vs literal baseline fractions `bs` (rounded to 6
    * for gate stability; null when the window had no non-null rows —
    * callers guard on `__nn`).
    */
  private[graft] def driftStats(ps: Seq[Column], bs: Seq[Double],
                                eps: Double): (Column, Column, Column) = {
    val absDiffs = ps.zip(bs).map { case (p, b) => abs(p - lit(b)) }
    val tvd = round(absDiffs.reduce(_ + _) * lit(0.5), 6)
    val maxShift = round(
      if (absDiffs.size == 1) absDiffs.head else greatest(absDiffs: _*), 6)
    val psi = round(ps.zip(bs).map { case (p, b) =>
      (p - lit(b)) * log((p + lit(eps)) / lit(b + eps))
    }.reduce(_ + _), 6)
    (tvd, maxShift, psi)
  }
}
