package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bottom-k (KMV) distinct-value sketches — the honest way to ask
  * "how many distinct documents does this corpus have" and "how much
  * does corpus A overlap corpus B" at 100 TB WITHOUT a distinct
  * shuffle or a join. (Beyond-reference pipeline surface: the
  * reference engine has no sketch aggregates; public technique is
  * Bar-Yossef et al. 2002 / Beyer et al. 2007 "KMV".)
  *
  * Design:
  *  - the sketch of a column is the k SMALLEST distinct 64-bit hash
  *    values of its rows, kept by a native bounded-buffer aggregate
  *    ([[graft.expressions.KmvSketchAgg]], a TypedImperativeAggregate
  *    over a mutable sorted array). Spark runs it
  *    with map-side partial aggregation, so each task reduces its
  *    partition to ≤ k longs locally and the shuffle moves only
  *    O(tasks · k) values — NO data-sized shuffle, unlike
  *    `COUNT(DISTINCT)` (full exchange of the distinct set) or a join
  *    (full exchange of both corpora). At 100 TB that is the whole
  *    ballgame.
  *  - sketches are DETERMINISTIC (no sampling randomness): same
  *    input rows → bit-identical sketch, regardless of partitioning,
  *    because min-k of a set is order-insensitive.
  *  - sketches COMPOSE: merge(sketch(A), sketch(B)) is exactly
  *    sketch(A ∪ B), so union/intersection/Jaccard across corpora —
  *    or across months of corpus drops — come from the tiny persisted
  *    arrays, never from rescanning the data.
  *  - when a sketch holds FEWER than k values it is the complete
  *    distinct hash set and every estimate below is EXACT (modulo
  *    64-bit hash collisions, ~n²/2⁶⁵) — which is what the driver
  *    gates pin against `COUNT(DISTINCT)` oracles; at k < n the
  *    estimator's relative error is ~1/sqrt(k-2) (spec-covered).
  *
  * Hash space: rows are hashed with Spark's `xxhash64`, then mapped
  * through `h XOR Long.MinValue` so UNSIGNED hash order becomes
  * signed long order — the sketch arrays sort/compare with plain
  * long comparisons everywhere (aggregator, `array_sort`, DuckDB-side
  * replay). [[kmvFraction]] undoes the map when normalizing to [0,1).
  */
object Sketches {

  /** The order-preserving unsigned→signed map applied to every hash
    * before it enters a sketch.
    */
  private def flippedHash(c: Column): Column =
    when(c.isNull, lit(null).cast("long"))
      .otherwise(xxhash64(c).bitwiseXOR(lit(Long.MinValue)))

  /** Aggregate a column into its KMV sketch: ascending array of the
    * k smallest distinct flipped `xxhash64` values. Null rows are
    * skipped, matching `COUNT(DISTINCT)`. Backed by the native
    * [[graft.expressions.KmvSketchAgg]] TypedImperativeAggregate —
    * mutable bounded buffer, no per-row encoder round trip.
    */
  def kmvSketch(c: Column, k: Int = 1024): Column =
    graft.functions.kmv_sketch(flippedHash(c), k)

  /** A sketch value normalized to [0, 1): the fraction of the hash
    * space below it. Undoes the signed flip: v/2⁶⁴ + 0.5.
    */
  private def kmvFraction(v: Column): Column =
    v.cast("double") / lit(math.pow(2.0, 64)) + lit(0.5)

  /** Distinct-count estimate from a sketch: exact `size` when the
    * sketch is unsaturated (it holds the whole distinct hash set),
    * else the KMV estimator (k-1)/u_k where u_k is the kth-smallest
    * hash as a fraction of the hash space.
    */
  def kmvDistinct(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit(k - 1).cast("double") /
        kmvFraction(element_at(sketch, k)))

  /** merge(sketch(A), sketch(B)) = sketch(A ∪ B): union, sort
    * ascending (signed order IS unsigned hash order after the flip),
    * keep the k smallest.
    */
  def kmvMerge(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_union(a, b)), 1, k)

  /** Jaccard estimate between two sketched sets: among the k smallest
    * hashes of the UNION, the fraction present in both input sketches
    * (Beyer et al. 2007). Exact when the merged sketch is
    * unsaturated.
    */
  def kmvJaccard(a: Column, b: Column, k: Int): Column = {
    val m = kmvMerge(a, b, k)
    // empty ∪ empty: a zero divisor THROWS under ANSI (Spark 4
    // default) — pin the two-empty-corpora Jaccard to the
    // conventional 0.0 before the division can run
    when(size(m) === 0, lit(0.0)).otherwise(
      size(array_intersect(array_intersect(m, a), b)).cast("double") /
        size(m).cast("double"))
  }

  /** Intersection-size estimate: Jaccard × union estimate. */
  def kmvIntersect(a: Column, b: Column, k: Int): Column =
    kmvJaccard(a, b, k) * kmvDistinct(kmvMerge(a, b, k), k)

  /** One-call corpus-overlap report: sketch both corpora on
    * `valueCol` (one bounded-buffer aggregation pass each — the ONLY
    * passes over data; everything after is arithmetic on two ≤ k
    * arrays), cross the two 1-row sketch frames, estimate
    * |A|, |B|, |A∪B|, |A∩B| and Jaccard. With k ≥ the true distinct
    * counts every figure is exact — the driver-gate regime; at
    * smaller k each carries the ~1/sqrt(k-2) KMV error.
    *
    * This replaces the 100 TB anti-pattern `A JOIN B` (a full
    * two-sided exchange) for overlap QUESTIONS — when you need the
    * overlapping ROWS, use the decontamination operators.
    */
  def corpusOverlap(a: DataFrame, b: DataFrame, valueCol: String,
                    k: Int = 1024): DataFrame =
    corpusOverlapFromSketches(
      a.agg(kmvSketch(col(valueCol), k).as("sketch")),
      b.agg(kmvSketch(col(valueCol), k).as("sketch")), k)

  /** [[corpusOverlap]] from two already-built 1-row sketch frames
    * (first column = the sketch array) — e.g. read back from
    * [[DedupIndex.writeKmv]]: sketch each corpus DROP once at ingest,
    * and every later overlap question (this month's crawl vs any
    * eval set, drop N vs drop M) is arithmetic on two ≤ k arrays —
    * no rescan of either corpus, ever.
    */
  def corpusOverlapFromSketches(a: DataFrame, b: DataFrame,
                                k: Int): DataFrame = {
    val sa = a.select(col(a.columns.head).as("__sa"))
    val sb = b.select(col(b.columns.head).as("__sb"))
    sa.crossJoin(sb).select(
      round(kmvDistinct(col("__sa"), k), 6).as("n_a_est"),
      round(kmvDistinct(col("__sb"), k), 6).as("n_b_est"),
      round(kmvDistinct(kmvMerge(col("__sa"), col("__sb"), k), k), 6)
        .as("n_union_est"),
      round(kmvIntersect(col("__sa"), col("__sb"), k), 6)
        .as("n_intersect_est"),
      round(kmvJaccard(col("__sa"), col("__sb"), k), 6).as("jaccard"))
  }

  /** Per-group distinct-count estimates: one bounded-buffer
    * aggregation (map-side partial per task, ≤ k longs per group per
    * task on the wire) instead of `COUNT(DISTINCT)`'s full exchange
    * of every distinct value. Output column `n_distinct_est` is
    * exact for groups with < k distinct values.
    */
  def distinctByGroup(df: DataFrame, groupCols: Seq[String],
                      valueCol: String, k: Int = 1024): DataFrame =
    // deliberately NOT spread: the per-row work is one codegen'd
    // xxhash64 — cheaper than shuffling the value bytes (measured at
    // sf10: spread 8.7 s vs scan-in-place 5.5 s)
    df.groupBy(groupCols.map(col): _*)
      .agg(round(kmvDistinct(kmvSketch(col(valueCol), k), k), 6)
        .as("n_distinct_est"))

  // ─────────────────────── Misra–Gries heavy hitters ───────────────────────

  /** Top-`k` most frequent values of `itemCol` via a Misra–Gries
    * bounded summary ([[graft.expressions.FreqSketchAgg]]): every
    * task's state AND exchange payload cap at `capacity` counters,
    * where the exact `GROUP BY item` ships every distinct item's
    * partial count — at web scale the distinct-gram set IS the data.
    * Output (item, count_min, count_max): true frequency lies in
    * [count_min, count_max]; with capacity ≥ the distinct-item count
    * the summary never decrements, count_min = count_max = exact —
    * the gate regime. Ties rank (count_min desc, item asc).
    */
  def frequentItems(df: DataFrame, itemCol: String,
                    capacity: Int = 4096, k: Int = 50): DataFrame =
    // deliberately NOT spread here: the item frame is often a
    // post-explode giant (shuffling 26M gram strings measured 100 s
    // where the docs-first spread costs 23 s total) — spread the
    // compact upstream frame instead, as topNgramsApprox does
    df.agg(graft.functions.freq_sketch(col(itemCol), capacity)
        .as("__fs"))
      .select(col("__fs.err").as("__err"),
        explode(col("__fs.items")).as(Seq("item", "count_min")))
      .select(col("item"), col("count_min"),
        (col("count_min") + col("__err")).as("count_max"))
      .orderBy(col("count_min").desc, col("item"))
      .limit(k)

  /** Top-`k` word n-grams by the same bounded summary — the
    * approximate, state-bounded twin of
    * [[TextAnalysis.topNgrams]]'s exact two-pass count (which is the
    * right tool when the top-k must be exact and the distinct-gram
    * exchange is affordable).
    */
  def topNgramsApprox(df: DataFrame, textCol: String, n: Int = 3,
                      capacity: Int = 65536, k: Int = 50): DataFrame = {
    // spread the DOCS (compact) before the tokenize/gram explosion —
    // spreading the exploded grams instead shuffles the blown-up
    // string set (measured 4x worse at sf10). Docs shorter than n
    // tokens contribute no grams (sequence(1, 0) would DESCEND in
    // Spark, minting bogus short grams)
    val grams = graft.Graft.spread(df)
      .select(TextAnalysis.tokenize(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= n)
      .select(explode(transform(
        sequence(lit(1), size(col("__t")) - (n - 1)),
        i => concat_ws(" ", slice(col("__t"), i, lit(n))))).as("gram"))
    frequentItems(grams, "gram", capacity, k)
  }

  /** EXACT grouped order statistics by distributed rank selection —
    * the scale-true replacement for a full-accuracy quantile sketch
    * (round 17). `percentile_approx(x, p, 1e6)` promises ≤ n·1e-6
    * rank error, which Spark buys with a per-partition Greenwald-
    * Khanna summary whose compression work grows super-linearly in
    * accuracy·n (profiled: ONE 17.6 s aggregation job at sf1 for
    * q31). But the gates don't want a sketch at all — they want the
    * discrete quantile (the element at rank ceil(p·n), DuckDB's
    * `quantile_disc` convention, q31's documented contract) or the
    * continuous one (Spark `percentile`/`median` interpolation, q21).
    * Those are order statistics, and order statistics over a grouped
    * corpus are ONE range shuffle + two cheap passes:
    *
    *  1. range-partition by (group…, value) and sort within
    *     partitions — the only data movement, with full parallelism
    *     at any scale (the partition count is the session shuffle
    *     parallelism, a conf);
    *  2. per-partition (group → count) — a bounded collect (the
    *     grouped-curation cardinality contract: groups are few);
    *     the driver turns target ranks into (partition, offset-
    *     within-group) picks;
    *  3. a second pass over the SAME shuffle output (the map stage
    *     is reused, not recomputed) extracts just the picked
    *     elements — a ≤ |groups|·|ps|·2-row collect. It also counts
    *     each group's run in the partitions it walks and requires
    *     pass 1's counts back: a recomputed map stage over a
    *     nondeterministic input fails loudly instead of picking
    *     from shifted ranks.
    *
    * Rank conventions (both spec-pinned against the built-ins):
    *  - disc: 1-based rank ceil(p·n) over the group's non-null
    *    values ascending — exactly what `percentile_approx` at
    *    error < 1 rank returns, at ANY n (the sketch's guarantee
    *    silently degrades past n = accuracy; this never does);
    *  - cont: Spark `percentile`'s interpolation, replayed with the
    *    identical IEEE arithmetic — position = p·(n−1),
    *    (higher−pos)·v[lower] + (pos−lower)·v[higher].
    *
    * Null values are excluded (the built-ins' semantics); a group
    * whose values are all null contributes no output row (callers
    * left-join from their own group frame when those groups must
    * surface as nulls). Values must be DOUBLE (the callers' shape);
    * `n_values` = the group's non-null count rides along.
    *
    * @return one row per group: by ++ (n_values bigint,
    *         qs array<double> — one element per `ps` entry, in order)
    */
  def quantilesDisc(df: DataFrame, valCol: String, by: Seq[String],
                    ps: Seq[Double]): DataFrame =
    groupedOrderStats(df, valCol, by, ps, cont = false)

  /** Continuous (interpolated) twin of [[quantilesDisc]] — Spark
    * `percentile`/`median` semantics, same machinery.
    */
  def quantilesCont(df: DataFrame, valCol: String, by: Seq[String],
                    ps: Seq[Double]): DataFrame =
    groupedOrderStats(df, valCol, by, ps, cont = true)

  private def groupedOrderStats(df: DataFrame, valCol: String,
                                by: Seq[String], ps: Seq[Double],
                                cont: Boolean): DataFrame = {
    require(ps.nonEmpty, "give at least one percentage")
    require(ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentages must be in [0, 1], got $ps")
    val spark = df.sparkSession
    val k = by.size
    val keyCols = by.map(col)
    val sorted = df
      .select(keyCols :+ col(valCol).cast("double").as("__v"): _*)
      .where(col("__v").isNotNull)
      .repartitionByRange(
        spark.sessionState.conf.numShufflePartitions,
        keyCols :+ col("__v"): _*)
      .sortWithinPartitions((by :+ "__v").map(col): _*)
    // .rdd materializes the range shuffle once; both passes below are
    // reduce-side only (the map stage is skipped on the second job)
    val rdd = sorted.rdd
    def keyOf(r: org.apache.spark.sql.Row): List[Any] =
      (0 until k).map(r.get).toList
    // pass 1: per-partition per-group counts (bounded: |parts|·|groups|)
    val partCounts: Array[(Int, Seq[(List[Any], Long)])] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable
          .LinkedHashMap.empty[List[Any], Long]
        it.foreach { r =>
          val key = keyOf(r)
          m.update(key, m.getOrElse(key, 0L) + 1L)
        }
        Iterator.single(pid -> m.toSeq)
      }.collect()
    val totals = scala.collection.mutable.LinkedHashMap.empty[List[Any], Long]
    partCounts.sortBy(_._1).foreach { case (_, m) =>
      m.foreach { case (key, c) =>
        totals.update(key, totals.getOrElse(key, 0L) + c)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      df.select(keyCols: _*).schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("n_values",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("qs",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false)))
    if (totals.isEmpty) {
      // empty input: zero groups, schema preserved
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema)
    }
    // 1-based ranks needed per group
    def ranksOf(n: Long): Seq[Long] =
      if (!cont) ps.map(p => math.max(1L, math.ceil(p * n).toLong))
      else ps.flatMap { p =>
        val pos = p * (n - 1) // 0-based, Spark Percentile's convention
        Seq(pos.floor.toLong + 1, pos.ceil.toLong + 1)
      }
    // driver: map each needed (group, rank) to the (partition, offset
    // within the group's run in that partition) holding it — range
    // partitioning guarantees a group's values ascend across
    // partition ids, so a cumulative walk locates every rank
    val sortedCounts = partCounts.sortBy(_._1)
    val pickAt = scala.collection.mutable
      .Map.empty[(List[Any], Long), (Int, Long)] // (key, rank) → (pid, off)
    totals.foreach { case (key, n) =>
      val wanted = ranksOf(n).distinct.sorted
      var cum = 0L
      var wi = 0
      sortedCounts.foreach { case (pid, m) =>
        val c = m.collectFirst { case (`key`, cc) => cc }.getOrElse(0L)
        while (wi < wanted.length && wanted(wi) <= cum + c) {
          pickAt.update((key, wanted(wi)), (pid, wanted(wi) - cum - 1))
          wi += 1
        }
        cum += c
      }
      require(wi == wanted.length,
        s"internal: rank walk exhausted partitions for group $key")
    }
    // per-partition pick lists for the executors
    val picksByPid: Map[Int, Seq[(List[Any], Long)]] = pickAt.toSeq
      .map { case ((key, _), (pid, off)) => (pid, key, off) }
      .distinct
      .groupBy(_._1)
      .map { case (pid, s) => pid -> s.map(t => (t._2, t._3)) }
    val picksB = spark.sparkContext.broadcast(picksByPid)
    // pass 2: extract exactly the picked elements (map stage reused),
    // counting every group's run in the walked partition on the way
    val pass2: Array[(Int, Seq[(List[Any], Long)],
        Seq[((Int, List[Any], Long), Double)])] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        val want = picksB.value.getOrElse(pid, Seq.empty)
        if (want.isEmpty) Iterator.empty
        else {
          val offsByKey: Map[List[Any], Set[Long]] = want.groupBy(_._1)
            .map { case (key, offs) => key -> offs.map(_._2).toSet }
          val runs = scala.collection.mutable
            .ArrayBuffer.empty[(List[Any], Long)]
          val out = scala.collection.mutable
            .ArrayBuffer.empty[((Int, List[Any], Long), Double)]
          var curKey: List[Any] = null
          var pos = -1L
          it.foreach { r =>
            val key = keyOf(r)
            if (key != curKey) {
              if (curKey != null) runs.append(curKey -> (pos + 1L))
              curKey = key; pos = -1L
            }
            pos += 1L
            if (offsByKey.get(key).exists(_.contains(pos)))
              out.append(((pid, key, pos), r.getDouble(k)))
          }
          if (curKey != null) runs.append(curKey -> (pos + 1L))
          Iterator.single((pid, runs.toSeq, out.toSeq))
        }
      }.collect()
    picksB.destroy()
    // the picks are only valid over the rows pass 1 counted: a map
    // stage recomputed between the passes (lost shuffle output, a
    // nondeterministic input) must fail loudly, never pick shifted ranks
    val pass1ByPid = partCounts.toMap
    pass2.foreach { case (pid, runs, _) =>
      val was = pass1ByPid(pid).toMap
      val now = runs.groupMapReduce(_._1)(_._2)(_ + _)
      (was.keySet ++ now.keySet).find(key => was.get(key) != now.get(key))
        .foreach { key =>
          throw new IllegalStateException(
            s"groupedOrderStats: group $key in partition $pid counted " +
              s"${was.getOrElse(key, 0L)} rows in pass 1 but " +
              s"${now.getOrElse(key, 0L)} in pass 2 — the input " +
              "recomputed differently between the passes (a " +
              "nondeterministic source or expression); persist it first")
        }
    }
    val picked: Map[(Int, List[Any], Long), Double] =
      pass2.iterator.flatMap(_._3).toMap
    def valueAtRank(key: List[Any], rank: Long): Double = {
      val (pid, off) = pickAt((key, rank))
      picked((pid, key, off))
    }
    val rows: Seq[org.apache.spark.sql.Row] = totals.toSeq.map {
      case (key, n) =>
        val qs = ps.map { p =>
          if (!cont) valueAtRank(key, math.max(1L, math.ceil(p * n).toLong))
          else {
            // Spark Percentile.getPercentile's exact IEEE arithmetic
            val pos = p * (n - 1)
            val lower = pos.floor.toLong
            val higher = pos.ceil.toLong
            if (lower == higher) valueAtRank(key, lower + 1)
            else (higher - pos) * valueAtRank(key, lower + 1) +
              (pos - lower) * valueAtRank(key, higher + 1)
          }
        }
        org.apache.spark.sql.Row.fromSeq(key ++ Seq(n, qs))
    }
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }
}
