package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.WindowShape.{Fixed, Session}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions for oracle parity (driver compares Spark parquet output
  * against DuckDB running `oracleSql` on the same tables):
  *  - every query output is deterministically and totally ordered;
  *  - double aggregates are `round(...)`-ed on BOTH sides (partial-agg
  *    summation order differs between engines in the last ulp);
  *  - timestamps are emitted as epoch-millis BIGINT (`unix_millis` /
  *    `epoch_ms`) so parquet timestamp encodings never skew the compare;
  *  - pure row-level double arithmetic (a*b) is NOT rounded — IEEE 754
  *    gives bit-identical results in both engines.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Graft.table(spark, dir, name)

  /** The classifier family's shared labeled-docs prefix (one
    * definition for the 20 t33–t52 gates): documents spread across
    * the session parallelism first (round 16 — the single-file
    * fixture arrives as ONE split, which serialized every training
    * cache build and md5 scoring pass onto one core; a
    * production-scale scan has thousands of splits and spread()
    * no-ops), then the ~5% 'dup'-marker label. Values are identical
    * under any partitioning — every downstream op is an exact
    * integer sum or a per-row projection.
    */
  private def labeledDocs(spark: SparkSession, dir: String): DataFrame =
    Graft.spread(t(spark, dir, "documents")).withColumn("y",
      when(array_contains(
        operators.TextAnalysis.tokenize(col("text")), "dup"), 1)
        .otherwise(0))

  /** The d50/d51/d52 corpus-refresh mutation recipe, defined ONCE so
    * the three delta gates provably share it: drop ids %7 (removed),
    * append " v2" to ids %5 (changed), re-add ids %11 under a +1e9
    * shift (added — the shift clears any plausible fixture id range,
    * so shifted ids never collide with survivors and each drop keeps
    * unique ids, the delta operators' keyed-corpus contract).
    */
  private def deltaAfter(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          col("text")))

  /** Exchange barrier between an expensive projection and whatever
    * re-executes its child: (a) a final `orderBy` — the range
    * partitioner's sampling job runs the sort's child once BEFORE the
    * real pass, so a codec/digest projection directly under orderBy
    * executes twice; (b) a frame referenced by two consumers (self
    * join, decode + byte-hash branches) — each branch re-runs every
    * projection above the last exchange. A round-robin repartition in
    * between materializes the work once as shuffle files that the
    * sampling job / second branch reuse. Costs one shuffle of the
    * barriered rows — right whenever the projection above is more
    * expensive than shipping its output (codecs, signatures), wrong
    * for cheap projections. Gates whose last expensive step is
    * already an exchange (groupBy/join) don't need it.
    */
  private def exchangeBarrier(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sessionState.conf.numShufflePartitions)

  /** Globally order the SOURCE before a heavy row-wise projection
    * (round 17): `src.select(heavy).orderBy(k)` executes the heavy
    * projection TWICE — the trailing sort's range sampling runs the
    * sort's whole child once before the real pass — and, on the
    * single-file fixture scan, on 1–2 cores (profiled at sf1: t4's
    * langid battery was two ~5 s two-task jobs). Ordering the source
    * FIRST and projecting after costs the exact same single exchange
    * (the sort the gate already pays) but (a) the sampling pass now
    * runs over the raw scan instead of the projection, (b) the heavy
    * projection executes ONCE, after the exchange, at full
    * parallelism. The explicit partition count pins the exchange
    * against AQE coalescing (which would fold a small fixture's ~60 MB
    * onto one task — the d22 lesson); it is the session shuffle
    * parallelism, a conf, not a tuned constant. Output rows and
    * global order are identical: range partitions are ascending and
    * row-wise projections preserve per-partition order.
    *
    * Trade-off at scale, per gate: the exchange carries the SOURCE
    * columns instead of the projection output. For these report gates
    * the projection is the dominant cost (regex/digest/tokenize
    * batteries measured ≥2× the scan), so one extra pass of source
    * bytes through the same exchange beats recomputing the battery.
    */
  private def orderedSource(spark: SparkSession, df: DataFrame,
                            keys: org.apache.spark.sql.Column*): DataFrame =
    df.repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        keys: _*)
      .sortWithinPartitions(keys: _*)

  /** t25's WordPiece vocab — one definition feeds BOTH the Spark query
    * and the DuckDB oracle's literal list, so the two sides cannot
    * drift. 25 single letters (no 'x', so x-words and digit words
    * collapse to [UNK]) at both tiers, plus multi-char start and
    * continuation pieces that the greedy rule must prefer.
    */
  private val wpVocab: Seq[String] =
    Seq("the", "fast", "str", "sc", "qu", "batch") ++
      "abcdefghijklmnopqrstuvwyz".map(_.toString) ++
      Seq("##ast", "##eam", "##er", "##ow", "##atch") ++
      "abcdefghijklmnopqrstuvwyz".map("##" + _)

  /** t27's blocklist — one definition feeds the Spark query and the
    * oracle's literal list. Corpus-frequent single tokens and
    * bigrams, a mid-word substring ("qu" inside "query"), and the
    * crafted overlap family (every 11th doc gains " abcabcabcd":
    * "abcabc" matches at two OVERLAPPING start positions, "cab" at
    * two, "bcd" at one).
    */
  private val blockPhrases: Seq[String] =
    Seq("table table", "scan scan", "a a", "value", "qu",
      "abcabc", "cab", "bcd")

  /** t29's merge list — one definition feeds the Spark query; the
    * oracle embeds the same pairs literally. Designed so (a) operands
    * of each merge form only via earlier merges (two-level chains:
    * t h→th→the, i n→in→ing, e r→er→ers, o n→on→one), (b) no merge
    * has left == right — the condition under which GPT-2's
    * iterative-lowest-rank semantic provably equals the rank-order
    * fixpoint-replace form the SQL oracle replays (verified
    * exhaustively over ≤7-symbol strings on the operand alphabet +
    * 200k-string fuzz; self-pair lists, where the forms differ, are
    * spec-pinned to the canonical semantic instead).
    */
  private val bpeMerges: Seq[String] =
    Seq("t h", "i n", "a n", "r e", "o n", "e r", "th e", "in g",
      "an d", "o r", "e s", "s t", "e d", "a t", "o u", "er s", "on e")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------------------------
    // Relational core (reference = DataFusion-inherited, SURVEY §2.2-2.5)
    // ------------------------------------------------------------------
    "q1_agg" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_base_price"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("sum_disc_price"),
          // averages go through exact integers: sum the values scaled
          // to ints (exact in both engines, any order), round the
          // scaled quotient to an integer (the one rounding op Spark's
          // BigDecimal and DuckDB's float round always agree on), then
          // divide by a constant — bit-identical cross-engine
          (round(sum($"l_quantity").cast("long") * 10000.0 / count(lit(1)), 0)
            .cast("long") / 10000.0).as("avg_qty"),
          (round(sum(round($"l_discount" * 100, 0).cast("long")) * 100.0
            / count(lit(1)), 0).cast("long") / 10000.0).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    "q2_filter_project" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_discount" > 0.05 && $"l_quantity" < 24)
        .select($"l_orderkey", $"l_linenumber",
          ($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    "q3_join_agg" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey")
        .join(broadcast(t(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_orders"),
          round(sum($"o_totalprice"), 2).as("total_price"))
        .orderBy($"n_name")
    }),

    "q4_semi_join" -> ((s, d) => {
      import s.implicits._
      val big = t(s, d, "lineitem").filter($"l_quantity" > 45)
      t(s, d, "orders")
        .join(big, $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }),

    "q5_anti_join" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .join(t(s, d, "orders").filter($"o_totalprice" > 400000),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_mktsegment")
    }),

    "q6_topk" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_orderkey")
        // round at the addend grid (4dp products), never coarser: a
        // coarser rounding puts true sums exactly on boundaries where
        // engines' last-ulp differences flip the result
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    }),

    // ------------------------------------------------------------------
    // Time windows (reference's core operator, SURVEY §2.4) — run in
    // batch mode here; streaming path is exercised in ScalaTest specs.
    // ------------------------------------------------------------------
    "q7_window_tumbling" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
        .select(unix_millis($"w.start").as("window_start_ms"),
          unix_millis($"w.end").as("window_end_ms"),
          $"event_type", $"n", $"total_value")
        .orderBy($"window_start_ms", $"event_type")
    }),

    "q8_window_sliding" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
        .select(unix_millis($"w.start").as("window_start_ms"),
          unix_millis($"w.end").as("window_end_ms"),
          $"event_type", $"n", $"total_value")
        .orderBy($"window_start_ms", $"event_type")
    }),

    "q9_session_window" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
        .select($"user_id", unix_millis($"w.start").as("session_start_ms"),
          unix_millis($"w.end").as("session_end_ms"), $"n", $"total_value")
        .orderBy($"user_id", $"session_start_ms")
    }),

    "q10_analytic" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val byDate = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
      t(s, d, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_totalprice",
          row_number().over(byDate).cast("long").as("rn"),
          rank().over(Window.partitionBy($"o_custkey")
            .orderBy($"o_totalprice".desc)).cast("long").as("price_rank"),
          round(lag($"o_totalprice", 1).over(byDate), 2).as("prev_price"),
          round(lead($"o_totalprice", 1).over(byDate), 2).as("next_price"),
          round(sum($"o_totalprice").over(
            byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_total"),
          round(first($"o_totalprice").over(byDate), 2).as("first_price"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    "q11_distinct_agg" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_linestatus")
        .agg(countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"),
          countDistinct($"l_returnflag").as("n_flags"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_linestatus")
    }),

    "q12_scalar_battery" -> ((s, d) => {
      import s.implicits._
      t(s, d, "part")
        .select($"p_partkey",
          upper($"p_name").as("up"),
          lower($"p_brand").as("lo"),
          substring($"p_name", 1, 5).as("sub5"),
          length($"p_name").cast("long").as("len"),
          concat_ws("-", $"p_brand", $"p_type").as("bt"),
          regexp_replace($"p_type", " ", "_").as("ty_us"),
          lpad($"p_brand", 12, "*").as("pad"),
          reverse($"p_name").as("rev"),
          instr($"p_name", "a").cast("long").as("pos_a"),
          levenshtein($"p_brand", $"p_type").cast("long").as("lev"),
          translate($"p_name", "aeiou", "AEIOU").as("tr"),
          md5($"p_name").as("h"),
          abs($"p_size" - 25).as("sz_off"),
          round(sqrt($"p_retailprice"), 8).as("sq"),
          round(pow($"p_size", lit(2)), 2).as("sz2"),
          round(log($"p_retailprice"), 6).as("ln_price"),
          round(exp($"p_size" / 10.0), 6).as("ex"))
        .orderBy($"p_partkey")
    }),

    "q13_conditional" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .select($"o_orderkey",
          when($"o_orderstatus" === "F", "done")
            .when($"o_orderstatus" === "O", "open")
            .otherwise("other").as("status_label"),
          coalesce(nullif($"o_orderpriority", lit("3-MEDIUM")), lit("DEFAULT"))
            .as("prio"),
          $"o_orderstatus".isin("F", "P").cast("int").as("is_closed_ish"),
          greatest($"o_totalprice", lit(250000.0)).as("floor_price"),
          least($"o_totalprice", lit(250000.0)).as("cap_price"))
        .orderBy($"o_orderkey")
    }),

    "q14_json_extract" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .select($"event_type",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy($"event_type")
    }),

    "q15_setops" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val purchasers = ev.filter($"event_type" === "purchase").select($"user_id")
      val erroring = ev.filter($"event_type" === "error").select($"user_id")
      val clicking = ev.filter($"event_type" === "click").select($"user_id")
      purchasers.intersect(erroring).except(
          clicking.filter($"user_id" % 7 === 0))
        .union(ev.filter($"user_id" < 0).select($"user_id")).distinct()
        .orderBy($"user_id")
    }),

    "q16_theta_join" -> ((s, d) => {
      import s.implicits._
      val n1 = t(s, d, "nation").select($"n_nationkey".as("k1"),
        $"n_name".as("name1"), $"n_regionkey".as("r1"))
      val n2 = t(s, d, "nation").select($"n_nationkey".as("k2"),
        $"n_name".as("name2"), $"n_regionkey".as("r2"))
      n1.join(n2, $"r1" === $"r2" && $"k1" < $"k2")
        .select($"name1", $"name2", $"r1".as("region"))
        .orderBy($"name1", $"name2")
    }),

    "q17_nested_struct" -> ((s, d) => {
      import s.implicits._
      // Build a rideshare-style nested struct, then access leaf fields —
      // mirrors col("imu_measurement").field("gps").field("speed")
      // (/root/reference/examples/examples/kafka_rideshare.rs:73-75).
      t(s, d, "events")
        .select($"event_id", struct(
          struct($"value".as("speed")).as("gps"),
          $"event_type".as("ty")).as("imu"))
        .select($"event_id", $"imu.gps.speed".as("speed"), $"imu.ty".as("ty"))
        .filter($"speed" > 400)
        .orderBy($"event_id")
    }),

    "q18_date_functions" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .select($"o_orderkey",
          year($"o_orderdate").as("yr"),
          month($"o_orderdate").as("mo"),
          dayofmonth($"o_orderdate").as("dom"),
          unix_millis(date_trunc("month", $"o_orderdate")).as("month_start_ms"),
          datediff(lit("2002-01-01").cast("date"), $"o_orderdate".cast("date"))
            .as("days_to_2002"),
          unix_millis(($"o_orderdate" + expr("INTERVAL 30 DAYS"))
            .cast("timestamp")).as("plus30_ms"))
        .orderBy($"o_orderkey")
    }),

    // Reference flagship pipeline (simple_aggregation.rs:47-52) driven
    // through the graft DataStream API: filter → tumbling window with
    // count/min/max/avg → flattened window_start_time/window_end_time.
    "q19_datastream_pipeline" -> ((s, d) => {
      import s.implicits._
      graft.api.Context(s).fromDF(t(s, d, "events"), "ts")
        .filter($"value" > 10)
        .window(Seq($"event_type"),
          Seq(count(lit(1)).as("n"),
            round(min($"value"), 2).as("min_v"),
            round(max($"value"), 2).as("max_v"),
            (round(sum(round($"value" * 100, 0).cast("long")) * 100.0
              / count(lit(1)), 0).cast("long") / 10000.0).as("avg_v")),
          "1 hour")
        .toDF
        .select($"event_type", $"n", $"min_v", $"max_v", $"avg_v",
          unix_millis($"window_start_time").as("window_start_ms"),
          unix_millis($"window_end_time").as("window_end_ms"))
        .orderBy($"window_start_ms", $"event_type")
    }),

    "q20_collect" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(array_join(sort_array(collect_set($"l_linestatus")), ",")
            .as("statuses"),
          countDistinct($"l_linestatus").as("n_statuses"))
        .orderBy($"l_returnflag")
    }),

    "q21_stats" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qp"),
          round(covar_pop($"l_quantity", $"l_extendedprice"), 4).as("covp"),
          round(covar_samp($"l_quantity", $"l_extendedprice"), 4).as("covs"),
          round(stddev_pop($"l_quantity"), 6).as("sdp"),
          round(stddev_samp($"l_quantity"), 6).as("sds"),
          round(var_pop($"l_quantity"), 6).as("vp"),
          round(var_samp($"l_quantity"), 6).as("vs"),
          round(median($"l_quantity"), 4).as("med_qty"))
        .orderBy($"l_returnflag")
    }),

    // date_bin (DataFusion scalar the reference inherits; Spark lacks
    // it natively — graft.functions.date_bin composes built-ins)
    "q22_date_bin" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy(graft.functions.date_bin(900, $"ts").as("bin"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis($"bin").as("bin_ms"), $"n")
        .orderBy($"bin_ms")
    }),

    // Ungrouped (global) windowed aggregate — the reference's
    // WindowAggStream/FullWindowAggStream two-stage path (SURVEY §2.4)
    "q24_global_window" -> ((s, d) => {
      import s.implicits._
      graft.api.Context(s).fromDF(t(s, d, "events"), "ts")
        .window(Seq.empty,
          Seq(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"),
            round(min($"value"), 2).as("mn"),
            round(max($"value"), 2).as("mx")),
          "6 hours")
        .toDF
        .select(unix_millis($"window_start_time").as("window_start_ms"),
          $"n", $"total", $"mn", $"mx")
        .orderBy($"window_start_ms")
    }),

    // As-of join (absent from the reference — exceeded; oracle uses
    // DuckDB's native ASOF JOIN). Tolerance bounds the lookback — at
    // scale an untolerated as-of forces unbounded per-key history.
    "q23_asof_join" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("pid"), $"user_id", $"ts".as("pts"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id".as("cid"), $"user_id".as("cuser"),
          $"ts".as("cts"))
      operators.Joins.asOfJoinBackward(purchases, clicks,
          Seq("user_id"), Seq("cuser"), "pts", "cts",
          tolerance = Some("1 DAY"))
        .select($"pid", unix_millis($"pts").as("pts_ms"), $"cid",
          unix_millis($"cts").as("cts_ms"))
        .orderBy($"pid")
    }),

    // forward (time-mirrored) as-of: earliest click at-or-after each
    // purchase within tolerance — same union sort-merge machinery
    // traversing descending
    "q33_asof_forward" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("pid"), $"user_id", $"ts".as("pts"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id".as("cid"), $"user_id".as("cuser"),
          $"ts".as("cts"))
      operators.Joins.asOfJoinForward(purchases, clicks,
          Seq("user_id"), Seq("cuser"), "pts", "cts",
          tolerance = Some("1 DAY"))
        .select($"pid", unix_millis($"pts").as("pts_ms"), $"cid",
          unix_millis($"cts").as("cts_ms"))
        .orderBy($"pid")
    }),

    // multi-dimensional rollup in one pass: CUBE over
    // (returnflag, linestatus) — all four grouping sets from a single
    // shuffle (Catalyst expands the grouping-set id map-side; no
    // four-scan union). NULL grouping slots are coalesced to a
    // sentinel so the oracle needs no GROUPING() support.
    "q34_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy(col("rf"), col("ls"))),

    // rollup (hierarchical grouping sets, one shuffle like cube) with
    // the grouping-set provenance pinned: grouping_id distinguishes
    // detail rows from flag subtotals and the grand total — both
    // engines agree on the first-column-most-significant bitmask
    "q37_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().cast("long").as("gid"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"), col("gid"))
        .orderBy(col("rf"), col("ls"))),

    // pivot (long → wide): per-status quantity totals split into one
    // column per return flag. Values are enumerated explicitly — the
    // scale-correct form (implicit pivot runs a distinct-value job
    // first and caps at spark.sql.pivotMaxValues); the oracle is the
    // portable conditional-aggregation spelling.
    "q35_pivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum(col("l_quantity")), 2))
        .orderBy(col("l_linestatus"))),

    // §2.5 long-tail analytic window functions (DataFusion re-exports
    // the same names, py-denormalized functions.py)
    "q25_window_battery" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val byDate = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
      val byPrice = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc)
      t(s, d, "orders").select($"o_custkey", $"o_orderkey",
          dense_rank().over(byPrice).cast("long").as("drank"),
          round(percent_rank().over(byPrice), 6).as("prank"),
          round(cume_dist().over(byPrice), 6).as("cdist"),
          ntile(4).over(byDate).cast("long").as("quartile"),
          nth_value($"o_totalprice", 2).over(
            byDate.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).as("second_price"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // §2.5 long-tail aggregates: bit/bool aggs, listagg, regr_*,
    // approx_count_distinct (exact at low cardinality)
    "q26_agg_battery" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          expr("bit_and(l_linenumber)").cast("long").as("ba"),
          expr("bit_or(l_linenumber)").cast("long").as("bo"),
          expr("bit_xor(l_linenumber)").cast("long").as("bx"),
          expr("bool_and(l_quantity > 1)").as("all_q"),
          expr("bool_or(l_discount > 0.09)").as("any_d"),
          expr("approx_count_distinct(l_linestatus)").cast("long")
            .as("acd_status"),
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4)
            .as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
            .as("icept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
          expr("listagg(DISTINCT l_linestatus, ',') " +
            "WITHIN GROUP (ORDER BY l_linestatus)").as("statuses"))
        .orderBy($"l_returnflag")
    }),

    // approx percentile battery with a hard oracle: at accuracy
    // 1,000,000 the GK sketch's rank error is n/accuracy < 1 rank at
    // every gated SF, so percentile_approx returns the element at
    // exactly rank ceil(p·n) — the same discrete-quantile convention
    // DuckDB's quantile_disc implements (verified empirically for
    // n=4,5,6,10 and all three quartiles). Outputs are actual data
    // elements, so no rounding is needed.
    // An EAGER builder: the two quantile selections run their jobs at
    // build time, not when the returned frame is consumed, and it is
    // the one builder that runs them on its own threads (Futures) and
    // waits for them.
    "q31_approx_percentile" -> ((s, d) => {
      import s.implicits._
      // Round 17: the full-accuracy GK sketch (ONE 17.6 s aggregation
      // job at sf1 — compression work grows super-linearly in
      // accuracy·n) is replaced by EXACT distributed rank selection
      // (Sketches.quantilesDisc), which computes the element at rank
      // ceil(p·n) directly — the same discrete-quantile convention
      // the old spelling's accuracy-1e6 sketch guaranteed at gated
      // SFs (rank error n·1e-6 < 1) and this gate's oracle
      // (quantile_disc) defines at EVERY scale. Values are identical;
      // the sketch's silent degradation past n = 1e6 rows is gone.
      val li = t(s, d, "lineitem")
      val ps = Seq(0.25, 0.5, 0.75)
      // the two columns' selections and the count are INDEPENDENT
      // job chains — overlap them (guide §2.6: back-fill the tail)
      // instead of paying three sequential shuffles' stragglers
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val qF = Future(operators.Sketches.quantilesDisc(li, "l_quantity",
        Seq("l_returnflag"), ps).select($"l_returnflag",
        element_at($"qs", 1).as("q25"), element_at($"qs", 2).as("q50"),
        element_at($"qs", 3).as("q75")))
      // all three quartiles on the near-unique price column too:
      // l_quantity's heavy ties could mask a one-rank convention
      // divergence (a wrong rank lands on the same tied value);
      // l_extendedprice cannot
      val qpF = Future(operators.Sketches.quantilesDisc(li,
        "l_extendedprice", Seq("l_returnflag"), ps)
        .select($"l_returnflag",
          element_at($"qs", 1).as("price_q25"),
          element_at($"qs", 2).as("med_price"),
          element_at($"qs", 3).as("price_q75")))
      // n counts ALL group rows (the old count(lit(1)) semantics,
      // null values included) — a column-pruned map-side agg
      val n = li.groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      // one bounded wait for both chains: a wedged job fails the gate
      // loudly instead of hanging the build
      val (q, qp) = Await.result(qF.zip(qpF),
        scala.concurrent.duration.Duration(1, "hour"))
      n.join(q, Seq("l_returnflag"), "left")
        .join(qp, Seq("l_returnflag"), "left")
        .select($"l_returnflag", $"q25", $"q50", $"q75",
          $"price_q25", $"med_price", $"price_q75", $"n")
        .orderBy($"l_returnflag")
    }),

    // Date/time long tail: quarter/dow/ISO-week/format/last_day/
    // week-trunc/add_months (clamping semantics match DuckDB's
    // interval-month addition)
    "q30_datetime_battery" -> ((s, d) => {
      import s.implicits._
      orderedSource(s, t(s, d, "orders"), $"o_orderkey")
        .select($"o_orderkey",
          quarter($"o_orderdate").cast("long").as("qtr"),
          dayofweek($"o_orderdate").cast("long").as("dow"),
          weekofyear($"o_orderdate").cast("long").as("wk"),
          date_format($"o_orderdate", "yyyy-MM").as("ym"),
          unix_millis(last_day($"o_orderdate").cast("timestamp"))
            .as("eom_ms"),
          unix_millis(date_trunc("week", $"o_orderdate"))
            .as("week_start_ms"),
          unix_millis(add_months($"o_orderdate", 2).cast("timestamp"))
            .as("plus2m_ms"))
    }),

    // Stream-stream time-range join (DataStream.joinWithinTime) run in
    // batch mode — same plan shape (equi-key + symmetric range), with
    // the aggregation keeping the gate output small
    "q28_range_join" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val ctx = graft.api.Context(s)
      val purchases = ctx.fromDF(ev.filter($"event_type" === "purchase")
        .select($"event_id".as("pid"), $"user_id", $"ts"), "ts")
      val clicks = ctx.fromDF(ev.filter($"event_type" === "click")
        .select($"event_id".as("cid"), $"user_id".as("cuser"),
          $"ts".as("cts")), "cts")
      purchases.joinWithinTime(clicks, col("user_id") === col("cuser"),
          "30 minutes")
        .toDF
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct($"pid").as("n_purchases"),
          countDistinct($"cid").as("n_clicks"))
        .orderBy($"user_id")
    }),

    // The SQL entry point (Context.sql over registered tables) — the
    // reference exposes ctx.sql the same way
    "q29_sql_surface" -> ((s, d) => {
      Graft.registerAll(s, d)
      graft.api.Context(s).sql(
        """SELECT o_orderpriority, count(*) AS n_orders,
          |  round(sum(o_totalprice), 2) AS total
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin).toDF
    }),

    // The curation suite through the SQL surface: hash_sample /
    // split_by_hash / redact_pii registered by GraftFunctions reuse the
    // operator Column compositions verbatim (ExpressionUtils bridge),
    // so this gate pins SQL↔DataFrame parity AND the DuckDB draw
    // recipe at once. A synthetic email is appended in-query so
    // redact_pii provably fires on every row.
    "q32_sql_curation" -> ((s, d) => {
      Graft.registerAll(s, d)
      graft.api.Context(s).sql(
        """SELECT doc_id,
          |  split_by_hash(doc_id, 'train', 0.8, 'val', 0.1, 'test', 0.1)
          |    AS split,
          |  redact_pii(text || ' reach admin' || CAST(doc_id AS STRING)
          |    || '@corp.example.org') AS clean
          |FROM documents
          |WHERE hash_sample(doc_id, 0.3)
          |ORDER BY doc_id""".stripMargin).toDF
    }),

    // ------------------------------------------------------------------
    // Training-data pipeline operators (beyond reference; SURVEY §7.2.4)
    // ------------------------------------------------------------------
    "d1_dedup_groups" -> ((s, d) =>
      operators.Dedup.exactGroups(t(s, d, "documents"), "text", "doc_id")
        .orderBy(col("keeper_id"))),

    "d2_dedup_dropdups" -> ((s, d) =>
      operators.Dedup.dropExactDuplicates(t(s, d, "documents"),
          "text", "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    "d3_jaccard_pairs" -> ((s, d) =>
      operators.Dedup.jaccardPairsWithinBlock(t(s, d, "documents"),
          "text", "doc_id", "lang", shingleN = 3, threshold = 0.1)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("doc_id_1"), col("doc_id_2"))),

    // Input = documents ∪ one-word-mutated copies so the pair pipeline
    // provably fires end-to-end. The oracle is the EXACT all-pairs
    // jaccard ≥ t set: the LSH candidate stage is probabilistic in
    // general, but 16 bands × 2 rows gives per-pair recall ≈ 0.990 at
    // j = 0.5 (≥ 1-5e-5 at j ≥ 0.7), and on this deterministic fixture
    // recall is verified exactly 1 at sf0.001/0.01/0.1 — so the
    // verified-pair output equals the exact set and hash-matches.
    "d4_minhash_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      // exchangeBarrier: the d22 note — the exact-Jaccard verify is
      // post-join scan-stage work the final orderBy re-ran (two ~2.5 s
      // 37-task jobs at sf1); (id, id, jaccard) rows shuffle once
      exchangeBarrier(s,
          operators.Dedup.minhashNearDupPairs(docs.unionByName(mutated),
            "text", "doc_id", numHashes = 32, bands = 16,
            threshold = 0.5)
          .withColumn("jaccard", round(col("jaccard"), 6)))
        .orderBy(col("doc_id_1"), col("doc_id_2"))
    }),

    // MD5-token-hash signatures so DuckDB recomputes them bit-for-bit;
    // hamming ≤ 3 over 4×16-bit bands ⇒ ≥1 band equal (pigeonhole), so
    // the banded pair set IS the exact ≤3-hamming set — a hard oracle,
    // not a probabilistic one.
    "d5_simhash_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      operators.Dedup.simhashPairsFromSig(docs.unionByName(mutated),
          graft.functions.simhash64_md5(
            operators.TextAnalysis.tokenize(col("text"))),
          "doc_id", maxHamming = 3)
        .orderBy(col("doc_id_1"), col("doc_id_2"))
    }),

    // 128-bit SimHash (the scale path past d5's 16-bit-band ceiling):
    // same MD5-token votes extended to the full digest, banded 4×32-bit
    // — still pigeonhole-exact at hamming ≤ 3, and DuckDB still
    // recomputes every signature bit from md5(token) hex, so this is a
    // hard oracle over the WIDE signature family.
    "d7_simhash128_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      operators.Dedup.simhash128NearDupPairs(docs.unionByName(mutated),
          "text", "doc_id", maxHamming = 3)
        .orderBy(col("doc_id_1"), col("doc_id_2"))
    }),

    // Pairs → duplicate CLUSTERS: connected components over the d5
    // pair graph, labeled by min reachable id. The oracle recomputes
    // the same pair set in DuckDB (the d5 recipe) and closes it with a
    // recursive CTE — an end-to-end cross-engine check of the
    // iterative DataFrame loop.
    "d8_dup_components" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      val all = docs.unionByName(mutated)
      val pairs = operators.Dedup.simhashPairsFromSig(all,
        graft.functions.simhash64_md5(
          operators.TextAnalysis.tokenize(col("text"))),
        "doc_id", maxHamming = 3)
      operators.Dedup.connectedComponents(pairs, "doc_id_1", "doc_id_2")
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy(col("doc_id"))
    }),

    // the same closure through the O(log n)-round star-contraction
    // algorithm (long-diameter escape hatch): labels must be
    // identical, so it shares d8's recursive-CTE oracle verbatim —
    // a hash-exact cross-algorithm, cross-engine check
    "d13_dup_components_star" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      val all = docs.unionByName(mutated)
      val pairs = operators.Dedup.simhashPairsFromSig(all,
        graft.functions.simhash64_md5(
          operators.TextAnalysis.tokenize(col("text"))),
        "doc_id", maxHamming = 3)
      operators.Dedup.connectedComponentsStar(pairs, "doc_id_1",
          "doc_id_2")
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy(col("doc_id"))
    }),

    // keep-BEST near-dup dedup: the mutated copy appends a token, so
    // it is one token LONGER than its original — score = token count
    // must keep the mutated (high) id wherever a pair fires, the
    // opposite of d9's min-id rule; ties (unpaired rows) stay. The
    // oracle reruns the closure and ranks by (ntok desc, id) per
    // component.
    "d15_keep_best_neardups" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(col("text"), lit(" zz")))
      operators.Dedup.dropNearDuplicateDocsKeepBest(
          docs.unionByName(mutated), "text", "doc_id",
          operators.TextAnalysis.tokenCount(col("text")),
          maxHamming = 3)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // BOUNDED-SCOPE exact form: the fixture is capped to a fixed id
    // range (vec_id < 1000 — binds from sf0.1 up), because the
    // fixed-block all-pairs plan is N²/L by design and is only ever
    // correct to run on bounded blocks (per-user histories, per-shard
    // dictionaries). The corpus-scale spelling of the same answer is
    // d11's SRP-LSH form; this gate documents the exact-recall
    // bounded-block tool at its intended (bounded) scope.
    "d6_embedding_neardup" -> ((s, d) =>
      operators.Dedup.embeddingNearDupPairs(
          t(s, d, "embeddings").filter(col("vec_id") < 1000),
          "embedding", "vec_id", "label", threshold = 0.35)
        .orderBy(col("vec_id_1"), col("vec_id_2"))),

    // The AT-SCALE embedding near-dup: content-derived SRP-LSH blocking
    // (d6's fixed-label blocking is N²/L — measured 49.8× for 10× data
    // at sf1; this form's bucket cardinality scales with the corpus).
    // Fixture = embeddings ∪ a deterministically perturbed copy
    // (+2^-6 on coordinate 1, computed in double on both engines):
    // self-pairs sit at cos ≈ 0.9999 while every other pair stays
    // ≤ 0.61 at every SF — a real angle gap, so threshold 0.9 selects
    // exactly the self-pairs. 16 planes (65,536 buckets/table) keep
    // buckets small even though these embeddings are CLUSTERED (8
    // planes put 10% of all rows in one bucket — 1.3M candidates for
    // 2k true pairs; 16 planes ⇒ candidates ≈ true pairs); at the
    // fixture's angle (θ ≈ 0.016 rad) one 16-plane table catches a
    // pair with p ≈ 0.995^16 ≈ 0.92, so the 8-table miss probability
    // is ~0.08^8 ≈ 1.2e-9 per pair — recall 1 on these fixtures,
    // verified sf0.001/0.01/0.1 (the s2 recipe). Oracle = DuckDB
    // exact all-pairs cosine at the threshold.
    "d11_embedding_neardup_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val mutated = emb
        .withColumn("vec_id", col("vec_id") + 1000000L)
        .withColumn("embedding", concat(
          array(element_at(col("embedding"), 1) + lit(0.015625)),
          slice(col("embedding"), 2, 63)))
      operators.Dedup.embeddingNearDupPairsLsh(emb.unionByName(mutated),
          "embedding", "vec_id", threshold = 0.9, nPlanes = 16, dim = 64,
          nTables = 8)
        .orderBy(col("vec_id_1"), col("vec_id_2"))
    }),

    // SemDeDup one-call semantic dedup: the s5 cluster fixture, but
    // every 7th cluster's 2⁻⁵-mutant gets a NEGATIVE id — the kept
    // representative is then a MUTANT for those clusters, so the gate
    // exercises the component-minimum keeper, not just "originals
    // survive". Qualifying pairs are exactly the in-cluster ones
    // (natural max cos 0.513 « 0.9 — the s5/d11 margin argument).
    "d16_semantic_dedup" -> ((s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"),
        col("label"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      def mut(delta: Double) = emb
        .withColumn("embedding", concat(
          array(element_at(col("embedding"), 1) + lit(delta)),
          slice(col("embedding"), 2, 63)))
      val du = emb
        .unionByName(mut(0.015625)
          .withColumn("vec_id", col("vec_id") + 1000000L))
        .unionByName(mut(0.03125)
          .filter(pmod(col("vec_id"), lit(7)) === 0)
          .withColumn("vec_id", col("vec_id") - 1000000L))
      operators.Dedup.dropSemanticDuplicates(du, "embedding", "vec_id",
          threshold = 0.9, nPlanes = 16, dim = 64, nTables = 8)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // decontamination: strip corpus rows whose exact content appears
    // in a reference set (here: a salted-draw sample of the corpus
    // itself, so the oracle can recompute membership deterministically)
    "d10_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = operators.Sampling.hashSample(docs, "doc_id", 0.3)
      operators.Dedup.decontaminate(docs, ref, "text")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // the PERSISTED exact-index round trip (the d10 twin): the
    // reference's distinct content digests persist once per reference
    // drop (DedupIndex.writeExact) and the corpus anti-joins the
    // read-back frame — bit-identical to the inline build. The same
    // read-back frame is the streaming decontamination path
    // (stream-static anti join; StreamingDedupSpec).
    "d34_decontaminate_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = operators.Sampling.hashSample(docs, "doc_id", 0.3)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-d34").toString + "/idx"
      operators.DedupIndex.writeExact(ref, "text", tmp)
      val idx = operators.DedupIndex.readExact(s, tmp)
      operators.Dedup.decontaminateFromIndex(docs, idx, "text")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // the Bloom-prefiltered spelling of d10 — same fixture, same
    // oracle: the filter (sized to guarantee fpp is only a perf knob)
    // clears definitely-clean rows without any join and the exact
    // anti-join re-checks just the flagged slice, so the result is
    // bit-identical to the plain anti-join by construction. The gate
    // proves the no-false-negative composition, not the fpp.
    "d17_bloom_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = operators.Sampling.hashSample(docs, "doc_id", 0.3)
      operators.Dedup.decontaminateBloom(docs, ref, "text",
          expectedRefItems = 10000L, fpp = 0.01)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // graded contamination: per-document 13-gram overlap COUNTS and
    // fraction against the d14 reference slices (threshold policies
    // need the score, not just d14's binary drop). Oracle rebuilds
    // the exact distinct-gram sets per document in DuckDB.
    "d18_overlap_frac" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = operators.TextAnalysis.tokenize(col("text"))
      val ref = docs
        .filter(pmod(col("doc_id"), lit(7)) === 0 && size(toks) >= 25)
        .select(concat_ws(" ", slice(toks, 5, 21)).as("text"))
      operators.Dedup.ngramOverlapStats(docs, ref, "text", "doc_id",
          n = 13)
        .orderBy(col("doc_id"))
    }),

    // the duplication report every dedup run prints before anyone
    // picks thresholds: cluster-size histogram over the d8 pair graph
    // including singletons (sum(n_docs) = corpus size). Oracle = the
    // d8 recursive closure, labeled back onto the corpus, grouped.
    "d19_cluster_stats" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      val all = docs.unionByName(mutated)
      val pairs = operators.Dedup.simhashPairsFromSig(all,
        graft.functions.simhash64_md5(
          operators.TextAnalysis.tokenize(col("text"))),
        "doc_id", maxHamming = 3)
      operators.Dedup.nearDupClusterStats(all, pairs,
          "doc_id_1", "doc_id_2", "doc_id")
        .orderBy(col("cluster_size"))
    }),

    // NEAR decontamination — the half a real curation pipeline runs
    // against eval sets (d10 gates only exact-hash matches). Reference
    // set = the same salted-draw sample near-mutated with the d5
    // one-word edit (what a leaked benchmark rephrase looks like);
    // signatures are the externally-recomputable MD5-vote family, so
    // DuckDB rebuilds every bit and the ≤3-hamming cross-corpus pair
    // set is pigeonhole-exact over the 4×16-bit bands — a hard oracle.
    "d12_near_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = operators.Sampling.hashSample(docs, "doc_id", 0.3)
        .select(col("doc_id").as("rid"),
          regexp_replace(col("text"), "the", "thee").as("text"))
      operators.Dedup.simhashOverlap(docs, ref, "text", "doc_id", "rid",
          maxHamming = 3)
        .orderBy(col("doc_id"), col("ref_rid"))
    }),

    // SUBSTRING-level decontamination (the 13-gram recipe): reference
    // set = token slices CUT OUT OF some documents (tokens 5..25 of
    // every 7th doc), so contamination is a strict substring — what
    // d10's whole-doc hash and d12's whole-doc SimHash both miss.
    // Oracle rebuilds the exact gram sets in DuckDB; no probabilistic
    // stage anywhere, so the match set is exact by construction.
    "d14_ngram_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = operators.TextAnalysis.tokenize(col("text"))
      val ref = docs
        .filter(pmod(col("doc_id"), lit(7)) === 0 && size(toks) >= 25)
        .select(concat_ws(" ", slice(toks, 5, 21)).as("text"))
      operators.Dedup.ngramDecontaminate(docs, ref, "text", "doc_id",
          n = 13)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // SEMANTIC decontamination — the embedding member of the family
    // (d10 exact / d12 token-near / d14 substring): catches
    // PARAPHRASED eval material. Reference = every 3rd embedding with
    // the d11 2^-6 first-coordinate perturbation (cos ≈ 0.9999 to its
    // original, ≤ 0.61 to everything else — the d11 angle-gap
    // argument), 16 planes × 8 tables ⇒ per-pair miss ~1.2e-9 at the
    // fixture's angle: recall provably 1, verified sf0.001/0.01/0.1.
    // Oracle = DuckDB exact NOT EXISTS over all (corpus, ref) cosines.
    "d20_semantic_decontaminate" -> ((s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"),
        col("label"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val ref = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
        .select(concat(
          array(element_at(col("embedding"), 1) + lit(0.015625)),
          slice(col("embedding"), 2, 63)).as("embedding"))
      operators.Dedup.semanticDecontaminate(emb, ref, "embedding",
          "vec_id", threshold = 0.9, nPlanes = 16, dim = 64, nTables = 8)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // the one-call composition: SimHash pairs → components → keep
    // cluster minimums; oracle = the d8 closure anti-joined back
    "d9_drop_neardups" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      operators.Dedup.dropNearDuplicateDocs(
          docs.unionByName(mutated), "text", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "s1_sim_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      operators.Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 3), "embedding", "vec_id", 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Oracle = the EXACT top-k (s1's query): with 8 tables × hamming≤2
    // multi-probe the LSH candidate set provably contains the true
    // top-k on these fixtures (verified sf0.001/0.01/0.1), and the
    // re-rank is exact cosine — so ANN output hash-matches exact.
    "s2_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      operators.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 3),
          "embedding", "vec_id", 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Thresholded kNN SELF-join (the SemDeDup primitive): corpus ∪ two
    // mutated copies per vector (δ = 2⁻⁶ and 2⁻⁵ on coordinate 1) →
    // each 3-cluster's internal cosines ≥ 0.9995 while the hardest
    // natural pair sits at 0.513 (measured, sf0.01) — so the ≥0.9
    // qualifying set is exactly the in-cluster pairs, the d11
    // plane/table config finds every one, and each query's 2-neighbor
    // ranked list hash-matches the exact all-pairs oracle. Round-6
    // cosine ties ((e,m1) vs (m1,m2) tie in ~40% of clusters) break by
    // neighbor_id — the same rule both engines apply.
    // Embedding sanity/QA — the validation pass before any ANN/
    // near-dup stage: every 11th vector zeroed, every 7th given a NaN
    // first coordinate (both in-query, replayed by the oracle);
    // dim/L2-norm/bad-coordinate-count/zero-flag per vector, with the
    // norm computed over usable coordinates so one NaN doesn't erase
    // the diagnostic row
    "s6_embedding_stats" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val injected = emb.withColumn("embedding",
        when(pmod(col("vec_id"), lit(11)) === 0,
            transform(col("embedding"), _ => lit(0.0f)))
          .when(pmod(col("vec_id"), lit(7)) === 0,
            concat(array(lit(Float.NaN)),
              slice(col("embedding"), 2, 63)))
          .otherwise(col("embedding")))
      operators.Similarity.embeddingStats(injected, "embedding",
          "vec_id")
        .orderBy(col("vec_id"))
    }),

    // Label-cohesion QA: per label, mean cosine to the OWN centroid
    // vs each member's best RIVAL centroid, the margin, and the
    // modal confusion direction — "are my labels consistent in
    // embedding space". Centroids are per-label SUM vectors (cosine
    // is scale-invariant) and include the member; the oracle replays
    // the same definition with list_cosine_similarity (the s1-family
    // parity contract).
    "s12_label_cohesion" -> ((s, d) =>
      operators.Similarity.labelCohesionReport(t(s, d, "embeddings"),
          "embedding", "vec_id", "label")
        .orderBy(col("label"))),

    "s5_knn_join" -> ((s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      def mut(idOff: Long, delta: Double) = emb
        .withColumn("vec_id", col("vec_id") + idOff)
        .withColumn("embedding", concat(
          array(element_at(col("embedding"), 1) + lit(delta)),
          slice(col("embedding"), 2, 63)))
      operators.Similarity.knnJoinLsh(
          emb.unionByName(mut(1000000L, 0.015625))
            .unionByName(mut(2000000L, 0.03125)),
          "embedding", "vec_id", k = 2, minCos = 0.9, nPlanes = 16,
          dim = 64, nTables = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF ANN with full-probe: KMeans centroids are not stable across
    // partition layouts, but probing every cell makes recall
    // structurally 1 for ANY centroid assignment — the gate proves the
    // index build + cell-probe join loses/duplicates nothing, while
    // partial-probe recall is covered in PipelineSpec.
    "s3_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // few fit iterations: with full-probe, centroid quality affects
      // only cell balance, never the result set
      operators.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3),
          "embedding", "vec_id", 5, nCentroids = 8, nProbe = 8,
          maxIter = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The PERSISTED IVF index round trip (the s3 twin): fit once,
    // write centroids + assignments, read back, query from the
    // persisted frames. Full-probe like s3, so the result set equals
    // exact top-k regardless of centroid quality — the gate shares
    // s3's oracle and pins that persistence changes nothing.
    "s7_ann_ivf_indexed" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-s7").toString + "/idx"
      operators.DedupIndex.writeIvf(emb, "embedding", "vec_id", tmp,
        nCentroids = 8, maxIter = 3)
      val (cents, assigned) = operators.DedupIndex.readIvf(s, tmp,
        nCentroids = 8)
      operators.Similarity.ivfTopKFromIndex(cents, assigned,
          emb.filter(col("vec_id") < 3), "embedding", "vec_id", 5,
          nProbe = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Product-quantization ANN with nCandidates ≥ corpus size at the
    // gate sf: the exact-cosine re-rank then sees every row, so the
    // output EQUALS exact brute-force top-k for ANY codebook — the
    // gate proves the fit → encode → ADC-score → re-rank pipeline
    // loses/duplicates nothing, while partial-candidate recall is
    // covered in PipelineSpec. At bench sf (2000 vectors) the same
    // row genuinely prunes: 1000 candidates = half the corpus
    // re-ranked from 32×-compressed codes.
    // Residual IVF-PQ (FAISS's IVFPQ shape — coarse cells + PQ on
    // residuals + per-(query, cell) ADC tables + exact re-rank):
    // full probe (nProbe = nCentroids) and a candidate budget ≥ the
    // corpus make selectivity and compression recall-neutral, so the
    // output hash-matches the exact brute-force oracle — pinning the
    // whole residual pipeline (normalize → coarse assign → residual
    // subtraction → unnormalized codebooks → per-cell dist tables →
    // ADC → re-rank) end to end.
    "s13_ann_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      operators.Similarity.ivfPqTopK(emb,
          emb.filter(col("vec_id") < 3), "embedding", "vec_id", 5,
          dim = 64, nCentroids = 8, m = 8, nCodes = 16, nProbe = 8,
          nCandidates = 1000000, maxIter = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN recall measurement (the monitoring loop the index re-fit
    // policies point at): recall@5 of a deterministic DEGRADED
    // ranking — raw dot product instead of cosine, i.e. "what does
    // skipping normalization cost" — against exact brute force,
    // per query + a mean summary row. Both rankings and the
    // per-query intersection counts replay exactly in DuckDB
    // (list_inner_product / list_cosine_similarity, round-6 + id
    // tie-breaks — the s1 family's parity contract).
    "s15_recall_report" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val exact = operators.Similarity.bruteForceTopK(emb, q,
        "embedding", "vec_id", 5)
      val qx = q.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("__qe"))
      val c = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("__ce"))
      val scored = c.crossJoin(broadcast(qx))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("dot", round(aggregate(
          zip_with(col("__qe"), col("__ce"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x), 6))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("dot").desc, col("neighbor_id"))
      val approx = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
      operators.Similarity.recallReport(approx, exact)
        .orderBy(col("query_id").asc_nulls_last)
    }),

    "s8_ann_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      operators.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3),
          "embedding", "vec_id", 5, dim = 64, m = 8, nCodes = 16,
          nCandidates = 1000000, maxIter = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // OPQ-rotated PQ (Ge et al. 2013) at full candidate budget, full
    // persisted lifecycle: the rotation is fitted (driver-side
    // Procrustes alternation on a deterministic hash-sample),
    // persisted, read back, and applied in front of encode + dist
    // tables while the exact re-rank stays on the ORIGINAL vectors —
    // rotation is orthogonal, so the full-budget output is the exact
    // answer and the gate shares the s1 brute-force oracle (the s8
    // discipline). The recall win at PARTIAL budget is spec-pinned
    // via recallReport on subspace-misaligned data (PipelineSpec).
    "s16_ann_opq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val rot = operators.Similarity.fitOpqRotation(emb, "embedding",
        dim = 64, m = 8, nCodes = 16, iters = 3, maxFitRows = 2048)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-s16").toString + "/rot"
      operators.DedupIndex.writeRotation(s, rot, tmp)
      val r = operators.DedupIndex.readRotation(s, tmp, 64)
      operators.Similarity.opqPqTopK(emb,
          emb.filter(col("vec_id") < 3), "embedding", "vec_id",
          k = 5, dim = 64, rotation = r, m = 8, nCodes = 16,
          nCandidates = 1000000, maxIter = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The PERSISTED PQ index round trip (the s8 twin, the s7
    // discipline): codebooks + compressed codes persist, queries run
    // from the read-back artifact, full-candidate output hash-matches
    // the exact oracle — persistence changes nothing.
    "s9_ann_pq_indexed" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-s9").toString + "/idx"
      operators.DedupIndex.writePq(emb, "embedding", "vec_id", tmp,
        dim = 64, m = 8, nCodes = 16, maxIter = 3)
      val (codes, cb) = operators.DedupIndex.readPq(s, tmp, dim = 64,
        m = 8, nCodes = 16)
      operators.Similarity.pqTopKFromIndex(codes, cb, emb,
          emb.filter(col("vec_id") < 3), "embedding", "vec_id", 5,
          dim = 64, nCandidates = 1000000)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The index-APPEND lifecycle gate for IVF (the incremental-drop
    // discipline the text-side indexes already have): build on the
    // even-id half, append the odd-id half — ONLY the new drop is
    // scanned, assigned with the FROZEN centroids — read back, query
    // with full probe. Full probing makes the result set exact for
    // ANY cell assignment, so the gate shares s3's brute-force
    // oracle verbatim: an append that loses, duplicates, or
    // mis-merges rows fails the same SQL the one-shot build passes.
    "s10_ann_ivf_appended" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-s10").toString + "/idx"
      operators.DedupIndex.writeIvf(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0), "embedding",
        "vec_id", tmp, nCentroids = 8, maxIter = 3)
      operators.DedupIndex.appendIvf(
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding",
        "vec_id", tmp, nCentroids = 8)
      val (cents, assigned) = operators.DedupIndex.readIvf(s, tmp,
        nCentroids = 8)
      operators.Similarity.ivfTopKFromIndex(cents, assigned,
          emb.filter(col("vec_id") < 3), "embedding", "vec_id", 5,
          nProbe = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The full IVF-PQ index LIFECYCLE gate: coarse centroids and
    // residual codebooks fit on the even-id half only; the odd-id
    // drop is assigned to the FROZEN centroids and residual-encoded
    // with the FROZEN codebooks (one scan of just the drop), merged,
    // swapped; the query runs from the read-back artifact at full
    // probe + full candidate budget — which equals exact brute force
    // for ANY fit (the re-rank sees every row), so the gate shares
    // s1's oracle verbatim like s8/s9/s11/s13.
    // OPQ × IVF-PQ, full persisted lifecycle (the s14 discipline
    // THROUGH a learned rotation): rotation fitted + persisted, the
    // index built on the even-id half in rotated space, the odd-id
    // drop appended through the SAME rotation artifact, queries
    // probe rotated — and the exact re-rank on original vectors
    // keeps the full-probe/full-budget output equal to brute force,
    // so the gate shares s1's oracle verbatim
    "s17_ann_opq_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val rotDir = java.nio.file.Files
        .createTempDirectory("graft-s17r").toString + "/rot"
      operators.DedupIndex.writeRotation(s,
        operators.Similarity.fitOpqRotation(emb, "embedding",
          dim = 64, m = 8, nCodes = 16, iters = 3,
          maxFitRows = 2048), rotDir)
      val rot = Some(operators.DedupIndex.readRotation(s, rotDir, 64))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-s17").toString + "/idx"
      operators.DedupIndex.writeIvfPq(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0), "embedding",
        "vec_id", tmp, dim = 64, nCentroids = 8, m = 8, nCodes = 16,
        maxIter = 3, rotation = rot)
      operators.DedupIndex.appendIvfPq(
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding",
        "vec_id", tmp, dim = 64, nCentroids = 8, m = 8, nCodes = 16,
        rotation = rot)
      val (cents, cb, codes) = operators.DedupIndex.readIvfPq(s, tmp,
        dim = 64, nCentroids = 8, m = 8, nCodes = 16,
        expectRotated = true)
      operators.Similarity.ivfPqTopKFromIndex(cents, cb, codes, emb,
          emb.filter(col("vec_id") < 3), "embedding", "vec_id", 5,
          dim = 64, nProbe = 8, nCandidates = 1000000,
          rotation = rot)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "s14_ann_ivfpq_appended" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-s14").toString + "/idx"
      operators.DedupIndex.writeIvfPq(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0), "embedding",
        "vec_id", tmp, dim = 64, nCentroids = 8, m = 8, nCodes = 16,
        maxIter = 3)
      operators.DedupIndex.appendIvfPq(
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding",
        "vec_id", tmp, dim = 64, nCentroids = 8, m = 8, nCodes = 16)
      val (cents, cb, codes) = operators.DedupIndex.readIvfPq(s, tmp,
        dim = 64, nCentroids = 8, m = 8, nCodes = 16)
      operators.Similarity.ivfPqTopKFromIndex(cents, cb, codes, emb,
          emb.filter(col("vec_id") < 3), "embedding", "vec_id", 5,
          dim = 64, nProbe = 8, nCandidates = 1000000)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The index-APPEND lifecycle gate for PQ: codebooks fit on the
    // even-id half only; the odd-id drop is encoded with the FROZEN
    // codebooks in one codes-only scan and merged atomically.
    // Full-candidate output equals exact brute force for ANY
    // codebook (the re-rank sees every row), so the gate shares
    // s1's oracle verbatim like s8/s9.
    "s11_ann_pq_appended" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-s11").toString + "/idx"
      operators.DedupIndex.writePq(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0), "embedding",
        "vec_id", tmp, dim = 64, m = 8, nCodes = 16, maxIter = 3)
      operators.DedupIndex.appendPq(
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding",
        "vec_id", tmp, dim = 64, m = 8, nCodes = 16)
      val (codes, cb) = operators.DedupIndex.readPq(s, tmp, dim = 64,
        m = 8, nCodes = 16)
      operators.Similarity.pqTopKFromIndex(codes, cb, emb,
          emb.filter(col("vec_id") < 3), "embedding", "vec_id", 5,
          dim = 64, nCandidates = 1000000)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Scalar battery #2: array/list + regex + string-position functions
    "q27_array_battery" -> ((s, d) => {
      import s.implicits._
      val words = split($"p_name", " ")
      t(s, d, "part").select($"p_partkey",
          size(words).cast("long").as("n_words"),
          element_at(words, 1).as("w1"),
          array_contains(words, "red").cast("int").as("has_red"),
          array_join(sort_array(words), ",").as("sorted_words"),
          regexp_extract($"p_name", "^(\\w+)", 1).as("first_word"),
          expr("left(p_name, 3)").as("l3"),
          expr("right(p_name, 3)").as("r3"),
          repeat($"p_brand", 2).as("bb"),
          ascii($"p_name").cast("long").as("a1"))
        .orderBy($"p_partkey")
    }),

    // orderedSource (here and in the t4/t7/t8/t14/t16/t18/t19/t24/
    // t25/t29/q30 report gates below): same rows, same global order,
    // but the heavy projection runs ONCE, after the sort exchange, at
    // full parallelism — see the helper's scaladoc
    "t3_text_stats" -> ((s, d) =>
      orderedSource(s, t(s, d, "documents"), col("doc_id")).select(col("doc_id"),
        operators.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"),
        operators.TextAnalysis.charCount(col("text")).cast("long")
          .as("n_chars2"),
        round(operators.TextAnalysis.punctRatio(col("text")), 6)
          .as("punct_ratio"),
        round(operators.TextAnalysis.stopwordRatio(col("text")), 6)
          .as("stopword_ratio"),
        round(operators.TextAnalysis.qualityScore(col("text")), 6)
          .as("quality"))),

    "t6_word_freq" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select(explode(operators.TextAnalysis.tokenize($"text"))
          .as("word"))
        .groupBy($"word").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"word").limit(50)
    }),

    // BPE-ish pre-tokenizer count: tokens = alphanumeric runs + each
    // non-alphanumeric non-space char (lookaround splits aren't
    // RE2-expressible, but the COUNT has this closed form both
    // engines agree on)
    "t7_token_bpeish" -> ((s, d) =>
      orderedSource(s, t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"),
          size(operators.TextAnalysis.tokenizeBpeish(col("text")))
            .cast("long").as("n_bpe_tokens"),
          operators.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_ws_tokens"))),

    "t4_langid" -> ((s, d) =>
      orderedSource(s, t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"),
          operators.TextAnalysis.langId(col("text")).as("lang_pred"))),

    // Deterministic curation sampling (Sampling.scala): every draw is
    // md5-hex, so DuckDB selects the IDENTICAL rows — the oracle is
    // exact row equality, not a statistical bound
    "p1_hash_sample" -> ((s, d) =>
      operators.Sampling.hashSample(t(s, d, "documents"), "doc_id", 0.2)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    "p2_stratified_sample" -> ((s, d) =>
      operators.Sampling.stratifiedHashSample(t(s, d, "documents"),
          "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_id"))
        .orderBy(col("lang"))),

    "p3_split_by_hash" -> ((s, d) =>
      operators.Sampling.splitByHash(t(s, d, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    "p4_topn_per_key" -> ((s, d) =>
      operators.Sampling.topNPerKey(t(s, d, "documents"), "lang",
          "doc_id", 10)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))),

    // token-budget selection: 2000 tokens per lang (cuts strictly
    // inside every stratum at all SFs — smallest stratum holds ~3.5k
    // tokens). The operator's bucket-histogram path must equal the
    // oracle's single global window exactly.
    "p6_token_budget" -> ((s, d) =>
      operators.Sampling.selectToTokenBudget(t(s, d, "documents"),
          "doc_id", operators.TextAnalysis.tokenCount(col("text")),
          budget = 2000L, strataCol = Some("lang"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // quality-weighted soft filter: keep probability = n_chars/400
    // (docs at 400+ chars always survive — both branches exercised);
    // the oracle recomputes the per-row hex threshold bit-exactly
    "p7_weighted_sample" -> ((s, d) =>
      operators.Sampling.weightedHashSample(t(s, d, "documents"),
          "doc_id", col("n_chars") / lit(400.0))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // fractional upsampling (the weight>1 half of mixture
    // application): weight = n_chars/300 spans 0.x to 1.x+, so the
    // fixture exercises 0-copy drops, single copies, and 2-copy rows
    // with a drawn fractional epoch; the oracle replays floor +
    // fractional-draw + range explode exactly (2^32 scaling is IEEE
    // exact, so thresholds agree bit-for-bit)
    "p13_upsample_epochs" -> ((s, d) =>
      operators.Sampling.upsampleByWeight(t(s, d, "documents"),
          "doc_id", col("n_chars") / lit(300.0))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),

    // token-balanced shard assignment: serpentine deal over the
    // (n_tokens desc, doc_id) rank into 8 shards. The operator's
    // histogram-rank path (no global data window) must equal the
    // oracle's single global row_number exactly
    "p14_balanced_shards" -> ((s, d) =>
      operators.Packing.balancedShards(
          t(s, d, "documents").withColumn("n_tokens",
            operators.TextAnalysis.tokenCount(col("text"))
              .cast("long")),
          "doc_id", col("n_tokens"), numShards = 8)
        .select(col("doc_id"), col("n_tokens"), col("shard"))
        .orderBy(col("doc_id"))),

    // leakage-safe split: near-dup CLUSTERS (connected components of
    // the d8 pair graph) draw once on their min-id label, so no
    // train/eval boundary can cut through a near-dup pair; unpaired
    // docs draw on their own id (= plain splitByHash). Oracle reuses
    // the d8 closure CTE and recomputes every band assignment
    "p8_split_leakage_safe" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      val all = docs.unionByName(mutated)
      val pairs = operators.Dedup.simhashPairsFromSig(all,
        graft.functions.simhash64_md5(
          operators.TextAnalysis.tokenize(col("text"))),
        "doc_id", maxHamming = 3)
      operators.Sampling.splitByHashComponents(all, "doc_id", pairs,
          "doc_id_1", "doc_id_2",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // deterministic corpus shuffle: global ORDER BY the salted draw
    // (range exchange — no single-reducer sort); the oracle
    // reproduces the exact permutation, so row ORDER is the check
    "p9_shuffle" -> ((s, d) =>
      operators.Sampling.shuffleByHash(t(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("lang"))),

    // temperature-based domain mixing at tau = 0.5: the selected
    // corpus's lang mixture ∝ √n_lang — the smallest lang keeps every
    // row, the ~3× en majority keeps √(n_min/n_en) of its rows; sqrt
    // is correctly rounded in IEEE 754, so the oracle recomputes every
    // rate and hex threshold bit-exactly
    "p10_temperature_mix" -> ((s, d) =>
      operators.Sampling.temperatureMixSample(t(s, d, "documents"),
          "doc_id", "lang", tau = 0.5)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // WATER-FILLING mixture end-to-end (round 15 — moves the spec-
    // gated allocateMix onto the hash oracle): per-source token
    // counts → allocateMix (weights 16:1 by source-name length, a
    // deliberately skewed target so several sources SATURATE in a
    // multi-round cascade at every SF) → stratifiedHashSample at the
    // allocated fractions. All allocation arithmetic is exact
    // integer-valued doubles plus correctly-rounded divisions, so
    // the oracle replays the fixpoint closed-form: sources sorted by
    // avail/weight saturate as a prefix, and each kept row's hex
    // threshold recomputes bit-exactly (the p10 pattern). The
    // ≤|sources| collect is the operator's documented driver-side
    // contract (allocation is arithmetic on a 20-entry map, not a
    // dataset op)
    "p15_allocate_mix" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val avail = docs.groupBy(col("source"))
        .agg(sum(operators.TextAnalysis.tokenCount(col("text"))
          .cast("long")).as("toks"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val weights = avail.keySet.iterator
        .map(src => src -> (if (src.length == 4) 16.0 else 1.0)).toMap
      val budget = avail.values.sum / 2
      val fracs = operators.Sampling.allocateMix(avail, weights, budget)
      operators.Sampling.stratifiedHashSample(docs, "doc_id",
          "source", fracs)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition signals: explode + two-level groupBy
    // (never per-row quadratic), all-integer outputs for an exact
    // oracle
    "t9_repetition" -> ((s, d) =>
      // spread (not orderedSource — repetitionStats aggregates, so
      // source order doesn't survive): its word AND bigram explode
      // branches each re-run the tokenize off the 1–2-split fixture
      // scan (profiled: two 2-task jobs, 9.3 s of 7.9 s wall at sf1)
      operators.TextAnalysis.repetitionStats(
          Graft.spread(t(s, d, "documents")), "text",
          "doc_id")
        .orderBy(col("doc_id"))),

    // CROSS-doc boilerplate signal: distinct 3-grams per doc vs how
    // many occur in ≥2 docs corpus-wide; all-integer → exact oracle
    "t10_ngram_novelty" -> ((s, d) =>
      operators.TextAnalysis.ngramNoveltyStats(t(s, d, "documents"),
          "doc_id", "text", n = 3, minDf = 2)
        .orderBy(col("doc_id"))),

    // CROSS-doc boilerplate REMOVAL: the single-line fixture corpus is
    // reshaped into 3-word lines (31-word vocab → ~30k combos, so the
    // document frequencies spread organically: ~35% of line
    // occurrences flagged at sf0.001/0.01, ~96% at sf0.1 with
    // thousands surviving), then every line seen in ≥2 distinct docs
    // is stripped and the text rebuilt; rebuilt text + both counts
    // oracled. The reshape assumes non-empty single-space text (the
    // fixture's shape) — the operator itself handles the edge cases
    // (spec'd: empty lines exempt, all-removed docs keep "")
    "t11_strip_boilerplate" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val nLines = floor((size(toks) + lit(2)) / lit(3)).cast("int")
      // spread: the one-split fixture otherwise runs the heavy
      // line-building projection on ONE task, twice (the operator
      // derives its lines frame in two subtrees)
      val lined = Graft.spread(t(s, d, "documents")).select(col("doc_id"),
        array_join(
          transform(sequence(lit(0), nLines - 1),
            i => concat_ws(" ", slice(toks, i * 3 + 1, lit(3)))),
          "\n").as("text"))
      operators.TextAnalysis.stripBoilerplateLines(
          lined, "doc_id", "text", minDf = 2)
        .orderBy(col("doc_id"))
    }),

    // END-TO-END curation pipeline — the composition a 100 TB
    // training-data run actually executes, hash-oracled as ONE query:
    // corpus (unioned with an exact-duplicate copy so dedup does real
    // work) -> quality filter (>=20 ws tokens) -> exact dedup
    // (keep-min-id) -> exact decontamination against a salted 25%
    // eval draw -> temperature mixing by lang (tau=0.5) -> 32/8
    // context-window chunking -> 512-token shard packing. Every stage
    // reuses a recipe already proven by its own gate (d2/d10/p10/
    // t12/p5), so the oracle is the same CTE chain DuckDB-side; the
    // value of the gate is that STAGE COMPOSITION (schemas, salts,
    // id-uniqueness across chunking) is exactly reproducible too.
    "e1_curation_e2e" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val du = docs.union(docs.withColumn("doc_id",
        col("doc_id") + 1000000L).select(docs.columns.map(col): _*))
      val quality = du.filter(
        operators.TextAnalysis.tokenCount(col("text")) >= 20)
      val deduped = operators.Dedup.dropExactDuplicates(
        quality, "text", "doc_id")
      val eval = operators.Sampling.hashSample(du, "doc_id", 0.25)
      val clean = operators.Dedup.decontaminate(deduped, eval, "text")
      val mixed = operators.Sampling.temperatureMixSample(
        clean, "doc_id", "lang", tau = 0.5)
      val chunks = operators.Packing.chunkByTokens(mixed, "text",
        maxTokens = 32, overlap = 8)
      // chunk_index < 64 on this fixture (<=99 tokens / stride 24),
      // so doc_id*64+chunk_index is a unique, order-preserving pack key
      val withId = chunks.withColumn("chunk_id",
        col("doc_id") * 64L + col("chunk_index"))
      operators.Packing.packChunks(withId, "chunk_id", "chunk_tokens",
          capacity = 512L)
        .select(col("doc_id"), col("chunk_index"), col("chunk_tokens"),
          col("shard"), col("start"), col("chunk"), col("offset"),
          col("chunks_spanned"))
        .orderBy(col("doc_id"), col("chunk_index"))
    }),

    // Context-window chunking with overlap (Packing.chunkByTokens):
    // 32-token windows advancing by 24, the trailing 8 tokens shared
    // between neighbours; the 10-99-token fixture yields 1-4 chunks
    // per doc and exercises the suffix-tail drop (a last chunk of
    // <=overlap tokens is a pure repeat and must not emit)
    "t12_chunk_overlap" -> ((s, d) =>
      operators.Packing.chunkByTokens(t(s, d, "documents"), "text",
          maxTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_index"), col("chunk_tokens"),
          col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_index"))),

    // per-key quality-quantile hard cutoff: best 30% of each lang by
    // n_chars (ties broken by doc_id); ceil keeps tiny domains
    // non-empty, and q*n evaluates in IEEE doubles identically on
    // both engines
    "p12_top_quantile" -> ((s, d) =>
      operators.Sampling.topQuantilePerKey(t(s, d, "documents"),
          "lang", "doc_id", col("n_chars"), q = 0.3)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // DSIR-style importance resampling: target LM = the English
    // slice, source LM = the whole corpus; each doc weighted by the
    // capped per-token likelihood ratio 10^(hs-ht) and resampled
    // through the deterministic weighted draw. Both cross-entropies
    // ride the t13 recipe (round-6 grid), so the weight — and
    // therefore the kept set — is bit-exact cross-engine
    "p11_importance_resample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val lmT = operators.TextAnalysis.bigramLm(
        docs.filter(col("lang") === "en"), "text")
      val lmS = operators.TextAnalysis.bigramLm(docs, "text")
      val weighted = operators.TextAnalysis.importanceWeights(
        docs, "doc_id", "text", lmT, lmS)
      operators.Sampling.weightedHashSample(weighted, "doc_id",
          col("imp_weight"))
        .select(col("doc_id"), col("lang"), col("imp_weight"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style LM quality scoring: a stupid-backoff bigram model
    // trained on the ENGLISH slice only, scoring the WHOLE corpus —
    // so non-en docs exercise the OOV floor and backoff path (exact
    // integer counters) while the per-token cross-entropy is a
    // single-division double both engines compute bit-identically
    // before the 6-decimal round
    // BM25 retrieval scoring (Robertson–Zaragoza, Lucene smooth
    // idf): every document scored against a 3-term literal query —
    // one stats pass (N/avgdl/per-term df as conditional counts, no
    // term shuffle) + one scoring projection. The oracle replays
    // tokenization, tf/df, and the full formula with identical
    // parenthesization and term order; ln rounds at 6 like t13's
    // log10 (verified sf0.001/0.01/0.1).
    "t31_bm25" -> ((s, d) =>
      operators.TextAnalysis.bm25Scores(t(s, d, "documents"),
          "doc_id", "text", Seq("join", "window", "spark"))
        .orderBy(col("doc_id"))),

    // Many-query BM25 top-k (the decontamination-grade retrieval
    // spelling: all eval prompts vs the corpus through one corpus
    // explode + broadcast term semi join): 3 query rows, top-10 docs
    // each. Contributions fold in ASCENDING TERM ORDER (array-sorted
    // fold ↔ list_reduce over an ORDER BY term list), so the float
    // summation replays bit-identically; ranks sit on the rounded
    // score with doc-id ties.
    "t32_bm25_topk" -> ((s, d) => {
      import s.implicits._
      val qs = Seq((1L, "join window"), (2L, "hash scan filter"),
        (3L, "spark sort merge")).toDF("qid", "qtext")
      operators.TextAnalysis.bm25TopK(t(s, d, "documents"), "doc_id",
          "text", qs, "qid", "qtext", k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // quality-classifier TRAINING (the learning half of the t19
    // scorer): deterministic full-batch gradient descent over the
    // hashed feature space — integer micro-unit weights, rational
    // sigmoid (no exp — every op correctly rounded IEEE), per-
    // occurrence gradient contributions quantized to integers so
    // accumulation is order-free. Label = contains the 'dup' marker
    // token (the one lexical signal in the synthetic corpus — the
    // lang column is uncorrelated with text there), a rare ~5%
    // class, so the gate exercises the BALANCED path. The oracle
    // UNROLLS all three iterations as chained CTEs and replays
    // every hash digit, margin, residual, class weight, and integer
    // update — the whole optimization is hash-gated, not just the
    // final scores
    "t33_hashed_linear_train" -> ((s, d) => {
      import s.implicits._
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      w.zipWithIndex.map { case (wm, b) => (b, wm) }.toSeq
        .toDF("bucket", "weight_milli")
        .orderBy(col("bucket"))
    }),

    // ...and the trained model applied through the PRODUCTION scorer
    // (hashedLinearScoreWith): train-then-score at query time, per-
    // doc exact integer score + one-division logit; the learned
    // model rediscovers the marker (keep ≈ the marked docs)
    "t34_hashed_trained_score" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      operators.TextAnalysis.hashedLinearScoreWith(docs, "doc_id",
          "text", w.toSeq)
        .orderBy(col("doc_id"))
    }),

    // the PERSISTED classifier round trip (the s9/d32 artifact
    // discipline for the trained model): weights write with a
    // dim+ngrams-pinned sidecar, score through the READ-BACK
    // artifact, output hash-matches t34's oracle — freezing the
    // model on disk changes nothing, which is the whole
    // train-offline/score-online contract
    "t38_linear_indexed" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val dir = java.nio.file.Files.createTempDirectory("graft-t38")
      val tmp = dir.toString + "/model"
      operators.DedupIndex.writeLinear(s, w.toSeq, tmp)
      val (rw, _) = operators.DedupIndex.readLinear(s, tmp, dim = 64)
      // the weights are in memory once readLinear returns — delete
      // the artifact so repeated bench/verify runs don't accumulate
      // trees under /tmp
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      operators.TextAnalysis.hashedLinearScoreWith(docs, "doc_id",
          "text", rw.toSeq)
        .orderBy(col("doc_id"))
    }),

    // word-BIGRAM features (fastText wordNgrams=2): adjacent token
    // pairs hash into the same bucket space, so the model sees word
    // order a bag of words cannot; the oracle replays the whole GD
    // over the unigram+bigram feature rows, n_tokens = feature count
    "t39_bigram_trained_score" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true,
        ngrams = 2)
      operators.TextAnalysis.hashedLinearScoreWith(docs, "doc_id",
          "text", w.toSeq, ngrams = 2)
        .orderBy(col("doc_id"))
    }),

    // EXACT ROC-AUC per source — the threshold-free ranking-quality
    // number (Mann–Whitney with average-rank ties, computed in
    // half-rank integer units so the whole statistic is one division
    // of exact integers); the oracle replays the rank prefix sums
    // over distinct logits per source
    "t41_auc" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      operators.TextAnalysis.aucReport(scored, "y", "logit",
          by = Seq("source"))
        .orderBy(col("source"))
    }),

    // exact PR-AUC (average precision) per source — the rare-class
    // ranking number (the label here IS a ~5% class): per distinct
    // logit, an exact-integer nano-unit term (order-free commutative
    // sum — bit-replayable with no fold order to pin), one final
    // division by 1e9·n_pos
    "t43_pr_auc" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      operators.TextAnalysis.prAucReport(scored, "y", "logit",
          by = Seq("source"))
        .orderBy(col("source"))
    }),

    // calibration-quality (reliability-diagram) report over the
    // Platt-calibrated probabilities: per decile bin, exact counts,
    // exact positive fraction, micro-unit-summed mean claimed
    // probability, signed gap — the oracle replays BOTH trainings
    // (t33's GD + t37's calibration) and then every bin statistic
    "t42_calibration_report" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y")), Seq("doc_id"))
      val (a, b) = operators.TextAnalysis.calibrateLogits(scored,
        "y", "logit", iters = 3, lr = 10.0)
      // fine bins: the calibrated probs cluster tightly around the
      // base rate, so decile bins would collapse to one row — 5e-5
      // bins spread the fixture over ~18 bins, a real reliability
      // table (bounded output either way: only non-empty bins emit)
      operators.TextAnalysis.calibrationReport(
        scored.select(col("doc_id"), col("y"),
          operators.TextAnalysis.calibratedProb(col("logit"), a, b)
            .as("prob")),
        "y", "prob", nBins = 20000)
    }),

    // the PER-SOURCE calibration twin (round 15): same Platt
    // calibration as t42, reliability bins keyed (source, bin) from
    // the same one aggregation pass — per-source reliability is how
    // a confidence-weighted mixture is audited; the oracle replays
    // both trainings then every keyed bin statistic
    "t44_calibration_by" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      val (a, b) = operators.TextAnalysis.calibrateLogits(scored,
        "y", "logit", iters = 3, lr = 10.0)
      operators.TextAnalysis.calibrationReport(
        scored.select(col("doc_id"), col("y"), col("source"),
          operators.TextAnalysis.calibratedProb(col("logit"), a, b)
            .as("prob")),
        "y", "prob", nBins = 20000, by = Seq("source"))
        .orderBy(col("source"), col("bin").asc_nulls_last)
    }),

    // ...and the per-source ECE scalar over those bins (eceBy): the
    // bin-ordered fold runs per group inside one bounded-buffer
    // aggregation; the oracle replays the identical 0.0-seeded fold
    // with list_reduce over the bin-ordered term list
    "t45_ece_by" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      val (a, b) = operators.TextAnalysis.calibrateLogits(scored,
        "y", "logit", iters = 3, lr = 10.0)
      val rep = operators.TextAnalysis.calibrationReport(
        scored.select(col("doc_id"), col("y"), col("source"),
          operators.TextAnalysis.calibratedProb(col("logit"), a, b)
            .as("prob")),
        "y", "prob", nBins = 20000, by = Seq("source"))
      operators.TextAnalysis.eceBy(rep, Seq("source"))
        .orderBy(col("source"))
    }),

    // PER-GROUP threshold sweep: per-source operating points from
    // the same one conditional-count scan (a pooled threshold
    // routinely under-filters the noisiest source); the oracle
    // replays every (source, threshold) confusion cell
    "t40_threshold_sweep_by" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      operators.TextAnalysis.thresholdSweep(scored, "y", "logit",
          Seq(-0.1, 0.0, 0.1), by = Seq("source"))
        .orderBy(col("source"), col("threshold"))
    }),

    // ...and the keyed operating-point PICK over that sweep (round
    // 15): one threshold per source in one pass — max recall at the
    // precision floor, ties to higher precision then lower
    // threshold; sources with no feasible swept point read NULL. The
    // oracle replays the sweep and the exact lexicographic pick per
    // source
    "t46_choose_thresholds" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      val sweep = operators.TextAnalysis.thresholdSweep(scored, "y",
        "logit", Seq(-0.1, 0.0, 0.1), by = Seq("source"))
      operators.TextAnalysis.chooseThresholds(sweep, Seq("source"),
          minPrecision = Some(0.5))
        .orderBy(col("source"))
    }),

    // ...and the minRecall ARM of the same keyed pick (round 16 —
    // t46 gates only the precision-floor arm): per source, the
    // CLEANEST threshold still keeping >= half the good docs — max
    // precision at the recall floor, ties to higher recall then
    // lower threshold; the oracle replays the sweep and the
    // mirrored lexicographic pick
    "t48_choose_thresholds_recall" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      val sweep = operators.TextAnalysis.thresholdSweep(scored, "y",
        "logit", Seq(-0.1, 0.0, 0.1), by = Seq("source"))
      operators.TextAnalysis.chooseThresholds(sweep, Seq("source"),
          minRecall = Some(0.5))
        .orderBy(col("source"))
    }),

    // KEYED Platt calibration (round 16): one (a, b) pair PER
    // SOURCE, every group fit simultaneously — per iteration one
    // scan + one |groups|×2 aggregate, parameters re-shipped as a
    // broadcast frame — then per-doc calibrated probabilities
    // through the broadcast-joined pairs. The oracle replays the
    // t33 GD once and the per-source Platt recursion per group
    // (ab0..ab3 keyed on source), then every per-doc probability
    "t47_calibrate_by" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      val calib = operators.TextAnalysis.calibrateLogitsBy(scored,
        "y", "logit", Seq("source"), iters = 3, lr = 10.0)
      operators.TextAnalysis.calibratedProbBy(
          scored.select(col("doc_id"), col("source"), col("logit")),
          calib, "logit", Seq("source"))
        .withColumn("keep_calibrated", col("prob") > 0.5)
        .orderBy(col("doc_id"))
    }),

    // the ROC CURVE as a table, per source (round 16): the
    // per-distinct-logit (fpr, tpr) points t41's scalar integrates,
    // through the same two-level bucketed rank; the oracle replays
    // the descending tie-block prefix sums and both divisions
    "t49_roc_curve" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      operators.TextAnalysis.rocCurve(scored, "y", "logit",
          by = Seq("source"))
        .orderBy(col("source"), col("score"))
    }),

    // ...and the PRECISION-RECALL curve table (round 16): the
    // (recall, precision) points t43's average precision
    // integrates — where precision collapses as the keep threshold
    // loosens, visible per source
    "t50_pr_curve" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      operators.TextAnalysis.prCurve(scored, "y", "logit",
          by = Seq("source"))
        .orderBy(col("source"), col("score"))
    }),

    // the picked operating points APPLIED as the keep filter (round
    // 16): sweep → chooseThresholds → applyThresholds closes the
    // keyed loop — each row filters against its own source's
    // threshold via a broadcast of the bounded picks frame
    // (dropUnpicked: sources with no feasible point drop explicitly);
    // the oracle replays the per-source pick then the keyed filter
    "t51_apply_thresholds" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      val sweep = operators.TextAnalysis.thresholdSweep(scored, "y",
        "logit", Seq(-0.1, 0.0, 0.1), by = Seq("source"))
      // precision floor 0.05 (≈ the marker base rate): feasible at
      // every SF, so the kept set stays non-degenerate as the
      // corpus grows — the pick itself is still a real per-source
      // lexicographic choice
      val picks = operators.TextAnalysis.chooseThresholds(sweep,
        Seq("source"), minPrecision = Some(0.05))
      operators.TextAnalysis.applyThresholds(scored, picks,
          "logit", Seq("source"), dropUnpicked = true)
        .select(col("doc_id"), col("source"), col("logit"))
        .orderBy(col("doc_id"))
    }),

    // per-source BRIER score of the calibrated probabilities (round
    // 16): the strictly-proper un-binned companion to t45's ECE —
    // squared errors quantized to integer micro-units (order-free
    // exact sum), one division per source; the oracle replays both
    // trainings then every per-source quantized sum
    "t52_brier_by" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      val (a, b) = operators.TextAnalysis.calibrateLogits(scored,
        "y", "logit", iters = 3, lr = 10.0)
      operators.TextAnalysis.brierScore(
          scored.select(col("doc_id"), col("y"), col("source"),
            operators.TextAnalysis.calibratedProb(col("logit"), a, b)
              .as("prob")),
          "y", "prob", by = Seq("source"))
        .orderBy(col("source"))
    }),

    // Platt-style calibration of the trained scorer's logits
    // (σ(a·x+b) with the rational sigmoid, integer micro (a,b),
    // fixed-point gradient quantization): the oracle unrolls BOTH
    // optimizations — the t33 GD CTEs and three scalar calibration
    // iterations — and replays every per-doc probability
    "t37_calibrated_probs" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y")), Seq("doc_id"))
      val (a, b) = operators.TextAnalysis.calibrateLogits(scored,
        "y", "logit", iters = 3, lr = 10.0)
      scored.select(col("doc_id"), col("logit"),
          operators.TextAnalysis.calibratedProb(col("logit"), a, b)
            .as("prob"))
        .withColumn("keep_calibrated", col("prob") > 0.5)
        .orderBy(col("doc_id"))
    }),

    // threshold SWEEP over the trained scorer's logits: every
    // candidate operating point's exact confusion + metrics from ONE
    // scan (|thresholds|×4 conditional counts) — how the keep
    // threshold gets chosen. Same oracle machinery as t33-t35 plus
    // one UNION-ALL block per threshold literal
    "t36_threshold_sweep" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y")), Seq("doc_id"))
      operators.TextAnalysis.thresholdSweep(scored, "y", "logit",
          Seq(-0.5, -0.1, 0.0, 0.1, 0.5))
        .orderBy(col("threshold"))
    }),

    // ...and the EVALUATION of that trained filter, per source: the
    // full train → score → measure loop in one gate. Confusion
    // counts are exact conditional counts; accuracy/precision/
    // recall/F1 are single IEEE divisions of exact integers (F1 as
    // 2tp/(2tp+fp+fn) — one division, so it replays bit-identically
    // where the three-division harmonic-mean spelling would not)
    "t35_classifier_eval" -> ((s, d) => {
      val docs = labeledDocs(s, d)
      val w = operators.TextAnalysis.learnHashedLinear(docs, "text",
        "y", dim = 64, iters = 3, lr = 10.0, balanced = true)
      val scored = operators.TextAnalysis.hashedLinearScoreWith(
          docs, "doc_id", "text", w.toSeq)
        .join(docs.select(col("doc_id"), col("y"), col("source")),
          Seq("doc_id"))
      operators.TextAnalysis.classifierReport(scored, "y", "keep",
          by = Seq("source"))
        .orderBy(col("source"))
    }),

    "t13_lm_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val lm = operators.TextAnalysis.bigramLm(
        docs.filter(col("lang") === "en"), "text")
      operators.TextAnalysis.lmScore(docs, "doc_id", "text", lm)
        .orderBy(col("doc_id"))
    }),

    // trigram stupid-backoff chain, en-trained like t13: non-en docs
    // exercise OOV + the double backoff, en docs the trigram level;
    // the oracle replays all three count tables and the full CASE
    // chain with identical float parenthesization
    "t28_trigram_lm" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val lm = operators.TextAnalysis.trigramLm(
        docs.filter(col("lang") === "en"), "text")
      operators.TextAnalysis.lmScore3(docs, "doc_id", "text", lm)
        .orderBy(col("doc_id"))
    }),

    // Gopher-rule composite quality filter. The corpus has no
    // newlines/bullets/symbols, so (t8-style) deterministic synthetic
    // tails are appended IN THE QUERY per doc_id residue — each rule
    // fails on its own slice and the keep product mixes: %7==0 fails
    // the bullet-fraction rule, ==1 ellipsis-lines, ==2 symbol ratio,
    // ==3 a 600-char token breaks mean word length; word-count /
    // alpha / required-words discriminate naturally (min 50 words,
    // multilingual corpus). All rule math is integer-exact.
    "t14_gopher_rules" -> ((s, d) =>
      // gopherRules is a pure row-wise projection, so ordering the
      // source first preserves the output order exactly
      operators.TextAnalysis.gopherRules(
        orderedSource(s, t(s, d, "documents"), col("doc_id"))
          .select(col("doc_id"),
            concat(col("text"),
              when(col("doc_id") % 7 === 0, lit("\n- bullet line" * 10))
                .when(col("doc_id") % 7 === 1, lit("\nfoo…\nbar..."))
                .when(col("doc_id") % 7 === 2, lit(" " + "#" * 15))
                .when(col("doc_id") % 7 === 3, lit(" " + "x" * 600))
                .otherwise(lit(""))).as("text")),
        "doc_id", "text")),

    // keyword extraction: top-3 terms per document by tf·idf, ties by
    // term — the labeling primitive behind topic tagging and cluster
    // naming. Both engines compute ln(N/df) on doubles and round to
    // the 1e-6 grid; ranks are integer row_numbers, so the selection
    // itself is exact.
    "t15_tfidf" -> ((s, d) =>
      operators.TextAnalysis.tfidfTopTerms(t(s, d, "documents"),
          "doc_id", "text", k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("doc_id"), col("rank"))),

    // canonical text form (lower → collapse whitespace → trim → NFC)
    // + accent strip — the preprocessing in front of every exact
    // dedup/decontamination pass. The ASCII fixture is mutated IN THE
    // QUERY (both engines identically): every 2nd doc uppercased, a
    // tail with doubled spaces and a COMBINING-accent 'Cafe<U+0301>'
    // appended, so case folding, collapse, NFC composition, and the
    // strip all do real work; DuckDB recomputes with its native
    // lower/regexp_replace/nfc_normalize/strip_accents.
    "t16_normalize_text" -> ((s, d) => {
      val docs = orderedSource(s, t(s, d, "documents"), col("doc_id"))
      val mutated = concat(
        when(pmod(col("doc_id"), lit(2)) === 0, upper(col("text")))
          .otherwise(col("text")),
        lit("  Cafe\u0301  tail"))
      val norm = operators.TextAnalysis.normalizeText(mutated)
      docs.select(col("doc_id"), norm.as("norm"),
        graft.functions.strip_accents(norm).as("norm_ascii"))
    }),

    // the corpus composition report every curation stage prints:
    // per-(lang, source) docs / token / char volume + share of corpus.
    // Counts and sums are exact integers; shares are single binary64
    // divisions rounded to the 1e-6 grid \u2014 both engines agree bit-wise.
    "t17_corpus_report" -> ((s, d) =>
      operators.TextAnalysis.corpusReport(t(s, d, "documents"), "text",
          Seq("lang", "source"))
        .orderBy(col("lang"), col("source"))),

    // NORMALIZED exact dedup \u2014 the t16 \u2218 d2 composition a real
    // pipeline runs: case/spacing variants (uppercased copies with a
    // trailing-space tail, added in-query) must collapse onto their
    // originals once keyed by normalizeText. Oracle rebuilds the
    // normalized digest groups and keeps each minimum id.
    "d21_normalized_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val variants = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(upper(col("text")), lit("  ")))
      val all = docs.unionByName(variants).withColumn("__norm",
        operators.TextAnalysis.normalizeText(col("text")))
      operators.Dedup.dropExactDuplicates(all, "__norm", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // C4-family line-level web cleaning: the fixture is rebuilt
    // IN THE QUERY into a deterministic multi-line page (good lines,
    // a short line, a javascript notice, a cookie banner, a line with
    // no terminal punctuation, and for doc_id%17==0 a lorem-ipsum
    // tail that kills the whole document) — both engines construct
    // and clean the identical string
    "t18_c4_clean" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val page = concat_ws("\n",
        concat(substring(col("text"), 1, 40), lit(".")),
        lit("short line"),
        concat(lit("Enable JavaScript to continue viewing "),
          substring(col("text"), 41, 20), lit(".")),
        concat(substring(col("text"), 61, 40), lit("!")),
        lit("This site uses cookies for tracking purposes."),
        concat(lit("no terminal punctuation here "),
          substring(col("text"), 101, 20)),
        concat(substring(col("text"), 121, 30), lit(" end?\"")))
      val withBad = when(pmod(col("doc_id"), lit(17)) === 0,
        concat(page, lit("\nlorem ipsum dolor sit amet.")))
        .otherwise(page)
      // c4Clean = row-wise projection + filter (order-preserving).
      // spread FIRST: c4Clean's document-drop predicate references the
      // raw text, so predicate pushdown sinks the heavy line filter
      // BELOW the range exchange (the d22 lesson) — the spread keeps
      // that pushed-down work 32-way instead of on the 2-split scan
      operators.TextAnalysis.c4Clean(
        orderedSource(s, Graft.spread(docs), col("doc_id"))
          .withColumn("text", withBad), "doc_id", "text")
    }),

    // hashed-feature linear scorer: md5-bucket hashing and the
    // md5-derived pseudo-model weights are recomputed hex digit by
    // hex digit in the oracle; score_milli is an exact integer sum
    // and logit one IEEE division, so the gate is bit-hard
    "t19_hashed_score" -> ((s, d) =>
      // hashedLinearScore is a pure codegen projection (its scaladoc
      // contract), so the orderedSource order survives it
      operators.TextAnalysis.hashedLinearScore(
        orderedSource(s, t(s, d, "documents"), col("doc_id")),
        "doc_id", "text", dim = 64)),

    // within-doc repeated-line removal: the page fixture repeats a
    // content line and a nav line and carries two empty lines (which
    // must survive — structure, not content)
    "t23_dedup_lines" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val page = concat_ws("\n",
        substring(col("text"), 1, 40), lit("short line"),
        substring(col("text"), 1, 40), lit(""), lit(""),
        substring(col("text"), 41, 40), lit("short line"))
      operators.TextAnalysis.dropRepeatedLines(
          docs.withColumn("text", page), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // HTML → text extraction: the fixture wraps each document in a
    // full page (doctype, title, style + script blocks whose BODIES
    // contain <, >, && and a fake </div>, a multi-line comment,
    // attribute-carrying tags, and the entity battery incl. the
    // double-escape case &amp;lt;); the oracle replays every
    // regexp/replace step in the pinned order (&amp; decoded last)
    "t24_strip_html" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val page = concat(
        lit("<!DOCTYPE html><html><head><title>Page "), col("doc_id"),
        lit("</title><style type=\"text/css\">body { color: #333; }" +
          "</style><script>if (1 < 2 && x > 0) { alert(\"</div>\"); }" +
          "</script></head><body><!-- header\nnav -->" +
          "<h1>Tom &amp; Jerry &lt;3 &amp;lt;still-escaped&amp;gt;</h1>" +
          "<p class=\"lead\">"),
        col("text"),
        lit("</p><br><a href=\"/r?a=1&amp;b=2\">next&nbsp;page</a>" +
          "&#39;fin&#39;</body></html>"))
      orderedSource(s, docs, col("doc_id")).select(col("doc_id"),
        operators.TextAnalysis.stripHtml(page).as("clean"))
    }),

    // real subword tokenization (WordPiece greedy longest-match):
    // the 61-piece vocab exercises multi-char starts ("sc" beating
    // "s", whole-word "fast"/"batch"), multi-char continuations
    // ("##eam", "##er", "##atch"), and the whole-word-UNK failure
    // rule (no 'x' pieces, no digit pieces; every 7th doc gains
    // " xylophone 42"). Oracle = DuckDB recursive CTE walking the
    // same max-munch rule over precomputed per-(word, pos) longest
    // matches — each piece, count, and UNK collapse is replayed
    "t25_wordpiece" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs.withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" xylophone 42")))
        .otherwise(col("text")))
      val enc = graft.functions.wordpiece_encode(col("text"), wpVocab)
      orderedSource(s, mutated, col("doc_id")).select(col("doc_id"),
        array_join(enc, " ").as("pieces"),
        size(enc).cast("bigint").as("n_pieces"),
        size(filter(enc, p => p === "[UNK]")).cast("bigint")
          .as("n_unk"))
    }),

    // Aho–Corasick blocklist scan: every phrase occurrence counted at
    // every start position (overlapping included) — the oracle brute-
    // forces substr equality at EVERY character position of every doc
    "t27_blocklist" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mutated = docs.withColumn("text",
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" abcabcabcd")))
        .otherwise(col("text")))
      operators.TextAnalysis.blocklistStats(mutated, "text", blockPhrases)
        .select(col("doc_id"), col("n_hits"), col("n_phrases"),
          col("hit_phrases"))
        .orderBy(col("doc_id"))
    }),

    // winnowing fingerprints (MOSS): every window-min selection —
    // value AND rightmost-tie position — replayed by the oracle, so
    // one wrong min or a leftmost tie anywhere in the corpus breaks
    // the hash
    // gate determinism is per-doc, not global: one sorted fingerprint
    // array string per doc, built DIRECTLY from the native
    // expression's per-doc array output — no explode, no regroup
    // shuffle, and the output ORDER BY sorts |docs| rows instead of
    // |fingerprints| (the old global 3-column ORDER BY over 9.7M
    // exploded rows was 26 s of a 42.7 s sf10 run — pure verify
    // overhead). pos is zero-padded so lexicographic order is
    // identical across engines. The two-step select keeps the
    // expression evaluated once per row (CollapseProject won't
    // duplicate a multiply-referenced non-cheap alias).
    "t26_winnowing" -> ((s, d) =>
      Graft.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          graft.functions.winnow_fingerprints(col("text"), 5, 4)
            .as("__fps"))
        .select(col("doc_id"),
          size(col("__fps")).cast("long").as("n_fp"),
          array_join(sort_array(transform(col("__fps"), f =>
            concat(lpad(f.getField("pos").cast("string"), 6, "0"),
              lit(":"), f.getField("fp")))), ",").as("fps"))
        .orderBy(col("doc_id"))),

    // asymmetric containment (quote detection): half-prefix copies of
    // every 5th doc are CONTAINED in their originals (containment ≈ 1,
    // Jaccard ≈ 0.5 — invisible to the d3 threshold family); oracle
    // recomputes every distinct-shingle intersection exactly
    "d26_containment_pairs" -> ((s, d) => {
      // spread: the shingle inverted-index subtree derives three
      // times (sizes + both join sides) off a 1-2 split fixture
      val docs = Graft.spread(t(s, d, "documents"))
      val toks = operators.TextAnalysis.tokenize(col("text"))
      val halves = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            greatest((size(toks) / 2).cast("int"), lit(1)))).as("text"),
          col("lang"))
      val base = docs.select(col("doc_id"), col("text"), col("lang"))
      operators.Dedup.containmentPairs(base.unionByName(halves),
          "text", "doc_id", "lang", shingleN = 3, threshold = 0.9)
        .withColumn("containment_1", round(col("containment_1"), 6))
        .withColumn("containment_2", round(col("containment_2"), 6))
        .orderBy(col("doc_id_1"), col("doc_id_2"))
    }),

    // Cross-corpus containment overlap (the "X% of the eval doc's
    // shingles present" metric): reference = half-prefix of every 9th
    // doc under offset ref ids — contained in its original at
    // containment ≈ 1.0 where Jaccard sees ~0.5 and misses at 0.9;
    // the oracle replays every distinct-shingle intersection, the
    // threshold, and the deterministic argmax
    "d29_containment_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = operators.TextAnalysis.tokenize(col("text"))
      val ref = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 1000000L).as("ref_id"),
          concat_ws(" ", slice(toks, lit(1),
            greatest((size(toks) / 2).cast("int"), lit(1)))).as("text"))
      operators.Dedup.containmentOverlap(docs, ref, "text", "doc_id",
          "ref_id", shingleN = 3, threshold = 0.9)
        .orderBy(col("doc_id"))
    }),

    // REAL merge-list BPE (GPT-2 inference semantics) over the
    // printable-ASCII projection of every document: full token
    // fidelity gated — the oracle replays every merge as a
    // rank-order fixpoint of separator-string replaces in a
    // recursive CTE and compares the complete '|'-joined token
    // stream, not just counts
    "t29_bpe_tokenize" -> ((s, d) => {
      val ascii = regexp_replace(col("text"), "[^ -~]", "")
      val toks = graft.functions.bpe_encode(ascii, bpeMerges)
      orderedSource(s, t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"),
          size(toks).cast("long").as("n_bpe"),
          array_join(toks, "|").as("toks"))
    }),

    // Winnowing cross-corpus contamination (the MOSS detector):
    // reference = first-half tokens of every 7th doc, so those docs
    // share long token runs with the reference; the winnowing
    // guarantee (any shared run >= w+n-1 = 8 tokens collides) makes
    // every hit structural, and the oracle replays both sides'
    // window-minimum selections exactly
    "d27_winnow_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = operators.TextAnalysis.tokenize(col("text"))
      val ref = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            greatest((size(toks) / 2).cast("int"), lit(1)))).as("text"))
      operators.Dedup.winnowOverlapStats(docs, ref, "text", "doc_id",
          n = 5, window = 4)
        .orderBy(col("doc_id"))
    }),

    // The PERSISTED winnowing index round trip: build the d27
    // reference index, write it (schema-versioned parquet + sidecar),
    // read it back, and run the overlap pass from the persisted
    // frame. Shares d27's oracle verbatim — the gate is that
    // persistence changes NOTHING.
    "d32_winnow_overlap_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = operators.TextAnalysis.tokenize(col("text"))
      val ref = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            greatest((size(toks) / 2).cast("int"), lit(1)))).as("text"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-d32").toString + "/idx"
      operators.DedupIndex.writeWinnow(ref, "text", tmp,
        n = 5, window = 4)
      val idx = operators.DedupIndex.readWinnow(s, tmp,
        n = 5, window = 4)
      operators.Dedup.winnowOverlapStatsFromIndex(docs, idx, "text",
          "doc_id", n = 5, window = 4)
        .orderBy(col("doc_id"))
    }),

    // The PERSISTED MinHash index round trip (the d23 twin): shingle
    // sets persist, signatures/bands derive at read time, results
    // must be bit-identical to the inline build.
    "d33_minhash_overlap_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-d33").toString + "/idx"
      operators.DedupIndex.writeMinhash(ref, "text", tmp, shingleN = 3)
      val idx = operators.DedupIndex.readMinhash(s, tmp, shingleN = 3)
      operators.Dedup.minhashOverlapFromIndex(docs, idx, "text",
          "doc_id", shingleN = 3, numHashes = 32, bands = 16,
          threshold = 0.5)
        .withColumn("max_jaccard", round(col("max_jaccard"), 6))
        .orderBy(col("doc_id"))
    }),

    // The ingest-quality monitor's BATCH twin, driver-hash-gated:
    // per-hour rows / distinct users / dup rate over events, k = 8192
    // ≥ any window's distinct users at gate sf so the KMV estimate is
    // exact and the oracle is plain COUNT(DISTINCT) per time bucket.
    // The streaming spelling (same code path — window() adapts) is
    // spec-gated in StreamingSpec.
    "d38_distinct_monitor" -> ((s, d) => {
      val ds = api.DataStream(t(s, d, "events"), "ts")
      ds.distinctMonitor("user_id", Fixed("1 hour"), k = 8192).df
        .select(unix_millis(col("window_start_time"))
            .as("window_start_ms"),
          unix_millis(col("window_end_time")).as("window_end_ms"),
          col("n_rows"),
          col("n_distinct_est").cast("long").as("n_distinct"),
          col("dup_rate"))
        .orderBy(col("window_start_ms"))
    }),

    // The KEYED (per-tenant/per-source) spelling of the ingest
    // monitors: every monitor takes `by` group columns — here the
    // distinct monitor per (hour, event_type), the "which source's
    // dup rate spiked" shape. State stays bounded per (window, key).
    "d46_keyed_distinct_monitor" -> ((s, d) => {
      val ds = api.DataStream(t(s, d, "events"), "ts")
      ds.distinctMonitor("user_id", Fixed("1 hour"), k = 8192,
          by = Seq("event_type")).df
        .select(unix_millis(col("window_start_time"))
            .as("window_start_ms"),
          unix_millis(col("window_end_time")).as("window_end_ms"),
          col("event_type"), col("n_rows"),
          col("n_distinct_est").cast("long").as("n_distinct"),
          col("dup_rate"))
        .orderBy(col("window_start_ms"), col("event_type"))
    }),

    // The SESSION spelling of the ingest-quality monitor (gap-merged
    // "crawl burst" windows instead of a fixed grid), batch twin,
    // driver-hash-gated: a session closes after 15 minutes of
    // silence; its bounds are [first event, last event + gap). The
    // oracle replays the gap-and-island construction in SQL (break
    // when ts - lag(ts) >= gap, cumulative-sum session ids) with
    // per-session COUNT(DISTINCT); k = 8192 ≥ any session's distinct
    // users at gate sf keeps the KMV estimate exact. The streaming
    // spelling (same code path — sessionWindow adapts) is spec-gated
    // in StreamingSpec.
    // NOTE (round 17): do NOT spread the events scan ahead of the
    // session-window aggregations — round-robin destroys the scan's
    // time-locality, so map-side partial sessions stop merging and
    // the final merge explodes (measured 5× WORSE at sf1: d48
    // 13.5 → 70.6 s with a spread here; values identical, cost not).
    "d39_session_distinct_monitor" -> ((s, d) => {
      val ds = api.DataStream(t(s, d, "events"), "ts")
      ds.distinctMonitor("user_id", Session("15 minutes"), k = 8192).df
        .select(unix_millis(col("window_start_time"))
            .as("window_start_ms"),
          unix_millis(col("window_end_time")).as("window_end_ms"),
          col("n_rows"),
          col("n_distinct_est").cast("long").as("n_distinct"),
          col("dup_rate"))
        .orderBy(col("window_start_ms"))
    }),

    // The cross-drop overlap monitor's BATCH twin, driver-hash-gated:
    // the first half-month of events is sketched ONCE
    // (DedupIndex.writeKmv — the "prior drop" artifact), then the
    // per-day monitor reports each day's distinct users and how many
    // of them already appeared in the baseline — pure arithmetic
    // between the window sketch and the frozen ≤ k array, never a
    // join. k = 8192 ≥ every union's distinct count at gate sf keeps
    // all estimates exact, so the oracle is per-day COUNT(DISTINCT)
    // with an IN-baseline filter. overlap_frac is recomputed from
    // the exact long counts on BOTH sides so the compare never rides
    // the estimator's last-ulp.
    "d40_overlap_monitor" -> ((s, d) => {
      val ev = t(s, d, "events")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-d40").toString + "/idx"
      operators.DedupIndex.writeKmv(
        ev.filter(unix_millis(col("ts")) < lit(1705276800000L))
          .select(col("user_id")),
        "user_id", tmp, k = 8192)
      api.DataStream(ev, "ts")
        .overlapMonitor("user_id", Fixed("1 day"), tmp, k = 8192).df
        .select(unix_millis(col("window_start_time"))
            .as("window_start_ms"),
          unix_millis(col("window_end_time")).as("window_end_ms"),
          col("n_rows"),
          col("n_distinct_est").cast("long").as("n_distinct"),
          col("n_overlap_est").cast("long").as("n_overlap"))
        .withColumn("overlap_frac",
          round(col("n_overlap").cast("double") / col("n_distinct"), 6))
        .orderBy(col("window_start_ms"))
    }),

    // The distribution-drift monitor's BATCH twin, driver-hash-gated:
    // per-hour histogram of events.value over fixed bucket boundaries
    // vs the first half-month's EXACT baseline fractions
    // (Drift.histFractions — computed from the same parquet the
    // oracle reads, both sides exact long counts / double division).
    // The gate hashes tvd and max_shift — pure IEEE arithmetic with
    // term order matched between the Spark fold and the SQL
    // expression — while psi (which rides ln, not bit-pinned across
    // math libraries) is spec-gated in DriftSpec instead. The
    // streaming spelling (same code path — window() adapts) is
    // spec-gated in StreamingSpec; the persisted-baseline path
    // (writeHist/readHist quantile boundaries) in PipelineSpec.
    "d41_drift_monitor" -> ((s, d) => {
      val ev = t(s, d, "events")
      val bounds = Seq(10.0, 25.0, 50.0, 100.0, 200.0)
      val fracs = operators.Drift.histFractions(
        ev.filter(unix_millis(col("ts")) < lit(1705276800000L)),
        "value", bounds)
      api.DataStream(ev, "ts")
        .driftMonitor("value", Fixed("1 hour"), bounds, fracs.toSeq).df
        .select(unix_millis(col("window_start_time"))
            .as("window_start_ms"),
          unix_millis(col("window_end_time")).as("window_end_ms"),
          col("n_rows"), col("n_null"), col("tvd"), col("max_shift"))
        .orderBy(col("window_start_ms"))
    }),

    // The CATEGORICAL drift monitor's BATCH twin, driver-hash-gated:
    // per-hour event_type mix vs the first half-month's top-3
    // category fractions (Drift.categoryFractions — ties rank
    // (count desc, category asc) on both sides), everything else
    // pooling under __other__. Same exact-arithmetic hash story as
    // d41; term order in the oracle matches the baseline-seq fold.
    "d42_category_drift_monitor" -> ((s, d) => {
      val ev = t(s, d, "events")
      val baseline = operators.Drift.categoryFractions(
        ev.filter(unix_millis(col("ts")) < lit(1705276800000L)),
        "event_type", topN = 3)
      api.DataStream(ev, "ts")
        .categoryDriftMonitor("event_type", Fixed("1 hour"), baseline).df
        .select(unix_millis(col("window_start_time"))
            .as("window_start_ms"),
          unix_millis(col("window_end_time")).as("window_end_ms"),
          col("n_rows"), col("n_null"), col("tvd"), col("max_shift"))
        .orderBy(col("window_start_ms"))
    }),

    // The SESSION spelling of the drift monitor: per gap-merged
    // "crawl burst" (15 min of silence closes a session), the value
    // distribution vs the frozen baseline. The oracle replays d39's
    // gap-and-island construction with d41's fixed-order bucket
    // arithmetic.
    "d45_session_drift_monitor" -> ((s, d) => {
      val ev = t(s, d, "events")
      val bounds = Seq(10.0, 25.0, 50.0, 100.0, 200.0)
      val fracs = operators.Drift.histFractions(
        ev.filter(unix_millis(col("ts")) < lit(1705276800000L)),
        "value", bounds)
      api.DataStream(ev, "ts")
        .driftMonitor("value", Session("15 minutes"), bounds,
          fracs.toSeq).df
        .select(unix_millis(col("window_start_time"))
            .as("window_start_ms"),
          unix_millis(col("window_end_time")).as("window_end_ms"),
          col("n_rows"), col("n_null"), col("tvd"), col("max_shift"))
        .orderBy(col("window_start_ms"))
    }),

    // The per-GROUP drift report — "WHICH crawl sources diverge from
    // the corpus length distribution" (the monitors answer WHEN, this
    // answers WHERE): one row per source with its n_chars histogram's
    // tvd/max_shift vs the whole-corpus baseline over fixed
    // boundaries. Same exact-arithmetic hash story as d41 (psi
    // spec-gated in DriftSpec).
    "d43_drift_report" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bounds = Seq(150.0, 250.0, 350.0, 450.0)
      val fracs = operators.Drift.histFractions(
        docs.withColumn("len", col("n_chars").cast("double")),
        "len", bounds)
      operators.Drift.driftReport(
          docs.withColumn("len", col("n_chars").cast("double")),
          Seq("source"), "len", bounds, fracs.toSeq)
        .select(col("source"), col("n_rows"), col("n_null"),
          col("tvd"), col("max_shift"))
        .orderBy(col("source"))
    }),

    // Embedding-centroid drift report: per LABEL, the cosine between
    // the slice's embedding centroid and the whole-corpus centroid —
    // the "did this slice drift in embedding space" QA. Both sides
    // ride SUM vectors (cosine is scale-invariant; the native
    // vec_sum aggregate keeps state at dim doubles per group), and
    // the gate's cosine loop is sequential per row on the Spark side
    // vs DuckDB's list_cosine_similarity — the same parity contract
    // the s1 family hash-gates. The oracle re-derives both sums via
    // per-position SUM over an (element, index) explode.
    "d44_centroid_drift" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val base = operators.Drift.sumVector(emb, "embedding")
      operators.Drift.centroidDriftReport(emb, Seq("label"),
          "embedding", base.toSeq)
        .select(col("label"), col("n_rows"), col("n_null"),
          col("centroid_cos"), col("centroid_drift"))
        .orderBy(col("label"))
    }),

    // The ONE-PASS composite health monitor's BATCH twin, driver-
    // hash-gated: per hour, d38's distinct/dup-rate columns + d40's
    // cross-drop overlap (riding the SAME window sketch — zero extra
    // state) + d41's numeric value drift + d42's categorical mix
    // drift from a SINGLE windowed aggregation over ONE events scan
    // (running the standalone monitors costs one scan and one state
    // store each — the composite's per-window state is their sum and
    // still bounded). The oracle is the UNION of d38/d40/d41/d42's
    // oracles computed in one grouped pass; psi/cat_psi ride ln and
    // stay spec-gated (DriftSpec), the same split as d41/d42;
    // overlap_frac recomputed from exact long counts on BOTH sides,
    // the d40 discipline.
    "d47_health_monitor" -> ((s, d) => {
      val ev = t(s, d, "events")
      val bounds = Seq(10.0, 25.0, 50.0, 100.0, 200.0)
      val baseEv = ev.filter(
        unix_millis(col("ts")) < lit(1705276800000L))
      val fracs = operators.Drift.histFractions(baseEv, "value",
        bounds)
      val catBase = operators.Drift.categoryFractions(baseEv,
        "event_type", topN = 3)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-d47").toString + "/idx"
      operators.DedupIndex.writeKmv(baseEv.select(col("user_id")),
        "user_id", tmp, k = 8192)
      val baseSketch = operators.DedupIndex
        .readKmv(s, tmp, k = 8192).head().getSeq[Long](0)
      api.DataStream(ev, "ts")
        .healthMonitor("user_id", Fixed("1 hour"),
          value = Some(operators.Drift.ValueBaseline("value",
            bounds, fracs.toSeq)),
          category = Some(operators.Drift.CategoryBaseline(
            "event_type", catBase)),
          overlap = Some(operators.Drift.OverlapBaseline(baseSketch)),
          k = 8192).df
        .select(unix_millis(col("window_start_time"))
            .as("window_start_ms"),
          unix_millis(col("window_end_time")).as("window_end_ms"),
          col("n_rows"),
          col("n_distinct_est").cast("long").as("n_distinct"),
          col("dup_rate"),
          col("n_overlap_est").cast("long").as("n_overlap"),
          col("n_null"), col("tvd"),
          col("max_shift"), col("cat_tvd"), col("cat_max_shift"))
        .withColumn("overlap_frac",
          round(col("n_overlap").cast("double") / col("n_distinct"),
            6))
        .orderBy(col("window_start_ms"))
    }),

    // The composite health monitor's SESSION spelling, driver-hash-
    // gated: per gap-merged "crawl burst" (15 min of silence closes
    // a session), d38's distinct/dup-rate AND d41's value drift from
    // one session aggregation — every constituent aggregate merges
    // as open sessions merge (sketch union, count addition). Oracle
    // = d39's gap-and-island construction with d45's fixed-order
    // bucket arithmetic plus per-session COUNT(DISTINCT); k = 8192
    // ≥ any session's distinct users at gate sf keeps the KMV exact.
    "d48_session_health_monitor" -> ((s, d) => {
      val ev = t(s, d, "events")
      val bounds = Seq(10.0, 25.0, 50.0, 100.0, 200.0)
      val fracs = operators.Drift.histFractions(
        ev.filter(unix_millis(col("ts")) < lit(1705276800000L)),
        "value", bounds)
      // no spread — the d39 session-locality note
      api.DataStream(ev, "ts")
        .healthMonitor("user_id", Session("15 minutes"),
          value = Some(operators.Drift.ValueBaseline("value",
            bounds, fracs.toSeq)),
          k = 8192).df
        .select(unix_millis(col("window_start_time"))
            .as("window_start_ms"),
          unix_millis(col("window_end_time")).as("window_end_ms"),
          col("n_rows"),
          col("n_distinct_est").cast("long").as("n_distinct"),
          col("dup_rate"), col("n_null"), col("tvd"),
          col("max_shift"))
        .orderBy(col("window_start_ms"))
    }),

    // Deequ-style declarative validation suite (Validate.report):
    // TEN checks over documents compiled into ONE aggregation pass —
    // completeness, KMV-backed uniqueness (k = 65536 ≥ distinct
    // doc_ids through sf1, so the distinct fraction is EXACT),
    // range/regex/set fractions, a cross-column Satisfies invariant,
    // min/max/mean bounds, row count. Two checks FAIL by design
    // (in_set misses zh, the 50–300 char band is < 90%), so the gate
    // pins verdict arithmetic on both sides of the threshold, with
    // every metric replayed exactly by the DuckDB oracle. passed
    // rides as INT 0/1 (cross-engine boolean hashing is not worth
    // trusting); the library's own output keeps the boolean.
    "v1_validate" -> ((s, d) => {
      import operators.Validate
      import operators.Validate._
      Validate.report(t(s, d, "documents"), Seq(
          Completeness("text", 0.99),
          Uniqueness("doc_id", 1.0, k = 65536),
          FracBetween("n_chars", 50.0, 300.0, 0.9),
          Matches("text", "[0-9]", 0.5),
          InSet("lang", Seq("en", "de", "es", "fr"), 0.95),
          Satisfies("n_chars = length(text)", "chars_consistent", 1.0),
          MinOf("n_chars", 1.0),
          MaxOf("n_chars", 10000.0),
          MeanBetween("n_chars", 100.0, 500.0),
          SizeAtLeast(100)))
        .select(col("check_name"), col("column_name"),
          col("requirement"), col("value"),
          col("passed").cast("int").as("passed"))
        .orderBy(col("check_name"))
    }),

    // The KEYED validation spelling: the same single-pass suite per
    // lang group — 5 langs × 4 checks, per-group metrics and
    // verdicts (en's volume passes SizeAtLeast where smaller langs
    // fail; the char-band fraction varies per lang) — the "validate
    // every source/language slice of the drop in one scan" shape.
    "v2_validate_by" -> ((s, d) => {
      import operators.Validate
      import operators.Validate._
      Validate.report(t(s, d, "documents"), Seq(
          Completeness("text", 1.0),
          FracBetween("n_chars", 50.0, 300.0, 0.9),
          MeanBetween("n_chars", 100.0, 500.0),
          SizeAtLeast(100)), by = Seq("lang"))
        .select(col("lang"), col("check_name"), col("value"),
          col("passed").cast("int").as("passed"))
        .orderBy(col("lang"), col("check_name"))
    }),

    // Metric-history anomaly grading (the Deequ metrics-repository
    // idea): 20 per-source validation reports stand in as 20 runs
    // of history; the current "drop" is src7 with n_chars ×13. The
    // mean-length metric must flag (robust z against the history's
    // median/MAD), completeness must NOT (history MAD = 0 and the
    // current value sits exactly on the median — the exact-equality
    // degenerate path), and the short-docs fraction collapses to 0
    // and flags by whichever path the per-source spread puts it on —
    // every number (medians, MADs, z, verdicts) replayed by
    // quantile_cont in DuckDB.
    "v4_metric_anomaly" -> ((s, d) => {
      import operators.Validate
      import operators.Validate._
      val docs = t(s, d, "documents")
      val checks = Seq(
        Completeness("text", 1.0),
        MeanBetween("n_chars", 0.0, 1000000.0),
        Satisfies("n_chars < 400", "short_docs", 0.5))
      val hist = Validate.report(docs, checks, by = Seq("source"))
        .select(col("source").as("run_id"), col("check_name"),
          col("value"), col("passed"))
      val mutated = docs.filter(col("source") === "src7")
        .withColumn("n_chars", col("n_chars") * 13)
      val cur = Validate.report(mutated, checks)
      Validate.anomalies(hist, cur)
        .select(col("check_name"), col("value"), col("n_runs"),
          col("median_value"), col("mad"), col("z"),
          col("is_anomaly").cast("int").as("is_anomaly"))
        .orderBy(col("check_name"))
    }),

    // Monitor-metric history + anomalies (the v4 machinery pointed
    // at the MONITOR family): per-source driftReport rows melt into
    // (run_id, check_name, value) history series via meltMetrics,
    // a planted ×13 length shift in one source's "new drop" then
    // grades against the across-run median/MAD — tvd/max_shift flag
    // ("never been this high"), while the unremarkable n_rows /
    // n_null metrics do not. Selection statistics end to end: the
    // drift stats are exact-count arithmetic rounded at 6, the
    // median/MAD replay as quantile_cont — everything hash-hard.
    // drop-over-drop corpus delta: WHICH documents a refresh added /
    // removed / changed (content digest) / left alone — the oracle
    // replays the same mutation recipe and the full-outer
    // classification row for row
    "d50_corpus_delta" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      operators.Dedup.corpusDelta(docs, deltaAfter(docs),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // the LIVE spelling over the same mutation recipe (round 15):
    // corpusDeltaStream classifies the new drop against the baseline
    // through the stateless stream-static left join — batch frames
    // run the identical plan, so the gate pins the exact rows the
    // streaming path emits ('removed' is batch-only by construction)
    "d52_delta_live" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      operators.Dedup.corpusDeltaStream(docs, deltaAfter(docs),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ...and the scaladoc's own recommended summary spelling (round
    // 15): the drop-over-drop delta REPORT — how much changed, one
    // row per status — is one groupBy away from the same id-keyed
    // full-outer digest join
    "d51_delta_summary" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      operators.Dedup.corpusDelta(docs, deltaAfter(docs),
          "doc_id", "text")
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    }),

    // the drop-CLOSE removal audit (round 16) — the one status the
    // live d52 stream cannot emit: baseline ids absent from the
    // closed drop, via one id-only anti-join; spec-pinned to make
    // d52's rows + these ≡ d50's batch delta row-for-row
    "d53_delta_removed" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      operators.Dedup.corpusDeltaRemoved(docs, deltaAfter(docs),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // CUSUM change-point detection over a metric history: a planted
    // ×3 length shift in the LAST EIGHT of twenty runs — each run's
    // own robust z barely moves, but the one-sided cumulative sums
    // cross the decision interval within a few post-shift runs. The
    // oracle replays the per-run report values, the median/MAD
    // standardization, and the full CUSUM recursion (a recursive
    // CTE), bit for bit
    "v6_cusum_shift" -> ((s, d) => {
      import operators.Validate
      import operators.Validate._
      val docs = t(s, d, "documents")
        .withColumn("n_chars2",
          when(substring(col("source"), 4, 10).cast("int") >= 12,
            col("n_chars") * 3).otherwise(col("n_chars")))
      val checks = Seq(
        MeanBetween("n_chars2", 0.0, 1000000.0),
        Satisfies("n_chars2 < 400", "short", 0.0))
      val hist = Validate.report(docs, checks, by = Seq("source"))
        .select(concat(lit("r"),
          lpad(substring(col("source"), 4, 10), 2, "0")).as("run_id"),
          col("check_name"), col("value"))
      Validate.changePoints(hist, k = 0.5, h = 2.0)
        .withColumn("is_shift", col("is_shift").cast("int"))
        .orderBy(col("check_name"), col("run_id"))
    }),

    "v5_monitor_anomaly" -> ((s, d) => {
      import operators.{Drift, Validate}
      val docs = t(s, d, "documents")
        .withColumn("len", col("n_chars").cast("double"))
      val bounds = Seq(150.0, 250.0, 350.0, 450.0)
      val fracs = Drift.histFractions(docs, "len", bounds)
      val metrics = Seq("n_rows", "n_null", "tvd", "max_shift")
      val hist = Validate.meltMetrics(
          Drift.driftReport(docs, Seq("source"), "len", bounds,
            fracs.toSeq),
          metrics, carry = Seq("source"))
        .select(col("source").as("run_id"), col("check_name"),
          col("value"))
      val mutated = docs.filter(col("source") === "src7")
        .withColumn("len", col("len") * 13)
      val cur = Validate.meltMetrics(
        Drift.driftReport(mutated, Seq("source"), "len", bounds,
          fracs.toSeq), metrics)
      Validate.anomalies(hist, cur)
        .select(col("check_name"), col("value"), col("n_runs"),
          col("median_value"), col("mad"), col("z"),
          col("is_anomaly").cast("int").as("is_anomaly"))
        .orderBy(col("check_name"))
    }),

    // Robust per-group outlier report: one source's doc lengths are
    // inflated ×13 in-query, and the report must flag exactly that
    // source by median/MAD z-score — selection statistics, so every
    // number (group means from exact integer sums, the interpolated
    // median, MAD, z) replays bit-identically in DuckDB. The
    // baseline-free "WHICH slice is anomalous vs its peers" report
    // next to the baseline-relative d43 driftReport.
    "d49_outlier_report" -> ((s, d) => {
      val mutated = t(s, d, "documents").withColumn("len",
        when(col("source") === "src7", col("n_chars") * 13)
          .otherwise(col("n_chars")))
      operators.Drift.outlierReport(mutated, Seq("source"), "len")
        .select(col("source"), col("n_rows"), col("n_null"),
          col("mean_value"), col("z"),
          col("is_outlier").cast("int").as("is_outlier"))
        .orderBy(col("source"))
    }),

    // Single-pass column profiler (the Deequ discovery half): one
    // aggregation over documents → one row per column with dtype,
    // completeness, KMV distinct (k = 65536 ≥ distinct through
    // sf0.1 — exact), numeric envelope + mean, and string top values
    // by Misra–Gries (capacity 16384 ≥ distinct texts at sf0.1 —
    // exact, ties value-asc in both engines' shared binary UTF-8
    // order). top_values ride as a '|'-joined string (cross-engine
    // array hashing not worth trusting); every stat replayed by the
    // oracle.
    "v3_profile" -> ((s, d) =>
      operators.Validate.profile(t(s, d, "documents"),
          k = 65536, topK = 32, mgCapacity = 16384)
        .select(col("column_name"), col("dtype"), col("n_rows"),
          col("n_null"), col("completeness"),
          col("n_distinct").cast("long").as("n_distinct"),
          col("distinct_frac"), col("min_value"), col("max_value"),
          col("mean_value"),
          array_join(col("top_values"), "|").as("top_vals"))
        .orderBy(col("column_name"))),

    // KMV bottom-k sketch, per-group distinct counts: k = 4096
    // exceeds every group's true distinct count at the gate sf, so
    // the sketch holds the complete distinct hash set and the
    // estimate is EXACT — the gate pins the whole bounded-buffer
    // aggregation path (map-side partials, sorted-merge, dedup)
    // against COUNT(DISTINCT); sub-k accuracy is spec-covered
    "d35_kmv_distinct" -> ((s, d) =>
      operators.Sketches.distinctByGroup(t(s, d, "documents"),
          Seq("lang"), "text", k = 4096)
        .select(col("lang"),
          col("n_distinct_est").cast("long").as("n_distinct"))
        .orderBy(col("lang"))),

    // KMV cross-corpus overlap WITHOUT a join: corpus B keeps even
    // doc_ids' texts and perturbs odd ones, so |A∩B| is exactly the
    // even-id distinct texts. k = 8192 ≥ |A∪B| at gate sf → the
    // merged sketch is the complete union hash set and every
    // estimate (sizes, intersection, Jaccard) is exact — replayed by
    // a DuckDB INTERSECT/UNION oracle. At 100 TB this one-pass-each
    // sketch shape replaces the full two-sided exchange a JOIN
    // would cost for the same question.
    "d36_kmv_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.select(col("text"))
      val b = docs.select(
        when(pmod(col("doc_id"), lit(2)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zz-b-suffix")))
          .as("text"))
      operators.Sketches.corpusOverlap(a, b, "text", k = 8192)
        .select(col("n_a_est").cast("long").as("n_a"),
          col("n_b_est").cast("long").as("n_b"),
          col("n_union_est").cast("long").as("n_union"),
          col("n_intersect_est").cast("long").as("n_intersect"),
          col("jaccard"))
    }),

    // The PERSISTED KMV sketch round trip (the d36 twin, the d32–34
    // discipline): each corpus's sketch persists at ingest; the
    // overlap report runs from the two read-back ≤ k arrays with
    // neither corpus rescanned, and hash-matches the inline build's
    // oracle exactly.
    "d37_kmv_overlap_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.select(col("text"))
      val b = docs.select(
        when(pmod(col("doc_id"), lit(2)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zz-b-suffix")))
          .as("text"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-d37").toString
      operators.DedupIndex.writeKmv(a, "text", s"$tmp/a", k = 8192)
      operators.DedupIndex.writeKmv(b, "text", s"$tmp/b", k = 8192)
      operators.Sketches.corpusOverlapFromSketches(
          operators.DedupIndex.readKmv(s, s"$tmp/a", k = 8192),
          operators.DedupIndex.readKmv(s, s"$tmp/b", k = 8192),
          k = 8192)
        .select(col("n_a_est").cast("long").as("n_a"),
          col("n_b_est").cast("long").as("n_b"),
          col("n_union_est").cast("long").as("n_union"),
          col("n_intersect_est").cast("long").as("n_intersect"),
          col("jaccard"))
    }),

    // Partial-overlap clusters (MOSS composition): the corpus plus
    // half-prefix copies of every 5th doc — each copy shares a long
    // run (dozens of fingerprints) with its original, so they
    // cluster, with minShared = 2 damping single-fp coincidences;
    // oracle = winnowing replay + pair counts + recursive closure
    "d30_winnow_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = operators.TextAnalysis.tokenize(col("text"))
      val halves = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            greatest((size(toks) / 2).cast("int"), lit(1)))).as("text"))
      val all = docs.select(col("doc_id"), col("text"))
        .unionByName(halves)
      operators.Dedup.winnowClusters(all, "text", "doc_id",
          n = 5, window = 4, minShared = 2)
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy(col("doc_id"))
    }),

    // The maxDf stop-fingerprint cap under boilerplate pressure: every
    // 3rd doc gets an identical 12-token header injected (a web
    // corpus's footer/TOS line), which mints shared pure-header
    // fingerprints in N/3 docs — UNCAPPED, their df² pair fanout glues
    // a third of the corpus into one cluster. maxDf = 4 drops any
    // fingerprint in > 4 docs BEFORE pairing, so only content overlap
    // (the half-prefix copies of every 5th doc, df = 2 per shared
    // fingerprint) clusters; the oracle replays fingerprinting, the
    // df filter, the >= minShared pair count, and the closure exactly
    "d31_winnow_clusters_capped" -> ((s, d) => {
      val header = lit("terms of service privacy policy all rights " +
        "reserved copyright notice contact us")
      val docs = t(s, d, "documents")
      val base = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
            concat(header, lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      val toks = operators.TextAnalysis.tokenize(col("text"))
      val halves = base.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            greatest((size(toks) / 2).cast("int"), lit(1)))).as("text"))
      val all = base.unionByName(halves)
      operators.Dedup.winnowClusters(all, "text", "doc_id",
          n = 5, window = 4, minShared = 2, maxDf = 4)
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy(col("doc_id"))
    }),

    // Decontamination by EXCISION: reference = first-half tokens of
    // every 6th doc; contaminated docs lose exactly their
    // reference-covered 8-gram spans, clean docs pass through
    // byte-identical — the oracle replays gram matching, span
    // coverage, and the space-joined rebuild token by token
    "d28_excise_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = operators.TextAnalysis.tokenize(col("text"))
      val ref = docs.filter(pmod(col("doc_id"), lit(6)) === 0)
        .select(concat_ws(" ", slice(toks, lit(1),
          greatest((size(toks) / 2).cast("int"), lit(1)))).as("text"))
      operators.Dedup.exciseContamination(docs, ref, "text", "doc_id",
          n = 8)
        .orderBy(col("doc_id"))
    }),

    // corpus-frequent trigram mining (the boilerplate DISCOVERY
    // step): every occurrence counted, top-50 with deterministic
    // (count desc, gram asc) ties — the oracle recomputes the full
    // gram stream
    "t21_top_ngrams" -> ((s, d) =>
      operators.TextAnalysis.topNgrams(t(s, d, "documents"), "text",
        n = 3, k = 50)),

    // Misra–Gries heavy hitters: capacity 32768 ≥ the ~16k distinct
    // trigrams at gate sf, so the summary never decrements and every
    // count is exact — the gate shares t21's exact-count oracle,
    // pinning the add/merge/threshold-subtract machinery end to end.
    // At bench sf the distinct-gram set outgrows the capacity and the
    // same row exercises the bounded (decrementing) regime.
    "t30_frequent_ngrams" -> ((s, d) =>
      operators.Sketches.topNgramsApprox(t(s, d, "documents"), "text",
          n = 3, capacity = 32768, k = 50)
        .select(col("item").as("gram"), col("count_min").as("cnt"))),

    // before/after stage diff: what a length-200 quality filter
    // removed, per (lang, source) slice — exact integer counts, one
    // rounded exact-division fraction
    "t22_corpus_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      operators.TextAnalysis.corpusDiff(docs,
          docs.filter(length(col("text")) >= 200), "text",
          Seq("lang", "source"))
        .orderBy(col("lang"), col("source"))
    }),

    // MinHash (Jaccard) cross-corpus decontamination: reference =
    // every 5th doc with "the"→"thee" mutations (high-Jaccard
    // contamination, built in-query); oracle = exact inverted-index
    // cross Jaccard at the threshold — banding recall is structural
    // on this fixture (mutant overlap ≈0.8 ≫ 0.5; precondition
    // spec-asserted like d4)
    "d23_minhash_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      operators.Dedup.minhashOverlap(docs, ref, "text", "doc_id",
          numHashes = 32, bands = 16, threshold = 0.5)
        .withColumn("max_jaccard", round(col("max_jaccard"), 6))
        .orderBy(col("doc_id"))
    }),

    // Repeated-SPAN removal (ExactSubstr-family substring dedup):
    // every 5th doc gets a shared 14-token boilerplate tail, so with
    // L=10 each such doc carries 5 repeated 10-gram occurrences whose
    // marked spans union to exactly the tail — the first doc (lowest
    // id) keeps it, every later one loses precisely those 14 tokens.
    // Boundary grams straddle unique per-doc context and never
    // repeat. Oracle rebuilds gram streams, the global (id, pos)
    // keep-first rule, span coverage, and the token-level rebuild.
    "d24_repeated_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val boiler = "subscribe to our newsletter for updates terms " +
        "of service privacy policy all rights reserved"
      val mutated = docs.withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" " + boiler)))
        .otherwise(col("text")))
      // exchangeBarrier: the rebuild projection (tokenize + span
      // filter + re-join) runs in the stream-side scan stage, which
      // the final orderBy re-ran; rebuilt rows shuffle once
      exchangeBarrier(s,
          operators.Dedup.dropRepeatedSpans(mutated, "text", "doc_id",
            spanTokens = 10))
        .orderBy(col("doc_id"))
    }),

    // Global paragraph keep-first dedup (the Dolma / RefinedWeb
    // stage): every 4th doc appends a shared footer paragraph, every
    // 8th appends it TWICE (exercising the later-in-same-doc drop);
    // the footer survives only at its globally-first (id, index)
    // occurrence. Untouched docs keep their text byte-identical.
    "d25_dedup_paragraphs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val footer = lit("all content copyright the publisher contact " +
        "us for licensing")
      val mutated = docs.withColumn("text",
        when(pmod(col("doc_id"), lit(8)) === 0,
          concat_ws("\n", col("text"), footer, footer))
        .when(pmod(col("doc_id"), lit(4)) === 0,
          concat_ws("\n", col("text"), footer))
        .otherwise(col("text")))
      operators.Dedup.dedupParagraphs(mutated, "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Z-order (Morton) codes — the storage-clustering key behind
    // multi-dimensional file skipping; the oracle re-interleaves all
    // 16 bits with explicit shift/mask arithmetic
    "q36_zorder" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          operators.Storage.mortonCode(Seq(
            pmod(col("l_partkey"), lit(256)).cast("long"),
            pmod(col("l_suppkey"), lit(256)).cast("long")), 8)
            .as("zval"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // Small-file compaction round trip: fragment the documents table
    // into 32 tiny part files (the streaming-sink accretion shape),
    // compact shuffle-free to a handful sized from the listed input
    // bytes, read back — identity oracle proves no row is lost or
    // duplicated by the rewrite+swap; the file-count/shuffle behavior
    // is spec-asserted (StorageSpec)
    "q39_compact_roundtrip" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q39").toString + "/frag"
      docs.repartition(32).write.parquet(tmp)
      operators.Storage.compact(s, tmp, targetFileBytes = 1L << 20)
      s.read.parquet(tmp).orderBy(col("doc_id"))
    }),

    // JSONL interchange round trip (the web-corpus drop format):
    // documents → sinkJsonl (gzip part files) → fromJsonl pinned to
    // the source schema → identity. The oracle is the source table
    // itself, so any escaping, type, or row loss in either direction
    // breaks the hash; schema-pinned read keeps the scan single-pass
    // at scale (no inference pre-pass).
    "q38_jsonl_roundtrip" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q38").toString
      api.DataStream(docs).sinkJsonl(s"$tmp/drop", compression = "gzip")
      api.Context(s).fromJsonl(s"$tmp/drop", docs.schema).toDF
        .orderBy(col("doc_id"))
    }),

    // WebDataset tar-shard round trip (the multimodal training-data
    // layout: one tar per shard, a sample = adjacent entries sharing
    // a key): documents → TarShards.write (4 shards, text as the
    // `txt` field) → TarShards.samples (adjacency-grouped, zero
    // shuffle) → identity. The oracle is the source table, so any
    // entry loss, mis-grouping, or byte corruption in either
    // direction breaks the hash.
    "q40_tar_roundtrip" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q40").toString + "/shards"
      formats.TarShards.write(docs.repartition(4), "doc_id",
        Seq("txt" -> "text"), tmp)
      formats.TarShards.samples(s, s"$tmp/*.tar")
        .select(col("key").cast("long").as("doc_id"),
          element_at(col("fields"), "txt").cast("string").as("text"))
        .orderBy(col("doc_id"))
    }),

    // URL canonicalization: five URL shapes built IN THE QUERY
    // (mixed-case scheme/host + default port + tracking params +
    // fragment; bare host; ref param; non-http scheme with real port;
    // a non-URL passthrough) — the oracle replays every RE2-safe
    // regexp step
    "t20_url_normalize" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val url = when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("HTTPS://WWW."), col("source"),
            lit(".Example.COM:443/Articles/"), col("doc_id"),
            lit("?utm_source=feed&id="), col("doc_id"),
            lit("&fbclid=xyz#sec2")))
        .when(pmod(col("doc_id"), lit(5)) === 1,
          concat(lit("http://"), col("source"), lit(".example.org:80")))
        .when(pmod(col("doc_id"), lit(5)) === 2,
          concat(lit("https://News.Example.net/"), col("lang"),
            lit("/story?ref=home&q=spark+scala")))
        .when(pmod(col("doc_id"), lit(5)) === 3,
          lit("ftp://Files.example.com:21/pub/data.bin"))
        .otherwise(concat(lit("not a url at all "), col("doc_id")))
      docs.select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          operators.Urls.normalizeUrl(col("url")).as("norm_url"),
          operators.Urls.urlHost(col("url")).as("host"))
        .orderBy(col("doc_id"))
    }),

    // edit-distance near-dup pairs via PassJoin segment blocking:
    // seeded 1-edit (substitute / delete) and 2-edit (append "!?")
    // mutants are built IN THE QUERY, so both engines see the same
    // corpus; the oracle is brute-force levenshtein over the
    // length-band — recall of the segment join must be exactly 1
    "d22_editdist_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val variants = docs
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(substring(col("text"), 1, 10), lit("Z"),
              substring(col("text"), 12, 1000000)))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(substring(col("text"), 1, 10),
              substring(col("text"), 12, 1000000)))
          .otherwise(concat(col("text"), lit("!?"))))
      val all = docs.unionByName(variants)
      // exchangeBarrier: the final orderBy's range sampling re-ran
      // the whole verify pipeline — the capped-levenshtein filter is
      // post-join scan-stage work (profiled: two identical ~5.5 s
      // 69-task jobs at sf1). Pair rows (ids + dist) shuffle once.
      exchangeBarrier(s,
          operators.Dedup.editDistancePairs(all, "text", "doc_id",
            maxDist = 2))
        .orderBy(col("doc_id_1"), col("doc_id_2"))
    }),

    // PII redaction with RE2-safe patterns; the fixture text gets a
    // deterministic synthetic email + phone appended IN THE QUERY (both
    // engines build the same string), so the oracle discriminates even
    // if the corpus itself carries no PII
    "t8_redact_pii" -> ((s, d) =>
      orderedSource(s, t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"),
          operators.TextAnalysis.redactPii(concat(col("text"),
            lit(" contact user"), col("doc_id"),
            lit("@mail.example.com or call +1 555-01"), col("doc_id"),
            lit("."))).as("clean"))),

    // int8 embedding quantization: floor(x+0.5) rounding is
    // bit-identical across engines (round() tie behavior is not), so
    // the quantized vectors AND the fp scale hash-match exactly (the
    // vector rides the gate comma-joined — the comparer diffs scalar
    // cells, not nested arrays)
    "s4_quantize_int8" -> ((s, d) =>
      t(s, d, "embeddings")
        // max|v| lands in a real column so the per-element lambda
        // reads a scalar instead of rescanning the array (O(dim) not
        // O(dim²))
        .withColumn("__m",
          operators.Similarity.vectorMaxAbs(col("embedding")))
        .select(col("vec_id"),
          array_join(transform(
            operators.Similarity.quantizeInt8With(col("embedding"),
              col("__m")),
            q => q.cast("string")), ",").as("q"),
          (col("__m") / 127.0).as("scale"))
        .orderBy(col("vec_id"))),

    // GPT-style concat-then-chunk packing layout (Packing.scala):
    // integer window arithmetic inside md5-prefix shards — DuckDB
    // reproduces the identical layout row-for-row
    "p5_pack_chunks" -> ((s, d) =>
      operators.Packing.packChunks(t(s, d, "documents"), "doc_id",
          "n_chars", capacity = 2048L)
        .select(col("doc_id"), col("shard"), col("start"), col("chunk"),
          col("offset"), col("chunks_spanned"))
        .orderBy(col("doc_id"))),

    "t5_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(operators.TextAnalysis.fingerprint(col("text"))
          .as("fingerprint"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n"))
        .orderBy(col("keeper_id"))),

    "m1_multimodal_bytes" -> ((s, d) => {
      val blob = operators.Multimodal.asBlob(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        operators.Multimodal.byteLength(blob).cast("long").as("n_bytes"),
        operators.Multimodal.sha256Hex(blob).as("sha256"),
        operators.Multimodal.headHex(blob).as("head_hex"))
        .orderBy(col("doc_id"))
    }),

    // REAL video frame sampling: every doc encodes an MJPEG AVI (the
    // m9 linear-gray fixture), the sampler walks the RIFF container
    // ONLY (no codec pass) and fans every 4th frame payload out as
    // its own row, and each sampled frame is then REALLY decoded by
    // the image batch decoder — frame payloads are plain JPEG, so
    // the two operators compose. Sampled indices, the decoded format
    // name, and each frame's solid mean gray are pure doc_id
    // arithmetic for the oracle.
    "m3_multimodal_frames" -> ((s, d) => {
      val blobs = Graft.spread(t(s, d, "documents")).select(col("doc_id"),
        operators.Multimodal.encodeTestVideoAvi(
          (pmod(col("doc_id"), lit(16)) + 16).cast("int"),
          (pmod(col("doc_id"), lit(9)) + 16).cast("int"),
          (pmod(col("doc_id"), lit(11)) + 5).cast("int"),
          pmod(col("doc_id") * 3, lit(256)).cast("int"),
          lit(10)).as("blob"))
      val sampled = operators.Multimodal.videoFrameSamplePartitions(
        blobs, "blob", "doc_id", stride = 4)
      operators.Multimodal.decodeImagePartitions(
          sampled.withColumn("fid",
            col("doc_id") * lit(1000) + col("frame_idx")),
          "frame", "fid")
        .select(floor(col("fid") / 1000).cast("long").as("doc_id"),
          pmod(col("fid"), lit(1000)).cast("long").as("frame_idx"),
          col("format"),
          round(col("mean_gray"), 6).as("mean_gray"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // REAL image resize (the thumbnailer): the m4 solid fixture at
    // larger dims, downscaled into a 24px bounding box with the
    // integer-exact nearest-neighbour kernel, then REALLY decoded
    // back from the re-encoded PNG. Target dims are integer
    // arithmetic (w·24/max(w,h)), and nearest-neighbour preserves
    // solid content exactly, so the decoded mean gray must equal the
    // original gray level bit for bit.
    "m13_image_resize" -> ((s, d) => {
      val fmt = element_at(
        array(lit("png"), lit("jpeg"), lit("bmp"), lit("gif")),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
      val blobs = Graft.spread(t(s, d, "documents")).select(col("doc_id"),
        operators.Multimodal.encodeTestImage(fmt,
          (pmod(col("doc_id"), lit(29)) + 8).cast("int"),
          (pmod(col("doc_id"), lit(17)) + 8).cast("int"),
          pmod(col("doc_id"), lit(256)).cast("int")).as("blob"))
      val resized = operators.Multimodal.resizeImagePartitions(
        blobs, "blob", "doc_id", maxDim = 24)
      operators.Multimodal.decodeImagePartitions(resized, "png",
          "doc_id")
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_gray"), 6).as("mean_gray"))
        .orderBy(col("doc_id"))
    }),

    // The multimodal pipeline projection over text bytes: every
    // emitted field is REAL and replayable — length, content hash,
    // and the exact per-bin byte histogram (features × n_bytes
    // rounds back to integer counts). The pipeline's meta field is
    // now the real image-header decode (honestly "unknown" for text
    // bytes); it is exercised against real images by m4/m13, so this
    // gate pins the byte-level fields only.
    "m2_multimodal_pipeline" -> ((s, d) =>
      operators.Multimodal.mediaPipeline(t(s, d, "documents"),
          "text", "doc_id")
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("sha256"),
          array_join(transform(col("features"),
            f => round(f.cast("double") * col("n_bytes"), 0).cast("long")
              .cast("string")), ",").as("bin_counts"))
        .orderBy(col("doc_id"))),

    // REAL image codec round-trip (javax.imageio, in the JDK): each
    // doc_id deterministically picks a format (png/jpeg/bmp/gif),
    // dims, and a solid gray level; the query ENCODES that image with
    // the real ImageIO writer, then full-raster DECODES it in the
    // mapPartitions batch shape. Solid content makes every decoded
    // statistic exact arithmetic over doc_id — format name, pixel
    // dims, and mean gray (verified exhaustively: all 256 gray
    // levels round-trip exactly in all four formats, JPEG included —
    // uniform blocks are DC-only) — so the oracle checks a real
    // codec path with no binary fixtures shipped.
    "m4_image_decode" -> ((s, d) => {
      val fmt = element_at(
        array(lit("png"), lit("jpeg"), lit("bmp"), lit("gif")),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
      val blobs = Graft.spread(t(s, d, "documents"))
        .select(col("doc_id"),
        operators.Multimodal.encodeTestImage(fmt,
          (pmod(col("doc_id"), lit(29)) + 8).cast("int"),
          (pmod(col("doc_id"), lit(17)) + 8).cast("int"),
          pmod(col("doc_id"), lit(256)).cast("int")).as("blob"))
      operators.Multimodal.decodeImagePartitions(blobs, "blob", "doc_id")
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_gray"), 6).as("mean_gray"))
        .orderBy(col("doc_id"))
    }),

    // REAL audio codec round-trip (javax.sound.sampled, in the JDK):
    // each doc_id picks a container (wave/aiff/au — both PCM
    // endiannesses exercised), sample rate, channel count, frame
    // count, and a constant 16-bit sample value; ENCODE with the real
    // writer, full-payload DECODE in the batch shape. Constant frames
    // make mean amplitude and duration exact arithmetic over doc_id —
    // the m4 discipline for the audio column class.
    "m5_audio_decode" -> ((s, d) => {
      val container = element_at(
        array(lit("wave"), lit("aiff"), lit("au")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val rate = element_at(
        array(lit(8000), lit(16000), lit(22050), lit(44100)),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
      val blobs = Graft.spread(t(s, d, "documents"))
        .select(col("doc_id"),
        operators.Multimodal.encodeTestAudio(container, rate,
          (pmod(col("doc_id"), lit(2)) + 1).cast("int"),
          (pmod(col("doc_id"), lit(100)) + 50).cast("int"),
          (pmod(col("doc_id"), lit(1000)) - 500).cast("int")).as("blob"))
      exchangeBarrier(s,
        operators.Multimodal.decodeAudioPartitions(blobs, "blob", "doc_id")
          .select(col("doc_id"), col("audio_format"),
            col("sample_rate").cast("long").as("sample_rate"),
            col("channels").cast("long").as("channels"),
            col("n_frames"),
            round(col("mean_sample"), 6).as("mean_sample"),
            round(col("duration_ms"), 6).as("duration_ms")))
        .orderBy(col("doc_id"))
    }),

    // Container-independent EXACT audio dedup: 50 distinct audio
    // contents (rate/channels/frames/sample level keyed by doc_id mod
    // 50), each doc saving ITS content in one of three containers
    // (wave/aiff/au — different magic, different payload endianness,
    // different byte sizes). Dedup groups by the canonical decoded-
    // PCM hash, so the three container spellings of one recording
    // collapse into one group while a byte-level hash (also computed,
    // as n_distinct_blobs) sees three distinct blobs per group — the
    // oracle replays groups and the per-group container count as
    // pure arithmetic.
    "m8_audio_content_dedup" -> ((s, d) => {
      val key = pmod(col("doc_id"), lit(50))
      val container = element_at(
        array(lit("wave"), lit("aiff"), lit("au")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val rate = element_at(
        array(lit(8000), lit(16000), lit(22050), lit(44100)),
        (pmod(key, lit(4)) + 1).cast("int"))
      // single pass: byte hash and decoded-content hash are computed
      // side by side in ONE projection over each blob — the earlier
      // two-branch join spelling re-ran the whole encode on the
      // second branch (the join key's pushed isnotnull filter breaks
      // exchange-reuse between the branches)
      val blobs = Graft.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          operators.Multimodal.encodeTestAudio(container, rate,
            (pmod(key, lit(2)) + 1).cast("int"),
            (key + 50).cast("int"),
            (key * 7 - 150).cast("int")).as("blob"))
      blobs
        .select(col("doc_id"), sha2(col("blob"), 256).as("byte_sha"),
          operators.Multimodal.audioContentHash(col("blob"))
            .as("pcm_sha256"))
        .groupBy(col("pcm_sha256"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_docs"),
          countDistinct(col("byte_sha")).as("n_distinct_blobs"))
        .select(col("keeper_id"), col("n_docs"), col("n_distinct_blobs"))
        .orderBy(col("keeper_id"))
    }),

    // REAL video codec round-trip (MJPEG-in-AVI: RIFF container walk
    // + per-frame ImageIO JPEG decode — all pure JVM): each doc_id
    // picks dims, frame count, base gray, and fps; the query encodes
    // a conformant AVI whose frame i is solid gray (gray0 + 7i) mod
    // 256, then decodes container headers AND every frame's pixels.
    // Solid DC-only JPEG frames decode exactly, so codec name,
    // declared dims/frames, header fps, first-frame mean, and the
    // across-ALL-frames mean are pure doc_id arithmetic.
    "m9_video_decode" -> ((s, d) => {
      val blobs = Graft.spread(t(s, d, "documents"))
        .select(col("doc_id"),
        operators.Multimodal.encodeTestVideoAvi(
          (pmod(col("doc_id"), lit(16)) + 16).cast("int"),
          (pmod(col("doc_id"), lit(9)) + 16).cast("int"),
          (pmod(col("doc_id"), lit(6)) + 3).cast("int"),
          pmod(col("doc_id"), lit(256)).cast("int"),
          (pmod(col("doc_id"), lit(20)) + 10).cast("int")).as("blob"))
      operators.Multimodal.decodeVideoPartitions(blobs, "blob", "doc_id")
        .select(col("doc_id"), col("codec"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          round(col("fps"), 6).as("fps"),
          round(col("mean_gray_first"), 6).as("mean_gray_first"),
          round(col("mean_gray_all"), 6).as("mean_gray_all"))
        .orderBy(col("doc_id"))
    }),

    // Perceptual image hash over REAL decoded pixels: each doc_id
    // picks lossless format/dims/pattern seed, the query encodes the
    // analytic quadratic pattern, decodes it back with javax.imageio,
    // and computes the block-mean dHash. The oracle rebuilds the
    // pixel grid arithmetically (pattern → exact integer cell sums →
    // the same IEEE mean division) and replays all 64 difference
    // bits; emitted as unsigned hi/lo 32-bit halves so neither engine
    // touches the sign bit.
    "m6_image_dhash" -> ((s, d) => {
      val fmt = element_at(array(lit("png"), lit("bmp")),
        (pmod(col("doc_id"), lit(2)) + 1).cast("int"))
      val blobs = Graft.spread(t(s, d, "documents"))
        .select(col("doc_id"),
        operators.Multimodal.encodeTestImagePattern(fmt,
          (pmod(col("doc_id"), lit(28)) + 9).cast("int"),
          (pmod(col("doc_id"), lit(17)) + 8).cast("int"),
          pmod(col("doc_id") * 7, lit(256)).cast("int")).as("blob"))
      operators.Multimodal.imageDHashPartitions(blobs, "blob", "doc_id")
        .select(col("doc_id"),
          shiftrightunsigned(col("dhash"), 32).as("dhash_hi"),
          col("dhash").bitwiseAND(lit(0xffffffffL)).as("dhash_lo"))
        .orderBy(col("doc_id"))
    }),

    // Image near-dup pairs end-to-end: the m6 pattern corpus plus
    // byte-identical re-encodes of every 10th image (same pattern,
    // new id) → real decode → dHash → the banded hamming≤3 pair
    // machinery (4×16-bit bands, pigeonhole recall EXACTLY 1 — no
    // probabilistic step). Copies pair with their originals at
    // hamming 0; the quadratic pattern keeps natural collisions to a
    // replayable tail. The oracle recomputes every hash analytically
    // and takes the exact all-pairs hamming join at the threshold.
    "m7_image_neardup" -> ((s, d) => {
      val fmt = element_at(array(lit("png"), lit("bmp")),
        (pmod(col("doc_id"), lit(2)) + 1).cast("int"))
      val blobs = Graft.spread(t(s, d, "documents"))
        .select(col("doc_id"),
        operators.Multimodal.encodeTestImagePattern(fmt,
          (pmod(col("doc_id"), lit(28)) + 9).cast("int"),
          (pmod(col("doc_id"), lit(17)) + 8).cast("int"),
          pmod(col("doc_id") * 7, lit(256)).cast("int")).as("blob"))
      val copies = blobs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val hashes = operators.Multimodal.imageDHashPartitions(
        blobs.unionByName(copies), "blob", "doc_id")
      operators.Dedup.simhashPairsFromSig(hashes, col("dhash"),
          "doc_id", maxHamming = 3)
        .select(col("doc_id_1"), col("doc_id_2"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("doc_id_1"), col("doc_id_2"))
    }),

    // Perceptual AUDIO fingerprint over REAL decoded PCM (the m6
    // discipline for the audio class): each doc_id picks a container
    // (all three, both payload endiannesses), rate, segment length,
    // and a quadratic amplitude pattern seed; the query encodes 65
    // constant-amplitude segments with the real javax.sound writer,
    // decodes the canonical PCM back, and computes the 64
    // energy-envelope sign-delta bits. Segment energies are exact
    // integer arithmetic (segFrames · a_k²), so the oracle replays
    // every bit; emitted as unsigned hi/lo halves like m6.
    "m10_audio_fingerprint" -> ((s, d) => {
      val container = element_at(
        array(lit("wave"), lit("aiff"), lit("au")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val rate = element_at(
        array(lit(8000), lit(16000), lit(22050), lit(44100)),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
      val blobs = Graft.spread(t(s, d, "documents"))
        .select(col("doc_id"),
        operators.Multimodal.encodeTestAudioPattern(container, rate,
          (pmod(col("doc_id"), lit(4)) + 2).cast("int"),
          pmod(col("doc_id") * 13, lit(15485863)).cast("int"),
          lit(1)).as("blob"))
      operators.Multimodal.audioFingerprintPartitions(blobs, "blob",
          "doc_id")
        .select(col("doc_id"),
          shiftrightunsigned(col("afp"), 32).as("afp_hi"),
          col("afp").bitwiseAND(lit(0xffffffffL)).as("afp_lo"))
        .orderBy(col("doc_id"))
    }),

    // Audio near-dup pairs end-to-end (the m7 shape for audio): the
    // m10 pattern corpus plus RE-GAINED (2×), RE-CONTAINERED copies
    // of every 10th recording — the exact content hash (m8) sees a
    // different signal, but energy-envelope DIRECTION is invariant
    // under uniform gain, so copies pair with their originals at
    // hamming 0 through the banded machinery (pigeonhole recall
    // exactly 1 at hamming ≤ 3). Oracle recomputes every fingerprint
    // from the pattern arithmetic (gain and segment length cancel in
    // the per-doc energy ordering) and takes the exact all-pairs
    // hamming join.
    "m11_audio_neardup" -> ((s, d) => {
      val base = Graft.spread(t(s, d, "documents"))
        .select(col("doc_id"))
      def enc(df: DataFrame, containerShift: Int, gain: Int) = {
        val src = when(col("doc_id") >= 1000000L,
          col("doc_id") - 1000000L).otherwise(col("doc_id"))
        val container = element_at(
          array(lit("wave"), lit("aiff"), lit("au")),
          (pmod(src + lit(containerShift), lit(3)) + 1).cast("int"))
        val rate = element_at(
          array(lit(8000), lit(16000), lit(22050), lit(44100)),
          (pmod(src, lit(4)) + 1).cast("int"))
        df.select(col("doc_id"),
          operators.Multimodal.encodeTestAudioPattern(container, rate,
            (pmod(src, lit(4)) + 2).cast("int"),
            pmod(src * 13, lit(15485863)).cast("int"),
            lit(gain)).as("blob"))
      }
      val originals = enc(base, 0, 1)
      val copies = enc(base.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L), 1, 2)
      // exchangeBarrier: the banding operator's l/r sides and the
      // final orderBy would otherwise re-execute the encode+decode
      // fingerprint chain (profiled: two identical ~3 s 68-task jobs
      // at sf1); the barrier shuffles (doc_id, afp) — two longs — once
      val fps = exchangeBarrier(s,
        operators.Multimodal.audioFingerprintPartitions(
          originals.unionByName(copies), "blob", "doc_id"))
      operators.Dedup.simhashPairsFromSig(fps, col("afp"),
          "doc_id", maxHamming = 3)
        .select(col("doc_id_1"), col("doc_id_2"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("doc_id_1"), col("doc_id_2"))
    }),

    // Video near-dup pairs end-to-end (the last media class): every
    // 7th doc encodes a ≥66-frame MJPEG AVI whose solid frames
    // follow the quadratic gray pattern (exact decode, the m9
    // argument), every 3rd of those re-encodes the SAME frame
    // sequence at different dims and fps — the temporal luminance
    // fingerprint is resolution/fps-invariant, so re-encodes pair at
    // hamming 0. Fingerprints feed the banded hamming≤3 machinery;
    // the oracle replays the frame means, the 65 exact sample
    // positions, all 64 bits, and the exact all-pairs hamming join.
    "m12_video_neardup" -> ((s, d) => {
      val base = Graft.spread(t(s, d, "documents"))
        .filter(pmod(col("doc_id"), lit(7)) === 0).select(col("doc_id"))
      def enc(df: DataFrame, dw: Int, dh: Int, dfps: Int) = {
        val src = when(col("doc_id") >= 1000000L,
          col("doc_id") - 1000000L).otherwise(col("doc_id"))
        df.select(col("doc_id"),
          operators.Multimodal.encodeTestVideoAviPattern(
            (pmod(src, lit(5)) + 8 + dw).cast("int"),
            (pmod(src, lit(3)) + 6 + dh).cast("int"),
            (pmod(src, lit(6)) + 66).cast("int"),
            pmod(src * 17, lit(15485863)).cast("int"),
            (pmod(src, lit(20)) + 10 + dfps).cast("int")).as("blob"))
      }
      val originals = enc(base, 0, 0, 0)
      val copies = enc(base.filter(pmod(col("doc_id"), lit(21)) === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L), 4, 2, 5)
      // exchangeBarrier: the m11 note — here each re-execution is a
      // full per-frame MJPEG decode (two identical ~4.5 s 68-task
      // jobs at sf1); (doc_id, vfp) shuffles once instead
      val fps = exchangeBarrier(s,
        operators.Multimodal.videoFingerprintPartitions(
          originals.unionByName(copies), "blob", "doc_id"))
      operators.Dedup.simhashPairsFromSig(fps, col("vfp"),
          "doc_id", maxHamming = 3)
        .select(col("doc_id_1"), col("doc_id_2"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("doc_id_1"), col("doc_id_2"))
    }),
  )

  /** The d8/d13 shared oracle: the d5 pair recipe closed transitively
    * (component = min reachable id) via a recursive CTE — both CC
    * algorithms must reproduce it exactly.
    */
  /** The d8 fixture's pair graph + transitive closure as a reusable
    * CTE prefix: `du` = documents ∪ mutated copies, `reach` = the
    * closure of the SimHash(≤3) pair graph over them. Shared by the
    * d8/d13 component oracles and the p8 leakage-safe-split oracle.
    */
  private val dupComponentsClosureCte: String =
    """WITH RECURSIVE du AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    regexp_replace(text, 'the', 'thee', 'g') FROM documents),
      |toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text,
      |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
      |    '[ \t\n\v\f\r]+')) AS tok
      |  FROM du),
      |th AS (SELECT doc_id, md5(tok) AS h FROM toks),
      |bits AS (
      |  SELECT doc_id, k,
      |    sum(CASE WHEN ((strpos('0123456789abcdef',
      |        substring(h, CAST(k // 4 + 1 AS INT), 1)) - 1)
      |        >> CAST(3 - k % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS k) ks
      |  GROUP BY doc_id, k),
      |sigs AS (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
      |      ORDER BY k) AS sig
      |  FROM bits GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |  WHERE len(list_filter(range(1, 65), i ->
      |      substring(a.sig, CAST(i AS INT), 1) !=
      |      substring(b.sig, CAST(i AS INT), 1))) <= 3),
      |edges AS (
      |  SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
      |  UNION SELECT doc_id_2, doc_id_1 FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin

  private val dupComponentsClosureSql: String =
    dupComponentsClosureCte + "\n" +
      """SELECT src AS doc_id, least(src, min(dst)) AS component
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** Shared by d10 (plain anti-join) and d17 (Bloom-prefiltered) —
    * the Bloom form is exact by construction, so both gates must
    * hash-match the same reference answer.
    */
  private val decontaminateSql: String =
    """SELECT d.doc_id, d.lang FROM documents d
      |WHERE md5(d.text) NOT IN (
      |  SELECT md5(text) FROM documents
      |  WHERE substr(md5(CAST(doc_id AS VARCHAR) || chr(0) ||
      |    'sample'), 1, 8) < '4ccccccc')
      |ORDER BY d.doc_id""".stripMargin

  /** DuckDB-runnable oracle SQL, column-name-aligned with `queries`. */
  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    // scoring through the persisted+read-back model must equal
    // scoring with the in-memory weights — t34's oracle verbatim
    "t38_linear_indexed" ->
      oracleSqlBase("t34_hashed_trained_score"),
    // the indexed decontamination gates are BIT-IDENTICAL round trips
    // of their inline twins — same fixture, same output — so they
    // share the oracle verbatim: any divergence introduced by the
    // persist/read path (schema drift, lost fingerprints, parameter
    // mismatch) fails the same SQL the inline build passes
    "d32_winnow_overlap_indexed" -> oracleSqlBase("d27_winnow_overlap"),
    "d34_decontaminate_indexed" -> oracleSqlBase("d10_decontaminate"),
    "d33_minhash_overlap_indexed" -> oracleSqlBase("d23_minhash_overlap"),
    "s7_ann_ivf_indexed" -> oracleSqlBase("s3_ann_ivf"),
    "s8_ann_pq" -> oracleSqlBase("s1_sim_topk"),
    "s16_ann_opq" -> oracleSqlBase("s1_sim_topk"),
    "s17_ann_opq_ivfpq" -> oracleSqlBase("s1_sim_topk"),
    "s13_ann_ivfpq" -> oracleSqlBase("s1_sim_topk"),
    "s9_ann_pq_indexed" -> oracleSqlBase("s1_sim_topk"),
    "s10_ann_ivf_appended" -> oracleSqlBase("s3_ann_ivf"),
    "s11_ann_pq_appended" -> oracleSqlBase("s1_sim_topk"),
    "s14_ann_ivfpq_appended" -> oracleSqlBase("s1_sim_topk"),
    "d37_kmv_overlap_indexed" -> oracleSqlBase("d36_kmv_overlap"),
    "t30_frequent_ngrams" -> oracleSqlBase("t21_top_ngrams"))

  /** First-8-hex-chars-of-md5 → int, digit by digit (the d5 recipe) —
    * the DuckDB spelling of [[operators.TextAnalysis.h32]].
    */
  private def h32Sql(e: String): String = (1 to 8).map { p =>
    s"(strpos('0123456789abcdef', substr(md5($e), $p, 1))-1)*" +
      (1L << (4 * (8 - p)))
  }.mkString("(", " + ", ")")

  /** The t33/t34 oracle's training replay: `iters` full-batch GD
    * iterations over the md5-hashed feature space UNROLLED as
    * chained CTEs — one (margin, residual-contribution, gradient,
    * weight-update) block per iteration, every step in the exact
    * pinned arithmetic of
    * [[operators.TextAnalysis.learnHashedLinear]] (integer micro
    * weights, rational sigmoid, floor(x+0.5) quantization), ending
    * in a `milli` CTE with the trained milli-unit weight table.
    * `ngrams = 2` adds one occ branch per adjacent token PAIR
    * (space-joined, hashed into the same bucket space — the
    * featureBuckets convention) and counts n_tokens as FEATURES
    * (2·len − 1), exactly the Spark trainer's normalizer.
    */
  private def hashedGdCtes(dim: Int, iters: Int,
                           ngrams: Int = 1): String = {
    val bucket = s"(${h32Sql("tok")} % $dim)"
    val m = s"(CAST(msum AS DOUBLE) / (1000000.0 * n_tokens))"
    val nFeats = if (ngrams == 1) "len(tk)" else "2 * len(tk) - 1"
    val occ =
      if (ngrams == 1)
        """occ AS (SELECT doc_id, y, n_tokens, unnest(tk) AS tok
          |  FROM docs),""".stripMargin
      else
        """occ AS (
          |  SELECT doc_id, y, n_tokens, unnest(tk) AS tok FROM docs
          |  UNION ALL
          |  SELECT doc_id, y, n_tokens,
          |    unnest(list_transform(range(1, len(tk)),
          |      i -> tk[i] || ' ' || tk[i + 1])) AS tok
          |  FROM docs),""".stripMargin
    val head =
      s"""base AS (
         |  SELECT doc_id,
         |    CASE WHEN list_contains(regexp_split_to_array(trim(text,
         |        ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
         |        '[ \t\n\\v\f\r]+'), 'dup') THEN CAST(1 AS DOUBLE)
         |      ELSE CAST(0 AS DOUBLE) END AS y,
         |    regexp_split_to_array(trim(text,
         |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
         |      '[ \t\n\\v\f\r]+') AS tk
         |  FROM documents),
         |docs AS (SELECT doc_id, y, $nFeats AS n_tokens, tk
         |  FROM base WHERE len(tk) > 0),
         |nn AS (SELECT COUNT(*) AS n, SUM(y) AS np FROM docs),
         |cb AS (SELECT CAST(n AS DOUBLE) / (2.0 * np) AS wpos,
         |  CAST(n AS DOUBLE) / (2.0 * (CAST(n AS DOUBLE) - np)) AS wneg
         |  FROM nn),
         |$occ
         |feat AS (SELECT doc_id, y, n_tokens, $bucket AS bucket
         |  FROM occ),
         |w0 AS (SELECT x AS bucket, CAST(0 AS BIGINT) AS w
         |  FROM range(0, $dim) t(x))""".stripMargin
    val its = (1 to iters).map { k =>
      s"""m$k AS (
         |  SELECT f.doc_id, f.y, f.n_tokens, SUM(w.w) AS msum
         |  FROM feat f JOIN w${k - 1} w USING (bucket)
         |  GROUP BY f.doc_id, f.y, f.n_tokens),
         |c$k AS (
         |  SELECT doc_id, CAST(floor(
         |      (0.5 + 0.5 * ($m / (1.0 + abs($m))) - y)
         |        * (CASE WHEN y = 1.0 THEN cb.wpos ELSE cb.wneg END)
         |        * 1000000.0 / n_tokens + 0.5) AS BIGINT) AS c
         |  FROM m$k, cb),
         |g$k AS (
         |  SELECT f.bucket, SUM(c.c) AS g
         |  FROM feat f JOIN c$k c USING (doc_id)
         |  GROUP BY f.bucket),
         |w$k AS (
         |  SELECT w.bucket, w.w - CAST(floor(
         |      10.0 * COALESCE(g.g, 0) / (SELECT n FROM nn) + 0.5)
         |    AS BIGINT) AS w
         |  FROM w${k - 1} w LEFT JOIN g$k g USING (bucket))""".stripMargin
    }
    val milli =
      s"""milli AS (
         |  SELECT bucket,
         |    CAST(floor(w / 1000.0 + 0.5) AS BIGINT) AS weight_milli
         |  FROM w$iters)""".stripMargin
    (Seq(head) ++ its ++ Seq(milli)).mkString(",\n")
  }

  /** The t34/t39 oracle: train via [[hashedGdCtes]], score every doc
    * with the trained milli weights — the sum is CAST to BIGINT
    * because DuckDB widens SUM(BIGINT) to HUGEINT, which hashes
    * differently from Spark's int64 even at equal values.
    */
  private def trainedScoreSql(ngrams: Int): String =
    s"""WITH ${hashedGdCtes(64, 3, ngrams)},
       |sc AS (
       |  SELECT f.doc_id,
       |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
       |  FROM feat f JOIN milli m USING (bucket)
       |  GROUP BY f.doc_id)
       |SELECT d.doc_id, d.n_tokens, sc.score_milli,
       |  CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
       |    AS logit,
       |  (CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)) > 0
       |    AS keep
       |FROM docs d JOIN sc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The rational sigmoid / calibrated margin the t37/t42 oracles
    * share (`ab` = the calibration pair's alias, `e` = ev's).
    */
  private def calSg(m: String): String =
    s"(0.5 + 0.5 * (($m) / (1.0 + abs($m))))"
  private val calM = "((ab.a * e.logit + ab.b) / 1000000.0)"

  /** t37/t42's shared WITH body: the t33 GD CTEs + trained scoring
    * (`ev` = per-doc (y, logit)) + three unrolled Platt calibration
    * iterations ending in `ab3` — the whole double optimization as
    * chained CTEs.
    */
  private def plattCtes: String = {
    val its = (1 to 3).map { k =>
      s"""cg$k AS (
         |  SELECT SUM(CAST(floor((${calSg(calM)} - e.y) * e.logit
         |      * 1000000.0 + 0.5) AS BIGINT)) AS ga,
         |    SUM(CAST(floor((${calSg(calM)} - e.y) * 1000000.0 + 0.5)
         |      AS BIGINT)) AS gb,
         |    COUNT(*) AS n
         |  FROM ev e, ab${k - 1} ab),
         |ab$k AS (
         |  SELECT ab.a - CAST(floor(10.0 * cg.ga / cg.n + 0.5)
         |      AS BIGINT) AS a,
         |    ab.b - CAST(floor(10.0 * cg.gb / cg.n + 0.5)
         |      AS BIGINT) AS b
         |  FROM ab${k - 1} ab, cg$k cg)""".stripMargin
    }.mkString(",\n")
    s"""${hashedGdCtes(64, 3)},
       |sc AS (
       |  SELECT f.doc_id,
       |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
       |  FROM feat f JOIN milli m USING (bucket)
       |  GROUP BY f.doc_id),
       |ev AS (
       |  SELECT d.doc_id, d.y,
       |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
       |      AS logit
       |  FROM docs d JOIN sc USING (doc_id)),
       |ab0 AS (SELECT CAST(1000000 AS BIGINT) AS a,
       |  CAST(0 AS BIGINT) AS b),
       |$its""".stripMargin
  }

  /** t47's WITH body: the t33 GD CTEs + trained scoring keyed with
    * the source (`ev` = per-doc (source, y, logit)) + three
    * unrolled PER-SOURCE Platt iterations ending in `ab3` — the
    * [[plattCtes]] recursion with every aggregate and update
    * grouped/joined on the source, each group's pair exactly its
    * standalone recursion (updates divide by the GROUP's own n).
    */
  private def plattByCtes: String = {
    val its = (1 to 3).map { k =>
      s"""cg$k AS (
         |  SELECT e.source,
         |    SUM(CAST(floor((${calSg(calM)} - e.y) * e.logit
         |      * 1000000.0 + 0.5) AS BIGINT)) AS ga,
         |    SUM(CAST(floor((${calSg(calM)} - e.y) * 1000000.0 + 0.5)
         |      AS BIGINT)) AS gb,
         |    COUNT(*) AS n
         |  FROM ev e JOIN ab${k - 1} ab USING (source)
         |  GROUP BY e.source),
         |ab$k AS (
         |  SELECT ab.source,
         |    ab.a - CAST(floor(10.0 * cg.ga / cg.n + 0.5)
         |      AS BIGINT) AS a,
         |    ab.b - CAST(floor(10.0 * cg.gb / cg.n + 0.5)
         |      AS BIGINT) AS b
         |  FROM ab${k - 1} ab JOIN cg$k cg USING (source))""".stripMargin
    }.mkString(",\n")
    s"""${hashedGdCtes(64, 3)},
       |sc AS (
       |  SELECT f.doc_id,
       |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
       |  FROM feat f JOIN milli m USING (bucket)
       |  GROUP BY f.doc_id),
       |ev AS (
       |  SELECT d.doc_id, dd.source, d.y,
       |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
       |      AS logit
       |  FROM docs d JOIN sc USING (doc_id)
       |  JOIN documents dd USING (doc_id)),
       |ab0 AS (SELECT DISTINCT source, CAST(1000000 AS BIGINT) AS a,
       |  CAST(0 AS BIGINT) AS b FROM ev),
       |$its""".stripMargin
  }

  private val oracleSqlBase: Map[String, String] = Map(
    "t33_hashed_linear_train" ->
      s"""WITH ${hashedGdCtes(64, 3)}
         |SELECT CAST(bucket AS INTEGER) AS bucket, weight_milli
         |FROM milli ORDER BY bucket""".stripMargin,

    "t34_hashed_trained_score" -> trainedScoreSql(ngrams = 1),

    // the bigram-feature twin: same GD replay, unigram+bigram
    // bucket space, n_tokens = feature count
    "t39_bigram_trained_score" -> trainedScoreSql(ngrams = 2),

    "t37_calibrated_probs" ->
      s"""WITH $plattCtes
         |SELECT e.doc_id, e.logit, ${calSg(calM)} AS prob,
         |  ${calSg(calM)} > 0.5 AS keep_calibrated
         |FROM ev e, ab3 ab ORDER BY e.doc_id""".stripMargin,

    // reliability-diagram bins over the calibrated probabilities:
    // the CTE chain replays BOTH trainings, then every bin count,
    // micro-summed mean probability, and signed gap
    "t42_calibration_report" ->
      s"""WITH $plattCtes,
         |pr AS (
         |  SELECT e.doc_id, e.y, ${calSg(calM)} AS prob
         |  FROM ev e, ab3 ab),
         |bn AS (
         |  SELECT LEAST(CAST(floor(prob * 20000) AS INTEGER), 19999)
         |    AS bin, y, prob
         |  FROM pr),
         |g AS (
         |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT)
         |      AS n_pos,
         |    CAST(SUM(CAST(floor(prob * 1000000.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS sp
         |  FROM bn GROUP BY bin)
         |SELECT bin, CAST(bin AS DOUBLE) / 20000 AS bin_lo, n, n_pos,
         |  CAST(n_pos AS DOUBLE) / n AS frac_pos,
         |  CAST(sp AS DOUBLE) / (1000000.0 * n) AS mean_prob,
         |  CAST(sp AS DOUBLE) / (1000000.0 * n)
         |    - CAST(n_pos AS DOUBLE) / n AS gap
         |FROM g ORDER BY bin""".stripMargin,

    // the keyed calibration twin: both trainings replayed, bins
    // grouped (source, bin)
    "t44_calibration_by" ->
      s"""WITH $plattCtes,
         |pr AS (
         |  SELECT dd.source, e.y, ${calSg(calM)} AS prob
         |  FROM ev e JOIN documents dd USING (doc_id), ab3 ab),
         |bn AS (
         |  SELECT source,
         |    LEAST(CAST(floor(prob * 20000) AS INTEGER), 19999)
         |      AS bin, y, prob
         |  FROM pr),
         |g AS (
         |  SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT)
         |      AS n_pos,
         |    CAST(SUM(CAST(floor(prob * 1000000.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS sp
         |  FROM bn GROUP BY source, bin)
         |SELECT source, bin, CAST(bin AS DOUBLE) / 20000 AS bin_lo,
         |  n, n_pos,
         |  CAST(n_pos AS DOUBLE) / n AS frac_pos,
         |  CAST(sp AS DOUBLE) / (1000000.0 * n) AS mean_prob,
         |  CAST(sp AS DOUBLE) / (1000000.0 * n)
         |    - CAST(n_pos AS DOUBLE) / n AS gap
         |FROM g ORDER BY source, bin""".stripMargin,

    // per-source ECE: the identical 0.0-seeded bin-ordered fold of
    // (n_b/N)·|gap_b| terms (division before multiplication, like
    // the operator)
    "t45_ece_by" ->
      s"""WITH $plattCtes,
         |pr AS (
         |  SELECT dd.source, e.y, ${calSg(calM)} AS prob
         |  FROM ev e JOIN documents dd USING (doc_id), ab3 ab),
         |bn AS (
         |  SELECT source,
         |    LEAST(CAST(floor(prob * 20000) AS INTEGER), 19999)
         |      AS bin, y, prob
         |  FROM pr),
         |g AS (
         |  SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT)
         |      AS n_pos,
         |    CAST(SUM(CAST(floor(prob * 1000000.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS sp
         |  FROM bn GROUP BY source, bin),
         |k AS (
         |  SELECT source, CAST(SUM(n) AS BIGINT) AS nk
         |  FROM g GROUP BY source),
         |tm AS (
         |  SELECT g.source, g.bin,
         |    CAST(g.n AS DOUBLE) / k.nk
         |      * abs(CAST(g.sp AS DOUBLE) / (1000000.0 * g.n)
         |        - CAST(g.n_pos AS DOUBLE) / g.n) AS term
         |  FROM g JOIN k USING (source))
         |SELECT source,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(term ORDER BY bin)), (a, x) -> a + x) AS ece
         |FROM tm GROUP BY source ORDER BY source""".stripMargin,

    // exact average precision per source: cumulative-through-tie-
    // block precisions at each positive-bearing distinct logit,
    // each term quantized to integer nano-units by exact integer
    // arithmetic (round 15: order-free commutative sum — no fold
    // order to pin), ÷ 1e9·n_pos
    "t43_pr_auc" ->
      s"""WITH ${hashedGdCtes(64, 3)},
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
         |  FROM feat f JOIN milli m USING (bucket)
         |  GROUP BY f.doc_id),
         |ev AS (
         |  SELECT dd.source, d.y,
         |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
         |      AS logit
         |  FROM docs d JOIN sc USING (doc_id)
         |  JOIN documents dd USING (doc_id)),
         |g AS (
         |  SELECT source, logit AS s,
         |    CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(SUM(y) AS BIGINT) AS pos
         |  FROM ev GROUP BY source, logit),
         |c AS (
         |  SELECT source, s, cnt, pos,
         |    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS ccnt,
         |    CAST(SUM(pos) OVER (PARTITION BY source ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cpos
         |  FROM g),
         |tm AS (
         |  SELECT source, s,
         |    ((pos * cpos) // ccnt) * 1000000000
         |      + (((pos * cpos) % ccnt) * 1000000000) // ccnt
         |      AS term_u
         |  FROM c WHERE pos > 0),
         |f AS (
         |  SELECT source, CAST(SUM(term_u) AS BIGINT) AS tsum
         |  FROM tm GROUP BY source),
         |a AS (
         |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |    CAST(SUM(pos) AS BIGINT) AS n_pos,
         |    CAST(SUM(cnt - pos) AS BIGINT) AS n_neg
         |  FROM g GROUP BY source)
         |SELECT a.source, n_rows, CAST(0 AS BIGINT) AS n_unknown,
         |  n_pos, n_neg,
         |  CASE WHEN n_pos = 0 THEN NULL
         |    ELSE CAST(f.tsum AS DOUBLE) / (1000000000.0 * n_pos) END
         |    AS pr_auc
         |FROM a LEFT JOIN f USING (source) ORDER BY source""".stripMargin,

    // exact Mann–Whitney AUC per source: rank prefix sums over
    // distinct logits in half-rank integer units, one division
    "t41_auc" ->
      s"""WITH ${hashedGdCtes(64, 3)},
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
         |  FROM feat f JOIN milli m USING (bucket)
         |  GROUP BY f.doc_id),
         |ev AS (
         |  SELECT dd.source, d.y,
         |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
         |      AS logit
         |  FROM docs d JOIN sc USING (doc_id)
         |  JOIN documents dd USING (doc_id)),
         |g AS (
         |  SELECT source, logit AS s,
         |    CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(SUM(y) AS BIGINT) AS pos
         |  FROM ev GROUP BY source, logit),
         |c AS (
         |  SELECT source, cnt, pos,
         |    CAST(COALESCE(SUM(cnt) OVER (PARTITION BY source
         |      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM g),
         |a AS (
         |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |    CAST(SUM(pos) AS BIGINT) AS n_pos,
         |    CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
         |    CAST(SUM(pos * (2 * cum + cnt + 1)) AS BIGINT) AS sr2
         |  FROM c GROUP BY source)
         |SELECT source, n_rows, CAST(0 AS BIGINT) AS n_unknown,
         |  n_pos, n_neg,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
         |    ELSE CAST(sr2 - n_pos * (n_pos + 1) AS DOUBLE)
         |      / (2 * n_pos * n_neg)
         |  END AS auc
         |FROM a ORDER BY source""".stripMargin,

    "t36_threshold_sweep" -> {
      val blocks = Seq(-0.5, -0.1, 0.0, 0.1, 0.5).map { t =>
        s"""  SELECT CAST($t AS DOUBLE) AS threshold,
           |    COUNT(*) AS n_rows,
           |    count(CASE WHEN y IS NULL OR logit IS NULL THEN 1 END)
           |      AS n_unknown,
           |    count(CASE WHEN logit > $t AND y = 1 THEN 1 END) AS tp,
           |    count(CASE WHEN logit > $t AND y = 0 THEN 1 END) AS fp,
           |    count(CASE WHEN NOT (logit > $t) AND y = 1 THEN 1 END)
           |      AS fn,
           |    count(CASE WHEN NOT (logit > $t) AND y = 0 THEN 1 END)
           |      AS tn
           |  FROM ev""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH ${hashedGdCtes(64, 3)},
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
         |  FROM feat f JOIN milli m USING (bucket)
         |  GROUP BY f.doc_id),
         |ev AS (
         |  SELECT d.y,
         |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
         |      AS logit
         |  FROM docs d JOIN sc USING (doc_id)),
         |cm AS (
         |$blocks
         |)
         |SELECT threshold, n_rows, n_unknown, tp, fp, fn, tn,
         |  CASE WHEN tp + fp + fn + tn = 0 THEN NULL
         |    ELSE CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)
         |  END AS accuracy,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |    ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
         |  END AS f1
         |FROM cm ORDER BY threshold""".stripMargin
    },

    "t40_threshold_sweep_by" -> {
      val blocks = Seq(-0.1, 0.0, 0.1).map { t =>
        s"""  SELECT source, CAST($t AS DOUBLE) AS threshold,
           |    COUNT(*) AS n_rows,
           |    count(CASE WHEN y IS NULL OR logit IS NULL THEN 1 END)
           |      AS n_unknown,
           |    count(CASE WHEN logit > $t AND y = 1 THEN 1 END) AS tp,
           |    count(CASE WHEN logit > $t AND y = 0 THEN 1 END) AS fp,
           |    count(CASE WHEN NOT (logit > $t) AND y = 1 THEN 1 END)
           |      AS fn,
           |    count(CASE WHEN NOT (logit > $t) AND y = 0 THEN 1 END)
           |      AS tn
           |  FROM ev GROUP BY source""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH ${hashedGdCtes(64, 3)},
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
         |  FROM feat f JOIN milli m USING (bucket)
         |  GROUP BY f.doc_id),
         |ev AS (
         |  SELECT dd.source, d.y,
         |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
         |      AS logit
         |  FROM docs d JOIN sc USING (doc_id)
         |  JOIN documents dd USING (doc_id)),
         |cm AS (
         |$blocks
         |)
         |SELECT source, threshold, n_rows, n_unknown, tp, fp, fn, tn,
         |  CASE WHEN tp + fp + fn + tn = 0 THEN NULL
         |    ELSE CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)
         |  END AS accuracy,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |    ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
         |  END AS f1
         |FROM cm ORDER BY source, threshold""".stripMargin
    },

    // the keyed pick over the t40 sweep: per source, max recall at
    // the precision >= 0.5 floor (ties -> higher precision, then
    // lower threshold — the chooseThreshold lexicographic order);
    // infeasible sources read NULL via the left join
    "t46_choose_thresholds" -> {
      val blocks = Seq(-0.1, 0.0, 0.1).map { t =>
        s"""  SELECT source, CAST($t AS DOUBLE) AS threshold,
           |    count(CASE WHEN logit > $t AND y = 1 THEN 1 END) AS tp,
           |    count(CASE WHEN logit > $t AND y = 0 THEN 1 END) AS fp,
           |    count(CASE WHEN NOT (logit > $t) AND y = 1 THEN 1 END)
           |      AS fn
           |  FROM ev GROUP BY source""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH ${hashedGdCtes(64, 3)},
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
         |  FROM feat f JOIN milli m USING (bucket)
         |  GROUP BY f.doc_id),
         |ev AS (
         |  SELECT dd.source, d.y,
         |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
         |      AS logit
         |  FROM docs d JOIN sc USING (doc_id)
         |  JOIN documents dd USING (doc_id)),
         |cm AS (
         |$blocks
         |),
         |pr AS (
         |  SELECT source, threshold,
         |    CASE WHEN tp + fp = 0 THEN NULL
         |      ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
         |    CASE WHEN tp + fn = 0 THEN NULL
         |      ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall
         |  FROM cm),
         |pick AS (
         |  SELECT source, threshold,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY recall DESC, precision DESC, threshold ASC)
         |      AS rk
         |  FROM pr
         |  WHERE precision IS NOT NULL AND recall IS NOT NULL
         |    AND precision >= 0.5),
         |srcs AS (SELECT DISTINCT source FROM cm)
         |SELECT s.source, p.threshold
         |FROM srcs s LEFT JOIN
         |  (SELECT source, threshold FROM pick WHERE rk = 1) p
         |  USING (source)
         |ORDER BY s.source""".stripMargin
    },

    // the minRecall arm: max precision at the recall >= 0.5 floor,
    // ties -> higher recall then lower threshold — the mirrored
    // lexicographic pick over the same per-source sweep
    "t48_choose_thresholds_recall" -> {
      val blocks = Seq(-0.1, 0.0, 0.1).map { t =>
        s"""  SELECT source, CAST($t AS DOUBLE) AS threshold,
           |    count(CASE WHEN logit > $t AND y = 1 THEN 1 END) AS tp,
           |    count(CASE WHEN logit > $t AND y = 0 THEN 1 END) AS fp,
           |    count(CASE WHEN NOT (logit > $t) AND y = 1 THEN 1 END)
           |      AS fn
           |  FROM ev GROUP BY source""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH ${hashedGdCtes(64, 3)},
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
         |  FROM feat f JOIN milli m USING (bucket)
         |  GROUP BY f.doc_id),
         |ev AS (
         |  SELECT dd.source, d.y,
         |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
         |      AS logit
         |  FROM docs d JOIN sc USING (doc_id)
         |  JOIN documents dd USING (doc_id)),
         |cm AS (
         |$blocks
         |),
         |pr AS (
         |  SELECT source, threshold,
         |    CASE WHEN tp + fp = 0 THEN NULL
         |      ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
         |    CASE WHEN tp + fn = 0 THEN NULL
         |      ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall
         |  FROM cm),
         |pick AS (
         |  SELECT source, threshold,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY precision DESC, recall DESC, threshold ASC)
         |      AS rk
         |  FROM pr
         |  WHERE precision IS NOT NULL AND recall IS NOT NULL
         |    AND recall >= 0.5),
         |srcs AS (SELECT DISTINCT source FROM cm)
         |SELECT s.source, p.threshold
         |FROM srcs s LEFT JOIN
         |  (SELECT source, threshold FROM pick WHERE rk = 1) p
         |  USING (source)
         |ORDER BY s.source""".stripMargin
    },

    // per-source Platt calibration: the keyed GD recursion replayed
    // per group (ab0..ab3 keyed on source, updates over the group's
    // own n), then every per-doc probability through the group's
    // (a, b)
    "t47_calibrate_by" ->
      s"""WITH $plattByCtes
         |SELECT e.doc_id, e.source, e.logit, ${calSg(calM)} AS prob,
         |  ${calSg(calM)} > 0.5 AS keep_calibrated
         |FROM ev e JOIN ab3 ab USING (source)
         |ORDER BY e.doc_id""".stripMargin,

    // the ROC curve table: per-source descending tie-block prefix
    // sums over distinct logits (tp/fp at or above each score), one
    // division each for tpr/fpr
    "t49_roc_curve" ->
      s"""WITH ${hashedGdCtes(64, 3)},
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
         |  FROM feat f JOIN milli m USING (bucket)
         |  GROUP BY f.doc_id),
         |ev AS (
         |  SELECT dd.source, d.y,
         |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
         |      AS logit
         |  FROM docs d JOIN sc USING (doc_id)
         |  JOIN documents dd USING (doc_id)),
         |g AS (
         |  SELECT source, logit AS s,
         |    CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(SUM(y) AS BIGINT) AS pos
         |  FROM ev GROUP BY source, logit),
         |c AS (
         |  SELECT source, s,
         |    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS ccnt,
         |    CAST(SUM(pos) OVER (PARTITION BY source ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cpos
         |  FROM g),
         |tot AS (
         |  SELECT source, CAST(SUM(pos) AS BIGINT) AS np,
         |    CAST(SUM(cnt - pos) AS BIGINT) AS nn
         |  FROM g GROUP BY source)
         |SELECT c.source, c.s AS score, c.cpos AS tp,
         |  c.ccnt - c.cpos AS fp,
         |  CASE WHEN t.np = 0 THEN NULL
         |    ELSE CAST(c.cpos AS DOUBLE) / t.np END AS tpr,
         |  CASE WHEN t.nn = 0 THEN NULL
         |    ELSE CAST(c.ccnt - c.cpos AS DOUBLE) / t.nn END AS fpr
         |FROM c JOIN tot t USING (source)
         |ORDER BY source, score""".stripMargin,

    // the PR curve table: same prefix sums, precision through the
    // tie block and recall against the source's positive total
    "t50_pr_curve" ->
      s"""WITH ${hashedGdCtes(64, 3)},
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
         |  FROM feat f JOIN milli m USING (bucket)
         |  GROUP BY f.doc_id),
         |ev AS (
         |  SELECT dd.source, d.y,
         |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
         |      AS logit
         |  FROM docs d JOIN sc USING (doc_id)
         |  JOIN documents dd USING (doc_id)),
         |g AS (
         |  SELECT source, logit AS s,
         |    CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(SUM(y) AS BIGINT) AS pos
         |  FROM ev GROUP BY source, logit),
         |c AS (
         |  SELECT source, s,
         |    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS ccnt,
         |    CAST(SUM(pos) OVER (PARTITION BY source ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cpos
         |  FROM g),
         |tot AS (
         |  SELECT source, CAST(SUM(pos) AS BIGINT) AS np
         |  FROM g GROUP BY source)
         |SELECT c.source, c.s AS score, c.cpos AS tp,
         |  c.ccnt AS n_kept,
         |  CAST(c.cpos AS DOUBLE) / c.ccnt AS precision,
         |  CASE WHEN t.np = 0 THEN NULL
         |    ELSE CAST(c.cpos AS DOUBLE) / t.np END AS recall
         |FROM c JOIN tot t USING (source)
         |ORDER BY source, score""".stripMargin,

    // the keyed picks applied as the keep filter: replay the
    // per-source pick (t46 machinery), inner-join each doc against
    // its source's chosen threshold (unpicked sources drop — the
    // gate's dropUnpicked spelling)
    "t51_apply_thresholds" -> {
      val blocks = Seq(-0.1, 0.0, 0.1).map { t =>
        s"""  SELECT source, CAST($t AS DOUBLE) AS threshold,
           |    count(CASE WHEN logit > $t AND y = 1 THEN 1 END) AS tp,
           |    count(CASE WHEN logit > $t AND y = 0 THEN 1 END) AS fp,
           |    count(CASE WHEN NOT (logit > $t) AND y = 1 THEN 1 END)
           |      AS fn
           |  FROM ev GROUP BY source""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH ${hashedGdCtes(64, 3)},
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
         |  FROM feat f JOIN milli m USING (bucket)
         |  GROUP BY f.doc_id),
         |ev AS (
         |  SELECT d.doc_id, dd.source, d.y,
         |    CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens)
         |      AS logit
         |  FROM docs d JOIN sc USING (doc_id)
         |  JOIN documents dd USING (doc_id)),
         |cm AS (
         |$blocks
         |),
         |pr AS (
         |  SELECT source, threshold,
         |    CASE WHEN tp + fp = 0 THEN NULL
         |      ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
         |    CASE WHEN tp + fn = 0 THEN NULL
         |      ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall
         |  FROM cm),
         |pick AS (
         |  SELECT source, threshold,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY recall DESC, precision DESC, threshold ASC)
         |      AS rk
         |  FROM pr
         |  WHERE precision IS NOT NULL AND recall IS NOT NULL
         |    AND precision >= 0.05),
         |chosen AS (SELECT source, threshold FROM pick WHERE rk = 1)
         |SELECT e.doc_id, e.source, e.logit
         |FROM ev e JOIN chosen c
         |  ON e.source = c.source AND e.logit > c.threshold
         |ORDER BY e.doc_id""".stripMargin
    },

    // per-source Brier of the calibrated probabilities: both
    // trainings replayed, then the micro-unit quantized squared
    // errors summed per source and divided once
    "t52_brier_by" ->
      s"""WITH $plattCtes,
         |pr AS (
         |  SELECT dd.source, e.y, ${calSg(calM)} AS prob
         |  FROM ev e JOIN documents dd USING (doc_id), ab3 ab)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(0 AS BIGINT) AS n_unknown,
         |  CAST(SUM(CAST(floor((prob - y) * (prob - y) * 1000000.0
         |    + 0.5) AS BIGINT)) AS DOUBLE)
         |    / (1000000.0 * COUNT(*)) AS brier
         |FROM pr GROUP BY source ORDER BY source""".stripMargin,

    "t35_classifier_eval" ->
      s"""WITH ${hashedGdCtes(64, 3)},
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(m.weight_milli) AS BIGINT) AS score_milli
         |  FROM feat f JOIN milli m USING (bucket)
         |  GROUP BY f.doc_id),
         |ev AS (
         |  SELECT dd.source, d.y,
         |    (CAST(sc.score_milli AS DOUBLE) / (1000.0 * d.n_tokens))
         |      > 0 AS keep
         |  FROM docs d JOIN sc USING (doc_id)
         |  JOIN documents dd USING (doc_id)),
         |cm AS (
         |  SELECT source, COUNT(*) AS n_rows,
         |    count(CASE WHEN y IS NULL OR keep IS NULL THEN 1 END)
         |      AS n_unknown,
         |    count(CASE WHEN keep AND y = 1 THEN 1 END) AS tp,
         |    count(CASE WHEN keep AND y = 0 THEN 1 END) AS fp,
         |    count(CASE WHEN NOT keep AND y = 1 THEN 1 END) AS fn,
         |    count(CASE WHEN NOT keep AND y = 0 THEN 1 END) AS tn
         |  FROM ev GROUP BY source)
         |SELECT source, n_rows, n_unknown, tp, fp, fn, tn,
         |  CASE WHEN tp + fp + fn + tn = 0 THEN NULL
         |    ELSE CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)
         |  END AS accuracy,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |    ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
         |  END AS f1
         |FROM cm ORDER BY source""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  CAST(round(CAST(sum(l_quantity) AS BIGINT) * 10000.0 / count(*),
        |    0) AS BIGINT) / 10000.0 AS avg_qty,
        |  CAST(round(sum(CAST(round(l_discount * 100, 0) AS BIGINT)) * 100.0
        |    / count(*), 0) AS BIGINT) / 10000.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount > 0.05 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q3_join_agg" ->
      """SELECT n_name, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q4_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q5_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q6_topk" ->
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q7_window_tumbling" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |  epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS window_end_ms,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY window_start_ms, event_type""".stripMargin,

    "q8_window_sliding" ->
      """SELECT ws_ms AS window_start_ms, ws_ms + 3600000 AS window_end_ms,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM (
        |  SELECT e.*, (epoch_ms(e.ts) // 1800000 - k.k) * 1800000 AS ws_ms
        |  FROM events e CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) k
        |) sub
        |WHERE epoch_ms(ts) >= ws_ms AND epoch_ms(ts) < ws_ms + 3600000
        |GROUP BY ws_ms, event_type
        |ORDER BY window_start_ms, event_type""".stripMargin,

    "q9_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), g AS (
        |  SELECT *, sum(new_s) OVER
        |    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
        |  epoch_ms(max(ts)) + 1800000 AS session_end_ms,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin,

    "q10_analytic" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER w AS rn,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
        |    AS price_rank,
        |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
        |  round(sum(o_totalprice) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING), 2) AS running_total,
        |  round(first_value(o_totalprice) OVER w, 2) AS first_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q11_distinct_agg" ->
      """SELECT l_linestatus, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_returnflag) AS n_flags, count(*) AS n_rows
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q12_scalar_battery" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
        |  substring(p_name, 1, 5) AS sub5, length(p_name) AS len,
        |  concat_ws('-', p_brand, p_type) AS bt,
        |  regexp_replace(p_type, ' ', '_', 'g') AS ty_us,
        |  lpad(p_brand, 12, '*') AS pad, reverse(p_name) AS rev,
        |  strpos(p_name, 'a') AS pos_a,
        |  levenshtein(p_brand, p_type) AS lev,
        |  translate(p_name, 'aeiou', 'AEIOU') AS tr, md5(p_name) AS h,
        |  abs(p_size - 25) AS sz_off, round(sqrt(p_retailprice), 8) AS sq,
        |  round(pow(p_size, 2), 2) AS sz2,
        |  round(ln(p_retailprice), 6) AS ln_price,
        |  round(exp(p_size / 10.0), 6) AS ex
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q13_conditional" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' THEN 'done'
        |       WHEN o_orderstatus = 'O' THEN 'open'
        |       ELSE 'other' END AS status_label,
        |  coalesce(nullif(o_orderpriority, '3-MEDIUM'), 'DEFAULT') AS prio,
        |  CAST(o_orderstatus IN ('F', 'P') AS INTEGER) AS is_closed_ish,
        |  greatest(o_totalprice, 250000.0) AS floor_price,
        |  least(o_totalprice, 250000.0) AS cap_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q14_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q15_setops" ->
      """((SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'error')
        | EXCEPT
        | SELECT user_id FROM events WHERE event_type = 'click'
        |   AND user_id % 7 = 0)
        |UNION
        |SELECT user_id FROM events WHERE user_id < 0
        |ORDER BY user_id""".stripMargin,

    "q16_theta_join" ->
      """SELECT n1.n_name AS name1, n2.n_name AS name2,
        |  n1.n_regionkey AS region
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey
        | AND n1.n_nationkey < n2.n_nationkey
        |ORDER BY name1, name2""".stripMargin,

    "q17_nested_struct" ->
      """SELECT event_id, value AS speed, event_type AS ty
        |FROM events WHERE value > 400 ORDER BY event_id""".stripMargin,

    "q18_date_functions" ->
      """SELECT o_orderkey,
        |  CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
        |  CAST(date_part('month', o_orderdate) AS INTEGER) AS mo,
        |  CAST(date_part('day', o_orderdate) AS INTEGER) AS dom,
        |  epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
        |    AS INTEGER) AS days_to_2002,
        |  epoch_ms(o_orderdate + INTERVAL 30 DAY) AS plus30_ms
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q19_datastream_pipeline" ->
      """SELECT event_type, count(*) AS n,
        |  round(min(value), 2) AS min_v, round(max(value), 2) AS max_v,
        |  CAST(round(sum(CAST(round(value * 100, 0) AS BIGINT)) * 100.0
        |    / count(*), 0) AS BIGINT) / 10000.0 AS avg_v,
        |  epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |  epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS window_end_ms
        |FROM events WHERE value > 10
        |GROUP BY event_type, date_trunc('hour', ts)
        |ORDER BY window_start_ms, event_type""".stripMargin,

    "q20_collect" ->
      """SELECT l_returnflag,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
        |    AS statuses,
        |  count(DISTINCT l_linestatus) AS n_statuses
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q21_stats" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_pop(l_quantity, l_extendedprice), 4) AS covp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covs,
        |  round(stddev_pop(l_quantity), 6) AS sdp,
        |  round(stddev_samp(l_quantity), 6) AS sds,
        |  round(var_pop(l_quantity), 6) AS vp,
        |  round(var_samp(l_quantity), 6) AS vs,
        |  round(median(l_quantity), 4) AS med_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q22_date_bin" ->
      """SELECT (epoch_ms(ts) // 900000) * 900000 AS bin_ms, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY bin_ms""".stripMargin,

    "q24_global_window" ->
      """SELECT (epoch_ms(ts) // 21600000) * 21600000 AS window_start_ms,
        |  count(*) AS n, round(sum(value), 2) AS total,
        |  round(min(value), 2) AS mn, round(max(value), 2) AS mx
        |FROM events GROUP BY 1 ORDER BY window_start_ms""".stripMargin,

    "q23_asof_join" ->
      """SELECT p.event_id AS pid, epoch_ms(p.ts) AS pts_ms,
        |  CASE WHEN c.ts >= p.ts - INTERVAL 1 DAY
        |       THEN c.event_id END AS cid,
        |  CASE WHEN c.ts >= p.ts - INTERVAL 1 DAY
        |       THEN epoch_ms(c.ts) END AS cts_ms
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY pid""".stripMargin,

    "q33_asof_forward" ->
      """SELECT p.event_id AS pid, epoch_ms(p.ts) AS pts_ms,
        |  CASE WHEN c.ts <= p.ts + INTERVAL 1 DAY
        |       THEN c.event_id END AS cid,
        |  CASE WHEN c.ts <= p.ts + INTERVAL 1 DAY
        |       THEN epoch_ms(c.ts) END AS cts_ms
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts >= p.ts
        |ORDER BY pid""".stripMargin,

    "q25_window_battery" ->
      """SELECT o_custkey, o_orderkey,
        |  dense_rank() OVER wp AS drank,
        |  round(percent_rank() OVER wp, 6) AS prank,
        |  round(cume_dist() OVER wp, 6) AS cdist,
        |  ntile(4) OVER wd AS quartile,
        |  nth_value(o_totalprice, 2) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS second_price
        |FROM orders
        |WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC),
        |       wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q26_agg_battery" ->
      """SELECT l_returnflag,
        |  CAST(bit_and(l_linenumber) AS BIGINT) AS ba,
        |  CAST(bit_or(l_linenumber) AS BIGINT) AS bo,
        |  CAST(bit_xor(l_linenumber) AS BIGINT) AS bx,
        |  bool_and(l_quantity > 1) AS all_q,
        |  bool_or(l_discount > 0.09) AS any_d,
        |  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS acd_status,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
        |    AS statuses
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "d1_dedup_groups" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
        |  count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin,

    "d2_dedup_dropdups" ->
      """SELECT doc_id, source FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        |ORDER BY doc_id""".stripMargin,

    "d3_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(0, len(toks) - 2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))) END AS s
        |  FROM (SELECT doc_id, lang,
        |          regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\v\f\r]+') AS toks
        |        FROM documents)
        |)
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s))::DOUBLE /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.1
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    "d4_minhash_pairs" ->
      """WITH du AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    regexp_replace(text, 'the', 'thee', 'g') FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(0, len(toks) - 2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))) END AS s
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\v\f\r]+') AS toks
        |        FROM du)
        |),
        |inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ni
        |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT d1, d2, ni::DOUBLE / (sa.n + sb.n - ni) AS jac
        |  FROM cand JOIN sizes sa ON sa.doc_id = d1
        |            JOIN sizes sb ON sb.doc_id = d2)
        |SELECT d1 AS doc_id_1, d2 AS doc_id_2, round(jac, 6) AS jaccard
        |FROM j WHERE jac >= 0.5 ORDER BY doc_id_1, doc_id_2""".stripMargin,

    "d5_simhash_pairs" ->
      """WITH du AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    regexp_replace(text, 'the', 'thee', 'g') FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+')) AS tok
        |  FROM du),
        |th AS (SELECT doc_id, md5(tok) AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, k,
        |    sum(CASE WHEN ((strpos('0123456789abcdef',
        |        substring(h, CAST(k // 4 + 1 AS INT), 1)) - 1)
        |        >> CAST(3 - k % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS k) ks
        |  GROUP BY doc_id, k),
        |sigs AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
        |      ORDER BY k) AS sig
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    len(list_filter(range(1, 65), i ->
        |      substring(a.sig, CAST(i AS INT), 1) !=
        |      substring(b.sig, CAST(i AS INT), 1))) AS hamming
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
        |SELECT doc_id_1, doc_id_2, CAST(hamming AS INT) AS hamming
        |FROM pairs WHERE hamming <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    // the d5 pair recipe closed transitively: component = min
    // reachable id via a recursive CTE (UNION, not UNION ALL — the
    // undirected edge set has cycles)
    "d8_dup_components" -> dupComponentsClosureSql,

    // star-contraction algorithm, identical contract → identical oracle
    "d13_dup_components_star" -> dupComponentsClosureSql,

    "d10_decontaminate" -> decontaminateSql,

    // bit-identical to d10 by the no-false-negative argument; a
    // distinct gate so the Bloom composition itself is hash-checked
    "d17_bloom_decontaminate" -> decontaminateSql,

    // per-document distinct 13-gram counts vs the d14 reference
    // slices, rebuilt exactly in DuckDB
    "d18_overlap_frac" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS toks
        |  FROM documents),
        |ref AS (
        |  SELECT regexp_split_to_array(array_to_string(toks[5:25], ' '),
        |    '[ \t\n\v\f\r]+') AS toks
        |  FROM tok WHERE doc_id % 7 = 0 AND len(toks) >= 25),
        |refg AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 13
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 12),
        |        i -> array_to_string(toks[i+1:i+13], ' ')) END) AS g
        |    FROM ref)),
        |cg AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(toks) < 13
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 12),
        |        i -> array_to_string(toks[i+1:i+13], ' ')) END) AS g
        |    FROM tok))
        |SELECT c.doc_id, count(*) AS total_grams,
        |  CAST(sum(CASE WHEN r.g IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hit_grams,
        |  round(CAST(sum(CASE WHEN r.g IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS overlap_frac
        |FROM cg c LEFT JOIN refg r ON c.g = r.g
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // d8's closure labeled back onto the corpus (singletons = own
    // label), then the two-level size histogram
    "d19_cluster_stats" ->
      (dupComponentsClosureCte + ",\n" +
        """comp AS (
          |  SELECT src AS doc_id, least(src, min(dst)) AS component
          |  FROM reach GROUP BY src),
          |lab AS (
          |  SELECT du.doc_id,
          |    coalesce(c.component, du.doc_id) AS comp
          |  FROM du LEFT JOIN comp c ON du.doc_id = c.doc_id),
          |cs AS (
          |  SELECT comp, count(*) AS cluster_size FROM lab
          |  GROUP BY comp)
          |SELECT cluster_size, count(*) AS n_clusters,
          |  cluster_size * count(*) AS n_docs
          |FROM cs GROUP BY cluster_size
          |ORDER BY cluster_size""".stripMargin),

    // d8's closure anti-joined back onto the corpus: keep singletons
    // and each cluster's minimum id
    "d9_drop_neardups" ->
      """WITH RECURSIVE du AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    regexp_replace(text, 'the', 'thee', 'g'), lang
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+')) AS tok
        |  FROM du),
        |th AS (SELECT doc_id, md5(tok) AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, k,
        |    sum(CASE WHEN ((strpos('0123456789abcdef',
        |        substring(h, CAST(k // 4 + 1 AS INT), 1)) - 1)
        |        >> CAST(3 - k % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS k) ks
        |  GROUP BY doc_id, k),
        |sigs AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
        |      ORDER BY k) AS sig
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i ->
        |      substring(a.sig, CAST(i AS INT), 1) !=
        |      substring(b.sig, CAST(i AS INT), 1))) <= 3),
        |edges AS (
        |  SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
        |  UNION SELECT doc_id_2, doc_id_1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src)
        |SELECT du.doc_id, du.lang
        |FROM du LEFT JOIN comp ON du.doc_id = comp.doc_id
        |WHERE comp.doc_id IS NULL OR comp.component = du.doc_id
        |ORDER BY du.doc_id""".stripMargin,

    // d9's closure with the longer-mutant fixture (text || ' zz'),
    // keeping per component the max-token-count row (ties → min id)
    "d15_keep_best_neardups" ->
      """WITH RECURSIVE du AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' zz', lang
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+')) AS tok
        |  FROM du),
        |th AS (SELECT doc_id, md5(tok) AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, k,
        |    sum(CASE WHEN ((strpos('0123456789abcdef',
        |        substring(h, CAST(k // 4 + 1 AS INT), 1)) - 1)
        |        >> CAST(3 - k % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS k) ks
        |  GROUP BY doc_id, k),
        |sigs AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
        |      ORDER BY k) AS sig
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i ->
        |      substring(a.sig, CAST(i AS INT), 1) !=
        |      substring(b.sig, CAST(i AS INT), 1))) <= 3),
        |edges AS (
        |  SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
        |  UNION SELECT doc_id_2, doc_id_1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src),
        |nt AS (
        |  SELECT doc_id, len(regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+')) AS ntok
        |  FROM du),
        |ranked AS (
        |  SELECT c.doc_id, row_number() OVER (PARTITION BY c.component
        |    ORDER BY n.ntok DESC, c.doc_id) AS rn
        |  FROM comp c JOIN nt n ON c.doc_id = n.doc_id)
        |SELECT du.doc_id, du.lang
        |FROM du LEFT JOIN ranked ON du.doc_id = ranked.doc_id
        |WHERE ranked.doc_id IS NULL OR ranked.rn = 1
        |ORDER BY du.doc_id""".stripMargin,

    // exact gram-set reconstruction: reference = tokens 5..25 of every
    // 7th (>=25-token) doc; a corpus doc is contaminated iff it shares
    // a 13-gram (whole text when shorter) with any reference slice
    "d14_ngram_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS toks
        |  FROM documents),
        |ref AS (
        |  SELECT regexp_split_to_array(array_to_string(toks[5:25], ' '),
        |    '[ \t\n\v\f\r]+') AS toks
        |  FROM tok WHERE doc_id % 7 = 0 AND len(toks) >= 25),
        |refg AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 13
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 12),
        |        i -> array_to_string(toks[i+1:i+13], ' ')) END) AS g
        |    FROM ref)),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(toks) < 13
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(0, len(toks) - 12),
        |        i -> array_to_string(toks[i+1:i+13], ' ')) END) AS g
        |    FROM tok) c
        |  WHERE g IN (SELECT g FROM refg))
        |SELECT t.doc_id, t.lang FROM tok t
        |WHERE t.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY t.doc_id""".stripMargin,

    "d7_simhash128_pairs" ->
      """WITH du AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    regexp_replace(text, 'the', 'thee', 'g') FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+')) AS tok
        |  FROM du),
        |th AS (SELECT doc_id, md5(tok) AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, k,
        |    sum(CASE WHEN ((strpos('0123456789abcdef',
        |        substring(h, CAST(k // 4 + 1 AS INT), 1)) - 1)
        |        >> CAST(3 - k % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 128)) AS k) ks
        |  GROUP BY doc_id, k),
        |sigs AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
        |      ORDER BY k) AS sig
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    len(list_filter(range(1, 129), i ->
        |      substring(a.sig, CAST(i AS INT), 1) !=
        |      substring(b.sig, CAST(i AS INT), 1))) AS hamming
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
        |SELECT doc_id_1, doc_id_2, CAST(hamming AS INT) AS hamming
        |FROM pairs WHERE hamming <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    "d6_embedding_neardup" ->
      """SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]), 6) AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE a.vec_id < 1000 AND b.vec_id < 1000
        |  AND round(list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]), 6) >= 0.35
        |ORDER BY vec_id_1, vec_id_2""".stripMargin,

    // exact all-pairs at the threshold — the LSH query must reproduce
    // it exactly (recall 1 at the fixture's angle gap, see the query)
    "d11_embedding_neardup_lsh" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |           FROM embeddings),
        |mut AS (SELECT vec_id + 1000000 AS vec_id,
        |  list_prepend(emb[1] + 0.015625, emb[2:]) AS emb FROM e),
        |du AS (SELECT * FROM e UNION ALL SELECT * FROM mut)
        |SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        |  round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
        |FROM du a JOIN du b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.9
        |ORDER BY vec_id_1, vec_id_2""".stripMargin,

    "d16_semantic_dedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |du AS (
        |  SELECT vec_id, label, emb FROM e
        |  UNION ALL
        |  SELECT vec_id + 1000000, label,
        |    list_prepend(emb[1] + 0.015625, emb[2:]) FROM e
        |  UNION ALL
        |  SELECT vec_id - 1000000, label,
        |    list_prepend(emb[1] + 0.03125, emb[2:]) FROM e
        |  WHERE vec_id % 7 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM du a JOIN du b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.9),
        |edges AS (
        |  SELECT v1 AS src, v2 AS dst FROM pairs
        |  UNION SELECT v2, v1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN edges e2
        |  ON r.dst = e2.src),
        |comp AS (
        |  SELECT src AS vec_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src)
        |SELECT du.vec_id, du.label
        |FROM du LEFT JOIN comp ON du.vec_id = comp.vec_id
        |WHERE comp.vec_id IS NULL OR comp.component = du.vec_id
        |ORDER BY du.vec_id""".stripMargin,

    // the d5 signature recipe, cross-corpus: corpus signatures vs a
    // salted-sample near-mutated reference, every ≤3-hamming pair
    "d12_near_decontaminate" ->
      """WITH du AS (
        |  SELECT 'c' AS side, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 'r', doc_id, regexp_replace(text, 'the', 'thee', 'g')
        |  FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR) || chr(0) ||
        |    'sample'), 1, 8) < '4ccccccc'),
        |toks AS (
        |  SELECT side, doc_id, unnest(regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+')) AS tok
        |  FROM du),
        |th AS (SELECT side, doc_id, md5(tok) AS h FROM toks),
        |bits AS (
        |  SELECT side, doc_id, k,
        |    sum(CASE WHEN ((strpos('0123456789abcdef',
        |        substring(h, CAST(k // 4 + 1 AS INT), 1)) - 1)
        |        >> CAST(3 - k % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS k) ks
        |  GROUP BY side, doc_id, k),
        |sigs AS (
        |  SELECT side, doc_id,
        |    string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
        |      ORDER BY k) AS sig
        |  FROM bits GROUP BY side, doc_id),
        |pairs AS (
        |  SELECT c.doc_id, r.doc_id AS ref_rid,
        |    len(list_filter(range(1, 65), i ->
        |      substring(c.sig, CAST(i AS INT), 1) !=
        |      substring(r.sig, CAST(i AS INT), 1))) AS hamming
        |  FROM (SELECT doc_id, sig FROM sigs WHERE side = 'c') c
        |  CROSS JOIN (SELECT doc_id, sig FROM sigs WHERE side = 'r') r)
        |SELECT doc_id, ref_rid, CAST(hamming AS INT) AS hamming
        |FROM pairs WHERE hamming <= 3
        |ORDER BY doc_id, ref_rid""".stripMargin,

    // exact NOT EXISTS over every (corpus, reference) cosine — the
    // LSH query must reproduce it exactly (recall 1 at the d11 angle
    // gap; see the query comment)
    "d20_semantic_decontaminate" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
        |           FROM embeddings),
        |ref AS (SELECT list_prepend(emb[1] + 0.015625, emb[2:]) AS emb
        |        FROM e WHERE vec_id % 3 = 0)
        |SELECT c.vec_id, c.label FROM e c
        |WHERE NOT EXISTS (SELECT 1 FROM ref r
        |  WHERE round(list_cosine_similarity(c.emb, r.emb), 6) >= 0.9)
        |ORDER BY vec_id""".stripMargin,

    "s15_recall_report" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe),
        |      6) AS cos,
        |    round(list_inner_product(e.embedding::DOUBLE[], q.qe), 6)
        |      AS dot
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
        |exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS r FROM scored)
        |  WHERE r <= 5),
        |approx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot DESC, neighbor_id) AS r FROM scored)
        |  WHERE r <= 5),
        |per AS (
        |  SELECT e.query_id, count(*) AS n_exact,
        |    count(a.neighbor_id) AS n_hit
        |  FROM exact e LEFT JOIN approx a
        |    ON e.query_id = a.query_id
        |      AND e.neighbor_id = a.neighbor_id
        |  GROUP BY e.query_id)
        |SELECT query_id, n_exact, n_hit,
        |  round(n_hit::DOUBLE / n_exact, 6) AS recall FROM per
        |UNION ALL
        |SELECT NULL, sum(n_exact)::BIGINT, sum(n_hit)::BIGINT,
        |  round(sum(n_hit)::DOUBLE / sum(n_exact), 6) FROM per
        |ORDER BY query_id NULLS LAST""".stripMargin,

    "s1_sim_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |           FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6)
        |      AS cos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cos FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "d35_kmv_distinct" ->
      """SELECT lang, COUNT(DISTINCT text) AS n_distinct
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "d38_distinct_monitor" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |  epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR)
        |    AS window_end_ms,
        |  count(*) AS n_rows,
        |  COUNT(DISTINCT user_id) AS n_distinct,
        |  round(1 - COUNT(DISTINCT user_id)::DOUBLE / count(*), 6)
        |    AS dup_rate
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start_ms""".stripMargin,

    "d46_keyed_distinct_monitor" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |  epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR)
        |    AS window_end_ms,
        |  event_type, count(*) AS n_rows,
        |  COUNT(DISTINCT user_id) AS n_distinct,
        |  round(1 - COUNT(DISTINCT user_id)::DOUBLE / count(*), 6)
        |    AS dup_rate
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY window_start_ms, event_type""".stripMargin,

    "d39_session_distinct_monitor" ->
      """WITH d AS (
        |  SELECT ts, user_id,
        |    CASE WHEN lag(ts) OVER (ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (ORDER BY ts)
        |                >= INTERVAL 15 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT ts, user_id,
        |    sum(brk) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |      AS sid
        |  FROM d),
        |g AS (
        |  SELECT sid, min(ts) AS st, max(ts) AS en,
        |    count(*) AS n_rows, COUNT(DISTINCT user_id) AS n_distinct
        |  FROM s GROUP BY sid)
        |SELECT epoch_ms(st) AS window_start_ms,
        |  epoch_ms(en + INTERVAL 15 MINUTE) AS window_end_ms,
        |  n_rows, n_distinct,
        |  round(1 - n_distinct::DOUBLE / n_rows, 6) AS dup_rate
        |FROM g ORDER BY window_start_ms""".stripMargin,

    "d40_overlap_monitor" ->
      """WITH base AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE epoch_ms(ts) < 1705276800000),
        |g AS (
        |  SELECT date_trunc('day', ts) AS d, count(*) AS n_rows,
        |    COUNT(DISTINCT user_id) AS n_distinct,
        |    COUNT(DISTINCT CASE WHEN user_id IN
        |      (SELECT user_id FROM base) THEN user_id END) AS n_overlap
        |  FROM events GROUP BY 1)
        |SELECT epoch_ms(d) AS window_start_ms,
        |  epoch_ms(d + INTERVAL 1 DAY) AS window_end_ms,
        |  n_rows, n_distinct, n_overlap,
        |  round(n_overlap::DOUBLE / n_distinct, 6) AS overlap_frac
        |FROM g ORDER BY window_start_ms""".stripMargin,

    "d41_drift_monitor" ->
      """WITH base AS (
        |  SELECT value FROM events
        |  WHERE epoch_ms(ts) < 1705276800000 AND value IS NOT NULL),
        |bt AS (SELECT count(*)::DOUBLE AS t FROM base),
        |f AS (SELECT
        |  (SELECT count(*) FROM base WHERE value < 10)::DOUBLE
        |    / (SELECT t FROM bt) AS f0,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 10 AND value < 25)::DOUBLE
        |    / (SELECT t FROM bt) AS f1,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 25 AND value < 50)::DOUBLE
        |    / (SELECT t FROM bt) AS f2,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 50 AND value < 100)::DOUBLE
        |    / (SELECT t FROM bt) AS f3,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 100 AND value < 200)::DOUBLE
        |    / (SELECT t FROM bt) AS f4,
        |  (SELECT count(*) FROM base WHERE value >= 200)::DOUBLE
        |    / (SELECT t FROM bt) AS f5),
        |w AS (SELECT date_trunc('hour', ts) AS ws, count(*) AS n_rows,
        |  count(value) AS nn,
        |  count(*) FILTER (value IS NOT NULL AND value < 10) AS c0,
        |  count(*) FILTER (value >= 10 AND value < 25) AS c1,
        |  count(*) FILTER (value >= 25 AND value < 50) AS c2,
        |  count(*) FILTER (value >= 50 AND value < 100) AS c3,
        |  count(*) FILTER (value >= 100 AND value < 200) AS c4,
        |  count(*) FILTER (value >= 200) AS c5
        |  FROM events GROUP BY 1)
        |SELECT epoch_ms(ws) AS window_start_ms,
        |  epoch_ms(ws + INTERVAL 1 HOUR) AS window_end_ms,
        |  n_rows, n_rows - nn AS n_null,
        |  round((abs(c0::DOUBLE/nn - f0) + abs(c1::DOUBLE/nn - f1)
        |    + abs(c2::DOUBLE/nn - f2) + abs(c3::DOUBLE/nn - f3)
        |    + abs(c4::DOUBLE/nn - f4) + abs(c5::DOUBLE/nn - f5))
        |    * 0.5, 6) AS tvd,
        |  round(greatest(abs(c0::DOUBLE/nn - f0),
        |    abs(c1::DOUBLE/nn - f1), abs(c2::DOUBLE/nn - f2),
        |    abs(c3::DOUBLE/nn - f3), abs(c4::DOUBLE/nn - f4),
        |    abs(c5::DOUBLE/nn - f5)), 6) AS max_shift
        |FROM w, f ORDER BY window_start_ms""".stripMargin,

    "d42_category_drift_monitor" ->
      """WITH base AS (
        |  SELECT event_type FROM events
        |  WHERE epoch_ms(ts) < 1705276800000),
        |bt AS (SELECT count(*)::DOUBLE AS t FROM base),
        |rk AS (SELECT event_type, count(*) AS n,
        |    row_number() OVER (ORDER BY count(*) DESC, event_type)
        |      AS r
        |  FROM base GROUP BY 1),
        |f AS (SELECT
        |  (SELECT event_type FROM rk WHERE r = 1) AS t1,
        |  (SELECT event_type FROM rk WHERE r = 2) AS t2,
        |  (SELECT event_type FROM rk WHERE r = 3) AS t3,
        |  (SELECT n FROM rk WHERE r = 1)::DOUBLE
        |    / (SELECT t FROM bt) AS f1,
        |  (SELECT n FROM rk WHERE r = 2)::DOUBLE
        |    / (SELECT t FROM bt) AS f2,
        |  (SELECT n FROM rk WHERE r = 3)::DOUBLE
        |    / (SELECT t FROM bt) AS f3,
        |  coalesce((SELECT sum(n) FROM rk WHERE r > 3), 0)::DOUBLE
        |    / (SELECT t FROM bt) AS fo),
        |w AS (SELECT date_trunc('hour', ts) AS ws, count(*) AS n_rows,
        |  count(*) FILTER (event_type = (SELECT t1 FROM f)) AS c1,
        |  count(*) FILTER (event_type = (SELECT t2 FROM f)) AS c2,
        |  count(*) FILTER (event_type = (SELECT t3 FROM f)) AS c3
        |  FROM events GROUP BY 1)
        |SELECT epoch_ms(ws) AS window_start_ms,
        |  epoch_ms(ws + INTERVAL 1 HOUR) AS window_end_ms,
        |  n_rows, CAST(0 AS BIGINT) AS n_null,
        |  round((abs(c1::DOUBLE/n_rows - f1)
        |    + abs(c2::DOUBLE/n_rows - f2)
        |    + abs(c3::DOUBLE/n_rows - f3)
        |    + abs((n_rows - c1 - c2 - c3)::DOUBLE/n_rows - fo))
        |    * 0.5, 6) AS tvd,
        |  round(greatest(abs(c1::DOUBLE/n_rows - f1),
        |    abs(c2::DOUBLE/n_rows - f2),
        |    abs(c3::DOUBLE/n_rows - f3),
        |    abs((n_rows - c1 - c2 - c3)::DOUBLE/n_rows - fo)), 6)
        |    AS max_shift
        |FROM w, f ORDER BY window_start_ms""".stripMargin,

    "v1_validate" ->
      """WITH m AS (
        |  SELECT count(*) AS n, count(text) AS ct,
        |    count(DISTINCT doc_id) AS dd, count(doc_id) AS cd,
        |    count(CASE WHEN n_chars BETWEEN 50 AND 300 THEN 1 END)
        |      AS inband,
        |    count(n_chars) AS cn,
        |    count(CASE WHEN regexp_matches(text, '[0-9]') THEN 1 END)
        |      AS dig,
        |    count(CASE WHEN lang IN ('en','de','es','fr') THEN 1 END)
        |      AS inset,
        |    count(lang) AS cl,
        |    count(CASE WHEN n_chars = length(text) THEN 1 END)
        |      AS chconst,
        |    min(n_chars) AS mn, max(n_chars) AS mx,
        |    sum(n_chars) AS sm
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'completeness(text)' AS check_name,
        |    'text' AS column_name, '>= 0.99' AS requirement,
        |    round(ct::DOUBLE / n, 6) AS value,
        |    CASE WHEN ct::DOUBLE / n >= 0.99 THEN 1 ELSE 0 END
        |      AS passed FROM m
        |  UNION ALL SELECT 'uniqueness(doc_id)', 'doc_id', '>= 1.0',
        |    round(dd::DOUBLE / cd, 6),
        |    CASE WHEN dd::DOUBLE / cd >= 1.0 THEN 1 ELSE 0 END FROM m
        |  UNION ALL SELECT 'between(n_chars)', 'n_chars',
        |    'in [50.0, 300.0] frac >= 0.9',
        |    round(inband::DOUBLE / cn, 6),
        |    CASE WHEN inband::DOUBLE / cn >= 0.9 THEN 1 ELSE 0 END
        |    FROM m
        |  UNION ALL SELECT 'matches(text)', 'text',
        |    'rlike ''[0-9]'' frac >= 0.5',
        |    round(dig::DOUBLE / ct, 6),
        |    CASE WHEN dig::DOUBLE / ct >= 0.5 THEN 1 ELSE 0 END FROM m
        |  UNION ALL SELECT 'in_set(lang)', 'lang',
        |    'in {en,de,es,fr} frac >= 0.95',
        |    round(inset::DOUBLE / cl, 6),
        |    CASE WHEN inset::DOUBLE / cl >= 0.95 THEN 1 ELSE 0 END
        |    FROM m
        |  UNION ALL SELECT 'satisfies(chars_consistent)', '*',
        |    '''n_chars = length(text)'' frac >= 1.0',
        |    round(chconst::DOUBLE / n, 6),
        |    CASE WHEN chconst::DOUBLE / n >= 1.0 THEN 1 ELSE 0 END
        |    FROM m
        |  UNION ALL SELECT 'min(n_chars)', 'n_chars', '>= 1.0',
        |    round(mn::DOUBLE, 6),
        |    CASE WHEN mn::DOUBLE >= 1.0 THEN 1 ELSE 0 END FROM m
        |  UNION ALL SELECT 'max(n_chars)', 'n_chars', '<= 10000.0',
        |    round(mx::DOUBLE, 6),
        |    CASE WHEN mx::DOUBLE <= 10000.0 THEN 1 ELSE 0 END FROM m
        |  UNION ALL SELECT 'mean(n_chars)', 'n_chars',
        |    'in [100.0, 500.0]',
        |    round(sm::DOUBLE / cn, 6),
        |    CASE WHEN sm::DOUBLE / cn >= 100.0
        |      AND sm::DOUBLE / cn <= 500.0 THEN 1 ELSE 0 END FROM m
        |  UNION ALL SELECT 'size()', '*', '>= 100',
        |    round(n::DOUBLE, 6),
        |    CASE WHEN n >= 100 THEN 1 ELSE 0 END FROM m
        |) ORDER BY check_name""".stripMargin,

    "d50_corpus_delta" ->
      """WITH b AS (SELECT doc_id, text FROM documents),
        |a AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents
        |  WHERE doc_id % 11 = 0)
        |SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN a.doc_id IS NULL THEN 'removed'
        |       WHEN b.text IS DISTINCT FROM a.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id
        |ORDER BY doc_id""".stripMargin,

    "d52_delta_live" ->
      """WITH b AS (SELECT doc_id, text FROM documents),
        |a AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents
        |  WHERE doc_id % 11 = 0)
        |SELECT a.doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN b.text IS DISTINCT FROM a.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM a LEFT JOIN b ON a.doc_id = b.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    "d51_delta_summary" ->
      """WITH b AS (SELECT doc_id, text FROM documents),
        |a AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents
        |  WHERE doc_id % 11 = 0),
        |st AS (
        |  SELECT CASE WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN a.doc_id IS NULL THEN 'removed'
        |       WHEN b.text IS DISTINCT FROM a.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |  FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n
        |FROM st GROUP BY status ORDER BY status""".stripMargin,

    // drop-close removal audit: baseline ids absent from the closed
    // drop — one anti-join on the id, the status carried for the
    // union with the live stream's rows
    "d53_delta_removed" ->
      """WITH b AS (SELECT doc_id FROM documents),
        |a AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000 FROM documents
        |  WHERE doc_id % 11 = 0)
        |SELECT b.doc_id, 'removed' AS status
        |FROM b ANTI JOIN a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "v6_cusum_shift" ->
      """WITH RECURSIVE hist AS (
        |  SELECT 'r' || lpad(substr(source, 4), 2, '0') AS run_id,
        |    'mean(n_chars2)' AS check_name,
        |    round(sum(CASE WHEN CAST(substr(source, 4) AS INTEGER)
        |        >= 12 THEN n_chars * 3 ELSE n_chars END)::DOUBLE
        |      / count(n_chars), 6) AS value
        |  FROM documents GROUP BY source
        |  UNION ALL
        |  SELECT 'r' || lpad(substr(source, 4), 2, '0'),
        |    'satisfies(short)',
        |    round(count(CASE WHEN (CASE WHEN CAST(substr(source, 4)
        |        AS INTEGER) >= 12 THEN n_chars * 3 ELSE n_chars END)
        |        < 400 THEN 1 END)::DOUBLE / count(*), 6)
        |  FROM documents GROUP BY source),
        |stats AS (
        |  SELECT check_name, count(*) AS n_runs,
        |    quantile_cont(value, 0.5) AS med
        |  FROM hist WHERE value IS NOT NULL GROUP BY check_name),
        |mads AS (
        |  SELECT h.check_name,
        |    quantile_cont(abs(h.value - s.med), 0.5) AS mad
        |  FROM hist h JOIN stats s USING (check_name)
        |  WHERE h.value IS NOT NULL GROUP BY h.check_name),
        |zz AS (
        |  SELECT h.check_name, h.run_id, h.value, s.n_runs, s.med,
        |    m.mad,
        |    CASE WHEN m.mad = 0 THEN NULL
        |      ELSE round((h.value - s.med) / (1.4826 * m.mad), 6)
        |    END AS z,
        |    row_number() OVER (PARTITION BY h.check_name
        |      ORDER BY h.run_id) AS rn
        |  FROM hist h JOIN stats s USING (check_name)
        |  JOIN mads m USING (check_name)
        |  WHERE h.value IS NOT NULL),
        |rec AS (
        |  SELECT check_name, rn, GREATEST(0.0, z - 0.5) AS sp,
        |    GREATEST(0.0, -z - 0.5) AS sn
        |  FROM zz WHERE rn = 1
        |  UNION ALL
        |  SELECT z.check_name, z.rn,
        |    GREATEST(0.0, r.sp + z.z - 0.5),
        |    GREATEST(0.0, r.sn - z.z - 0.5)
        |  FROM zz z JOIN rec r ON z.check_name = r.check_name
        |    AND z.rn = r.rn + 1)
        |SELECT zz.check_name, zz.run_id, zz.value, zz.n_runs,
        |  zz.med AS median_value, zz.mad, zz.z,
        |  CASE WHEN zz.mad = 0 THEN NULL ELSE rec.sp END
        |    AS cusum_pos,
        |  CASE WHEN zz.mad = 0 THEN NULL ELSE rec.sn END
        |    AS cusum_neg,
        |  CASE WHEN zz.n_runs < 5 THEN NULL
        |       WHEN zz.mad = 0 THEN
        |         CASE WHEN zz.value <> zz.med THEN 1 ELSE 0 END
        |       ELSE CASE WHEN rec.sp > 2.0 OR rec.sn > 2.0
        |         THEN 1 ELSE 0 END
        |  END AS is_shift
        |FROM zz JOIN rec USING (check_name, rn)
        |ORDER BY check_name, run_id""".stripMargin,

    "v4_metric_anomaly" ->
      """WITH hist AS (
        |  SELECT source AS run_id, 'completeness(text)' AS check_name,
        |    round(count(text)::DOUBLE / count(*), 6) AS value
        |  FROM documents GROUP BY source
        |  UNION ALL
        |  SELECT source, 'mean(n_chars)',
        |    round(sum(n_chars)::DOUBLE / count(n_chars), 6)
        |  FROM documents GROUP BY source
        |  UNION ALL
        |  SELECT source, 'satisfies(short_docs)',
        |    round(count(CASE WHEN n_chars < 400 THEN 1 END)::DOUBLE
        |      / count(*), 6)
        |  FROM documents GROUP BY source),
        |stats AS (
        |  SELECT check_name, count(*) AS n_runs,
        |    quantile_cont(value, 0.5) AS med
        |  FROM hist WHERE value IS NOT NULL GROUP BY check_name),
        |mads AS (
        |  SELECT h.check_name,
        |    quantile_cont(abs(h.value - s.med), 0.5) AS mad
        |  FROM hist h JOIN stats s USING (check_name)
        |  WHERE h.value IS NOT NULL GROUP BY h.check_name),
        |m7 AS (SELECT text, n_chars * 13 AS n_chars FROM documents
        |       WHERE source = 'src7'),
        |cur AS (
        |  SELECT 'completeness(text)' AS check_name,
        |    round(count(text)::DOUBLE / count(*), 6) AS value FROM m7
        |  UNION ALL
        |  SELECT 'mean(n_chars)',
        |    round(sum(n_chars)::DOUBLE / count(n_chars), 6) FROM m7
        |  UNION ALL
        |  SELECT 'satisfies(short_docs)',
        |    round(count(CASE WHEN n_chars < 400 THEN 1 END)::DOUBLE
        |      / count(*), 6) FROM m7)
        |SELECT c.check_name, c.value, s.n_runs,
        |  s.med AS median_value, m.mad,
        |  CASE WHEN m.mad = 0 THEN NULL
        |       ELSE round((c.value - s.med) / (1.4826 * m.mad), 6)
        |  END AS z,
        |  CASE WHEN s.n_runs < 5 THEN NULL
        |       WHEN m.mad = 0 THEN
        |         CASE WHEN c.value <> s.med THEN 1 ELSE 0 END
        |       ELSE CASE WHEN abs(round((c.value - s.med)
        |         / (1.4826 * m.mad), 6)) > 3.5 THEN 1 ELSE 0 END
        |  END AS is_anomaly
        |FROM cur c
        |JOIN stats s USING (check_name)
        |JOIN mads m USING (check_name)
        |ORDER BY check_name""".stripMargin,

    "v5_monitor_anomaly" ->
      """WITH base AS (
        |  SELECT n_chars::DOUBLE AS v FROM documents
        |  WHERE n_chars IS NOT NULL),
        |bt AS (SELECT count(*)::DOUBLE AS t FROM base),
        |f AS (SELECT
        |  (SELECT count(*) FROM base WHERE v < 150)::DOUBLE
        |    / (SELECT t FROM bt) AS f0,
        |  (SELECT count(*) FROM base
        |     WHERE v >= 150 AND v < 250)::DOUBLE
        |    / (SELECT t FROM bt) AS f1,
        |  (SELECT count(*) FROM base
        |     WHERE v >= 250 AND v < 350)::DOUBLE
        |    / (SELECT t FROM bt) AS f2,
        |  (SELECT count(*) FROM base
        |     WHERE v >= 350 AND v < 450)::DOUBLE
        |    / (SELECT t FROM bt) AS f3,
        |  (SELECT count(*) FROM base WHERE v >= 450)::DOUBLE
        |    / (SELECT t FROM bt) AS f4),
        |g AS (SELECT source, count(*) AS n_rows,
        |  count(n_chars) AS nn,
        |  count(*) FILTER (n_chars IS NOT NULL
        |    AND n_chars::DOUBLE < 150) AS c0,
        |  count(*) FILTER (n_chars::DOUBLE >= 150
        |    AND n_chars::DOUBLE < 250) AS c1,
        |  count(*) FILTER (n_chars::DOUBLE >= 250
        |    AND n_chars::DOUBLE < 350) AS c2,
        |  count(*) FILTER (n_chars::DOUBLE >= 350
        |    AND n_chars::DOUBLE < 450) AS c3,
        |  count(*) FILTER (n_chars::DOUBLE >= 450) AS c4
        |  FROM documents GROUP BY 1),
        |hist AS (
        |  SELECT source AS run_id, 'n_rows' AS check_name,
        |    n_rows::DOUBLE AS value FROM g
        |  UNION ALL
        |  SELECT source, 'n_null', (n_rows - nn)::DOUBLE FROM g
        |  UNION ALL
        |  SELECT source, 'tvd',
        |    round((abs(c0::DOUBLE/nn - f0) + abs(c1::DOUBLE/nn - f1)
        |      + abs(c2::DOUBLE/nn - f2) + abs(c3::DOUBLE/nn - f3)
        |      + abs(c4::DOUBLE/nn - f4)) * 0.5, 6) FROM g, f
        |  UNION ALL
        |  SELECT source, 'max_shift',
        |    round(greatest(abs(c0::DOUBLE/nn - f0),
        |      abs(c1::DOUBLE/nn - f1), abs(c2::DOUBLE/nn - f2),
        |      abs(c3::DOUBLE/nn - f3), abs(c4::DOUBLE/nn - f4)), 6)
        |    FROM g, f),
        |m7 AS (SELECT source, n_chars::DOUBLE * 13 AS len
        |  FROM documents WHERE source = 'src7'),
        |g7 AS (SELECT source, count(*) AS n_rows, count(len) AS nn,
        |  count(*) FILTER (len IS NOT NULL AND len < 150) AS c0,
        |  count(*) FILTER (len >= 150 AND len < 250) AS c1,
        |  count(*) FILTER (len >= 250 AND len < 350) AS c2,
        |  count(*) FILTER (len >= 350 AND len < 450) AS c3,
        |  count(*) FILTER (len >= 450) AS c4
        |  FROM m7 GROUP BY 1),
        |cur AS (
        |  SELECT 'n_rows' AS check_name, n_rows::DOUBLE AS value
        |  FROM g7
        |  UNION ALL
        |  SELECT 'n_null', (n_rows - nn)::DOUBLE FROM g7
        |  UNION ALL
        |  SELECT 'tvd',
        |    round((abs(c0::DOUBLE/nn - f0) + abs(c1::DOUBLE/nn - f1)
        |      + abs(c2::DOUBLE/nn - f2) + abs(c3::DOUBLE/nn - f3)
        |      + abs(c4::DOUBLE/nn - f4)) * 0.5, 6) FROM g7, f
        |  UNION ALL
        |  SELECT 'max_shift',
        |    round(greatest(abs(c0::DOUBLE/nn - f0),
        |      abs(c1::DOUBLE/nn - f1), abs(c2::DOUBLE/nn - f2),
        |      abs(c3::DOUBLE/nn - f3), abs(c4::DOUBLE/nn - f4)), 6)
        |    FROM g7, f),
        |stats AS (
        |  SELECT check_name, count(*) AS n_runs,
        |    quantile_cont(value, 0.5) AS med
        |  FROM hist WHERE value IS NOT NULL GROUP BY check_name),
        |mads AS (
        |  SELECT h.check_name,
        |    quantile_cont(abs(h.value - s.med), 0.5) AS mad
        |  FROM hist h JOIN stats s USING (check_name)
        |  WHERE h.value IS NOT NULL GROUP BY h.check_name)
        |SELECT c.check_name, c.value, s.n_runs,
        |  s.med AS median_value, m.mad,
        |  CASE WHEN m.mad = 0 THEN NULL
        |       ELSE round((c.value - s.med) / (1.4826 * m.mad), 6)
        |  END AS z,
        |  CASE WHEN s.n_runs < 5 THEN NULL
        |       WHEN m.mad = 0 THEN
        |         CASE WHEN c.value <> s.med THEN 1 ELSE 0 END
        |       ELSE CASE WHEN abs(round((c.value - s.med)
        |         / (1.4826 * m.mad), 6)) > 3.5 THEN 1 ELSE 0 END
        |  END AS is_anomaly
        |FROM cur c
        |JOIN stats s USING (check_name)
        |JOIN mads m USING (check_name)
        |ORDER BY check_name""".stripMargin,

    "d49_outlier_report" ->
      """WITH v AS (
        |  SELECT source,
        |    CASE WHEN source = 'src7' THEN n_chars * 13
        |         ELSE n_chars END AS len
        |  FROM documents),
        |g AS (
        |  SELECT source, count(*) AS n_rows,
        |    count(len) AS nn,
        |    sum(len)::DOUBLE / count(len) AS m
        |  FROM v GROUP BY source),
        |s AS (SELECT quantile_cont(m, 0.5) AS med FROM g),
        |d AS (SELECT quantile_cont(abs(m - (SELECT med FROM s)), 0.5)
        |        AS mad FROM g)
        |SELECT source, n_rows, n_rows - nn AS n_null,
        |  round(m, 6) AS mean_value,
        |  round((m - (SELECT med FROM s))
        |    / (1.4826 * (SELECT mad FROM d)), 6) AS z,
        |  CASE WHEN abs(round((m - (SELECT med FROM s))
        |    / (1.4826 * (SELECT mad FROM d)), 6)) > 3.5
        |    THEN 1 ELSE 0 END AS is_outlier
        |FROM g ORDER BY source""".stripMargin,

    "v3_profile" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS column_name, 'bigint' AS dtype,
        |    count(*) AS n_rows,
        |    count(*) - count(doc_id) AS n_null,
        |    round(count(doc_id)::DOUBLE / count(*), 6)
        |      AS completeness,
        |    COUNT(DISTINCT doc_id) AS n_distinct,
        |    round(COUNT(DISTINCT doc_id)::DOUBLE / count(doc_id), 6)
        |      AS distinct_frac,
        |    min(doc_id)::DOUBLE AS min_value,
        |    max(doc_id)::DOUBLE AS max_value,
        |    round(sum(doc_id)::DOUBLE / count(doc_id), 6)
        |      AS mean_value,
        |    NULL::VARCHAR AS top_vals
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', 'bigint', count(*),
        |    count(*) - count(n_chars),
        |    round(count(n_chars)::DOUBLE / count(*), 6),
        |    COUNT(DISTINCT n_chars),
        |    round(COUNT(DISTINCT n_chars)::DOUBLE / count(n_chars), 6),
        |    min(n_chars)::DOUBLE, max(n_chars)::DOUBLE,
        |    round(sum(n_chars)::DOUBLE / count(n_chars), 6),
        |    NULL::VARCHAR
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text', 'string', count(*), count(*) - count(text),
        |    round(count(text)::DOUBLE / count(*), 6),
        |    COUNT(DISTINCT text),
        |    round(COUNT(DISTINCT text)::DOUBLE / count(text), 6),
        |    NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
        |    (SELECT string_agg(v, '|' ORDER BY n DESC, v) FROM
        |      (SELECT text AS v, count(*) AS n FROM documents
        |       WHERE text IS NOT NULL GROUP BY 1
        |       ORDER BY n DESC, v LIMIT 32) q)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', 'string', count(*), count(*) - count(lang),
        |    round(count(lang)::DOUBLE / count(*), 6),
        |    COUNT(DISTINCT lang),
        |    round(COUNT(DISTINCT lang)::DOUBLE / count(lang), 6),
        |    NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
        |    (SELECT string_agg(v, '|' ORDER BY n DESC, v) FROM
        |      (SELECT lang AS v, count(*) AS n FROM documents
        |       WHERE lang IS NOT NULL GROUP BY 1
        |       ORDER BY n DESC, v LIMIT 32) q)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', 'string', count(*),
        |    count(*) - count(source),
        |    round(count(source)::DOUBLE / count(*), 6),
        |    COUNT(DISTINCT source),
        |    round(COUNT(DISTINCT source)::DOUBLE / count(source), 6),
        |    NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
        |    (SELECT string_agg(v, '|' ORDER BY n DESC, v) FROM
        |      (SELECT source AS v, count(*) AS n FROM documents
        |       WHERE source IS NOT NULL GROUP BY 1
        |       ORDER BY n DESC, v LIMIT 32) q)
        |  FROM documents
        |) ORDER BY column_name""".stripMargin,

    "v2_validate_by" ->
      """WITH m AS (
        |  SELECT lang, count(*) AS n, count(text) AS ct,
        |    count(CASE WHEN n_chars BETWEEN 50 AND 300 THEN 1 END)
        |      AS inband,
        |    count(n_chars) AS cn, sum(n_chars) AS sm
        |  FROM documents GROUP BY lang)
        |SELECT * FROM (
        |  SELECT lang, 'completeness(text)' AS check_name,
        |    round(ct::DOUBLE / n, 6) AS value,
        |    CASE WHEN ct::DOUBLE / n >= 1.0 THEN 1 ELSE 0 END
        |      AS passed FROM m
        |  UNION ALL SELECT lang, 'between(n_chars)',
        |    round(inband::DOUBLE / cn, 6),
        |    CASE WHEN inband::DOUBLE / cn >= 0.9 THEN 1 ELSE 0 END
        |    FROM m
        |  UNION ALL SELECT lang, 'mean(n_chars)',
        |    round(sm::DOUBLE / cn, 6),
        |    CASE WHEN sm::DOUBLE / cn >= 100.0
        |      AND sm::DOUBLE / cn <= 500.0 THEN 1 ELSE 0 END FROM m
        |  UNION ALL SELECT lang, 'size()', round(n::DOUBLE, 6),
        |    CASE WHEN n >= 100 THEN 1 ELSE 0 END FROM m
        |) ORDER BY lang, check_name""".stripMargin,

    "d47_health_monitor" ->
      """WITH vbase AS (
        |  SELECT value FROM events
        |  WHERE epoch_ms(ts) < 1705276800000 AND value IS NOT NULL),
        |vbt AS (SELECT count(*)::DOUBLE AS t FROM vbase),
        |vf AS (SELECT
        |  (SELECT count(*) FROM vbase WHERE value < 10)::DOUBLE
        |    / (SELECT t FROM vbt) AS f0,
        |  (SELECT count(*) FROM vbase
        |     WHERE value >= 10 AND value < 25)::DOUBLE
        |    / (SELECT t FROM vbt) AS f1,
        |  (SELECT count(*) FROM vbase
        |     WHERE value >= 25 AND value < 50)::DOUBLE
        |    / (SELECT t FROM vbt) AS f2,
        |  (SELECT count(*) FROM vbase
        |     WHERE value >= 50 AND value < 100)::DOUBLE
        |    / (SELECT t FROM vbt) AS f3,
        |  (SELECT count(*) FROM vbase
        |     WHERE value >= 100 AND value < 200)::DOUBLE
        |    / (SELECT t FROM vbt) AS f4,
        |  (SELECT count(*) FROM vbase WHERE value >= 200)::DOUBLE
        |    / (SELECT t FROM vbt) AS f5),
        |cbase AS (
        |  SELECT event_type FROM events
        |  WHERE epoch_ms(ts) < 1705276800000),
        |cbt AS (SELECT count(*)::DOUBLE AS t FROM cbase),
        |rk AS (SELECT event_type, count(*) AS n,
        |    row_number() OVER (ORDER BY count(*) DESC, event_type)
        |      AS r
        |  FROM cbase GROUP BY 1),
        |cf AS (SELECT
        |  (SELECT event_type FROM rk WHERE r = 1) AS t1,
        |  (SELECT event_type FROM rk WHERE r = 2) AS t2,
        |  (SELECT event_type FROM rk WHERE r = 3) AS t3,
        |  (SELECT n FROM rk WHERE r = 1)::DOUBLE
        |    / (SELECT t FROM cbt) AS g1,
        |  (SELECT n FROM rk WHERE r = 2)::DOUBLE
        |    / (SELECT t FROM cbt) AS g2,
        |  (SELECT n FROM rk WHERE r = 3)::DOUBLE
        |    / (SELECT t FROM cbt) AS g3,
        |  coalesce((SELECT sum(n) FROM rk WHERE r > 3), 0)::DOUBLE
        |    / (SELECT t FROM cbt) AS go),
        |obase AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE epoch_ms(ts) < 1705276800000),
        |w AS (SELECT date_trunc('hour', ts) AS ws, count(*) AS n_rows,
        |  COUNT(DISTINCT user_id) AS n_distinct,
        |  COUNT(DISTINCT CASE WHEN user_id IN
        |    (SELECT user_id FROM obase) THEN user_id END)
        |    AS n_overlap,
        |  count(value) AS nn,
        |  count(*) FILTER (value IS NOT NULL AND value < 10) AS c0,
        |  count(*) FILTER (value >= 10 AND value < 25) AS c1,
        |  count(*) FILTER (value >= 25 AND value < 50) AS c2,
        |  count(*) FILTER (value >= 50 AND value < 100) AS c3,
        |  count(*) FILTER (value >= 100 AND value < 200) AS c4,
        |  count(*) FILTER (value >= 200) AS c5,
        |  count(*) FILTER (event_type = (SELECT t1 FROM cf)) AS k1,
        |  count(*) FILTER (event_type = (SELECT t2 FROM cf)) AS k2,
        |  count(*) FILTER (event_type = (SELECT t3 FROM cf)) AS k3
        |  FROM events GROUP BY 1)
        |SELECT epoch_ms(ws) AS window_start_ms,
        |  epoch_ms(ws + INTERVAL 1 HOUR) AS window_end_ms,
        |  n_rows, n_distinct,
        |  round(1 - n_distinct::DOUBLE / n_rows, 6) AS dup_rate,
        |  n_overlap,
        |  round(n_overlap::DOUBLE / n_distinct, 6) AS overlap_frac,
        |  n_rows - nn AS n_null,
        |  round((abs(c0::DOUBLE/nn - f0) + abs(c1::DOUBLE/nn - f1)
        |    + abs(c2::DOUBLE/nn - f2) + abs(c3::DOUBLE/nn - f3)
        |    + abs(c4::DOUBLE/nn - f4) + abs(c5::DOUBLE/nn - f5))
        |    * 0.5, 6) AS tvd,
        |  round(greatest(abs(c0::DOUBLE/nn - f0),
        |    abs(c1::DOUBLE/nn - f1), abs(c2::DOUBLE/nn - f2),
        |    abs(c3::DOUBLE/nn - f3), abs(c4::DOUBLE/nn - f4),
        |    abs(c5::DOUBLE/nn - f5)), 6) AS max_shift,
        |  round((abs(k1::DOUBLE/n_rows - g1)
        |    + abs(k2::DOUBLE/n_rows - g2)
        |    + abs(k3::DOUBLE/n_rows - g3)
        |    + abs((n_rows - k1 - k2 - k3)::DOUBLE/n_rows - go))
        |    * 0.5, 6) AS cat_tvd,
        |  round(greatest(abs(k1::DOUBLE/n_rows - g1),
        |    abs(k2::DOUBLE/n_rows - g2),
        |    abs(k3::DOUBLE/n_rows - g3),
        |    abs((n_rows - k1 - k2 - k3)::DOUBLE/n_rows - go)), 6)
        |    AS cat_max_shift
        |FROM w, vf, cf ORDER BY window_start_ms""".stripMargin,

    "d45_session_drift_monitor" ->
      """WITH base AS (
        |  SELECT value FROM events
        |  WHERE epoch_ms(ts) < 1705276800000 AND value IS NOT NULL),
        |bt AS (SELECT count(*)::DOUBLE AS t FROM base),
        |f AS (SELECT
        |  (SELECT count(*) FROM base WHERE value < 10)::DOUBLE
        |    / (SELECT t FROM bt) AS f0,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 10 AND value < 25)::DOUBLE
        |    / (SELECT t FROM bt) AS f1,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 25 AND value < 50)::DOUBLE
        |    / (SELECT t FROM bt) AS f2,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 50 AND value < 100)::DOUBLE
        |    / (SELECT t FROM bt) AS f3,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 100 AND value < 200)::DOUBLE
        |    / (SELECT t FROM bt) AS f4,
        |  (SELECT count(*) FROM base WHERE value >= 200)::DOUBLE
        |    / (SELECT t FROM bt) AS f5),
        |d AS (
        |  SELECT ts, value,
        |    CASE WHEN lag(ts) OVER (ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (ORDER BY ts)
        |                >= INTERVAL 15 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT ts, value,
        |    sum(brk) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |      AS sid
        |  FROM d),
        |w AS (SELECT sid, min(ts) AS st, max(ts) AS en,
        |  count(*) AS n_rows, count(value) AS nn,
        |  count(*) FILTER (value IS NOT NULL AND value < 10) AS c0,
        |  count(*) FILTER (value >= 10 AND value < 25) AS c1,
        |  count(*) FILTER (value >= 25 AND value < 50) AS c2,
        |  count(*) FILTER (value >= 50 AND value < 100) AS c3,
        |  count(*) FILTER (value >= 100 AND value < 200) AS c4,
        |  count(*) FILTER (value >= 200) AS c5
        |  FROM s GROUP BY sid)
        |SELECT epoch_ms(st) AS window_start_ms,
        |  epoch_ms(en + INTERVAL 15 MINUTE) AS window_end_ms,
        |  n_rows, n_rows - nn AS n_null,
        |  round((abs(c0::DOUBLE/nn - f0) + abs(c1::DOUBLE/nn - f1)
        |    + abs(c2::DOUBLE/nn - f2) + abs(c3::DOUBLE/nn - f3)
        |    + abs(c4::DOUBLE/nn - f4) + abs(c5::DOUBLE/nn - f5))
        |    * 0.5, 6) AS tvd,
        |  round(greatest(abs(c0::DOUBLE/nn - f0),
        |    abs(c1::DOUBLE/nn - f1), abs(c2::DOUBLE/nn - f2),
        |    abs(c3::DOUBLE/nn - f3), abs(c4::DOUBLE/nn - f4),
        |    abs(c5::DOUBLE/nn - f5)), 6) AS max_shift
        |FROM w, f ORDER BY window_start_ms""".stripMargin,

    "d48_session_health_monitor" ->
      """WITH base AS (
        |  SELECT value FROM events
        |  WHERE epoch_ms(ts) < 1705276800000 AND value IS NOT NULL),
        |bt AS (SELECT count(*)::DOUBLE AS t FROM base),
        |f AS (SELECT
        |  (SELECT count(*) FROM base WHERE value < 10)::DOUBLE
        |    / (SELECT t FROM bt) AS f0,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 10 AND value < 25)::DOUBLE
        |    / (SELECT t FROM bt) AS f1,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 25 AND value < 50)::DOUBLE
        |    / (SELECT t FROM bt) AS f2,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 50 AND value < 100)::DOUBLE
        |    / (SELECT t FROM bt) AS f3,
        |  (SELECT count(*) FROM base
        |     WHERE value >= 100 AND value < 200)::DOUBLE
        |    / (SELECT t FROM bt) AS f4,
        |  (SELECT count(*) FROM base WHERE value >= 200)::DOUBLE
        |    / (SELECT t FROM bt) AS f5),
        |d AS (
        |  SELECT ts, user_id, value,
        |    CASE WHEN lag(ts) OVER (ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (ORDER BY ts)
        |                >= INTERVAL 15 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT ts, user_id, value,
        |    sum(brk) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |      AS sid
        |  FROM d),
        |w AS (SELECT sid, min(ts) AS st, max(ts) AS en,
        |  count(*) AS n_rows,
        |  COUNT(DISTINCT user_id) AS n_distinct,
        |  count(value) AS nn,
        |  count(*) FILTER (value IS NOT NULL AND value < 10) AS c0,
        |  count(*) FILTER (value >= 10 AND value < 25) AS c1,
        |  count(*) FILTER (value >= 25 AND value < 50) AS c2,
        |  count(*) FILTER (value >= 50 AND value < 100) AS c3,
        |  count(*) FILTER (value >= 100 AND value < 200) AS c4,
        |  count(*) FILTER (value >= 200) AS c5
        |  FROM s GROUP BY sid)
        |SELECT epoch_ms(st) AS window_start_ms,
        |  epoch_ms(en + INTERVAL 15 MINUTE) AS window_end_ms,
        |  n_rows, n_distinct,
        |  round(1 - n_distinct::DOUBLE / n_rows, 6) AS dup_rate,
        |  n_rows - nn AS n_null,
        |  round((abs(c0::DOUBLE/nn - f0) + abs(c1::DOUBLE/nn - f1)
        |    + abs(c2::DOUBLE/nn - f2) + abs(c3::DOUBLE/nn - f3)
        |    + abs(c4::DOUBLE/nn - f4) + abs(c5::DOUBLE/nn - f5))
        |    * 0.5, 6) AS tvd,
        |  round(greatest(abs(c0::DOUBLE/nn - f0),
        |    abs(c1::DOUBLE/nn - f1), abs(c2::DOUBLE/nn - f2),
        |    abs(c3::DOUBLE/nn - f3), abs(c4::DOUBLE/nn - f4),
        |    abs(c5::DOUBLE/nn - f5)), 6) AS max_shift
        |FROM w, f ORDER BY window_start_ms""".stripMargin,

    "d43_drift_report" ->
      """WITH base AS (
        |  SELECT n_chars::DOUBLE AS v FROM documents
        |  WHERE n_chars IS NOT NULL),
        |bt AS (SELECT count(*)::DOUBLE AS t FROM base),
        |f AS (SELECT
        |  (SELECT count(*) FROM base WHERE v < 150)::DOUBLE
        |    / (SELECT t FROM bt) AS f0,
        |  (SELECT count(*) FROM base
        |     WHERE v >= 150 AND v < 250)::DOUBLE
        |    / (SELECT t FROM bt) AS f1,
        |  (SELECT count(*) FROM base
        |     WHERE v >= 250 AND v < 350)::DOUBLE
        |    / (SELECT t FROM bt) AS f2,
        |  (SELECT count(*) FROM base
        |     WHERE v >= 350 AND v < 450)::DOUBLE
        |    / (SELECT t FROM bt) AS f3,
        |  (SELECT count(*) FROM base WHERE v >= 450)::DOUBLE
        |    / (SELECT t FROM bt) AS f4),
        |g AS (SELECT source, count(*) AS n_rows,
        |  count(n_chars) AS nn,
        |  count(*) FILTER (n_chars IS NOT NULL
        |    AND n_chars::DOUBLE < 150) AS c0,
        |  count(*) FILTER (n_chars::DOUBLE >= 150
        |    AND n_chars::DOUBLE < 250) AS c1,
        |  count(*) FILTER (n_chars::DOUBLE >= 250
        |    AND n_chars::DOUBLE < 350) AS c2,
        |  count(*) FILTER (n_chars::DOUBLE >= 350
        |    AND n_chars::DOUBLE < 450) AS c3,
        |  count(*) FILTER (n_chars::DOUBLE >= 450) AS c4
        |  FROM documents GROUP BY 1)
        |SELECT source, n_rows, n_rows - nn AS n_null,
        |  round((abs(c0::DOUBLE/nn - f0) + abs(c1::DOUBLE/nn - f1)
        |    + abs(c2::DOUBLE/nn - f2) + abs(c3::DOUBLE/nn - f3)
        |    + abs(c4::DOUBLE/nn - f4)) * 0.5, 6) AS tvd,
        |  round(greatest(abs(c0::DOUBLE/nn - f0),
        |    abs(c1::DOUBLE/nn - f1), abs(c2::DOUBLE/nn - f2),
        |    abs(c3::DOUBLE/nn - f3), abs(c4::DOUBLE/nn - f4)), 6)
        |    AS max_shift
        |FROM g, f ORDER BY source""".stripMargin,

    "s12_label_cohesion" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |x AS (
        |  SELECT label,
        |    unnest(list_transform(emb, (v, i) -> {'i': i, 'v': v}))
        |      AS s
        |  FROM e),
        |g AS (SELECT label, s.i AS i, sum(s.v) AS sv
        |      FROM x GROUP BY 1, 2),
        |c AS (SELECT label AS l, list(sv ORDER BY i) AS cvec
        |      FROM g GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label AS rl, c.l,
        |         list_cosine_similarity(e.emb, c.cvec) AS cos
        |       FROM e CROSS JOIN c),
        |own AS (SELECT vec_id, rl, cos AS own_cos FROM sc
        |        WHERE rl = l),
        |riv AS (SELECT vec_id, l, cos, row_number() OVER
        |          (PARTITION BY vec_id ORDER BY cos DESC, l) AS rk
        |        FROM sc WHERE rl != l),
        |best AS (SELECT vec_id, l AS riv_l, cos AS riv_cos
        |         FROM riv WHERE rk = 1),
        |pr AS (SELECT own.vec_id, own.rl, own.own_cos, best.riv_l,
        |         best.riv_cos
        |       FROM own LEFT JOIN best USING (vec_id)),
        |st AS (SELECT rl AS label, count(*) AS n_rows,
        |         round(avg(own_cos), 6) AS mean_own_cos,
        |         round(avg(riv_cos), 6) AS mean_rival_cos,
        |         round(avg(own_cos) - avg(riv_cos), 6) AS margin
        |       FROM pr GROUP BY 1),
        |cf AS (SELECT rl AS label, riv_l, row_number() OVER
        |         (PARTITION BY rl ORDER BY count(*) DESC, riv_l)
        |           AS rk
        |       FROM pr WHERE riv_l IS NOT NULL GROUP BY rl, riv_l)
        |SELECT st.label, st.n_rows, st.mean_own_cos,
        |  st.mean_rival_cos, st.margin,
        |  (SELECT riv_l FROM cf
        |   WHERE cf.label = st.label AND cf.rk = 1) AS top_rival
        |FROM st ORDER BY st.label""".stripMargin,

    "d44_centroid_drift" ->
      """WITH e AS (
        |  SELECT label, embedding::DOUBLE[] AS emb FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |x AS (
        |  SELECT label,
        |    unnest(list_transform(emb, (v, i) -> {'i': i, 'v': v}))
        |      AS s
        |  FROM e),
        |g AS (SELECT label, s.i AS i, sum(s.v) AS sv
        |      FROM x GROUP BY 1, 2),
        |vs AS (SELECT label, list(sv ORDER BY i) AS svec
        |       FROM g GROUP BY 1),
        |b AS (SELECT list(t ORDER BY i) AS bvec FROM
        |        (SELECT i, sum(sv) AS t FROM g GROUP BY i)),
        |c AS (SELECT label, count(*) AS n_rows,
        |        count(embedding) AS nn
        |      FROM embeddings GROUP BY 1)
        |SELECT c.label, c.n_rows, c.n_rows - c.nn AS n_null,
        |  round(list_cosine_similarity(vs.svec, b.bvec), 6)
        |    AS centroid_cos,
        |  round(1 - list_cosine_similarity(vs.svec, b.bvec), 6)
        |    AS centroid_drift
        |FROM c LEFT JOIN vs ON c.label = vs.label, b
        |ORDER BY c.label""".stripMargin,

    "d36_kmv_overlap" ->
      """WITH a AS (SELECT DISTINCT text FROM documents),
        |b AS (SELECT DISTINCT CASE WHEN doc_id % 2 = 0 THEN text
        |        ELSE text || ' zz-b-suffix' END AS text
        |      FROM documents),
        |i AS (SELECT count(*) AS n FROM
        |        (SELECT text FROM a INTERSECT SELECT text FROM b)),
        |u AS (SELECT count(*) AS n FROM
        |        (SELECT text FROM a UNION SELECT text FROM b))
        |SELECT (SELECT count(*) FROM a) AS n_a,
        |  (SELECT count(*) FROM b) AS n_b,
        |  u.n AS n_union, i.n AS n_intersect,
        |  round(i.n::DOUBLE / u.n, 6) AS jaccard
        |FROM i, u""".stripMargin,

    "s2_ann_lsh" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |           FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6)
        |      AS cos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cos FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "s5_knn_join" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |           FROM embeddings),
        |m1 AS (SELECT vec_id + 1000000 AS vec_id,
        |  list_prepend(emb[1] + 0.015625, emb[2:]) AS emb FROM e),
        |m2 AS (SELECT vec_id + 2000000 AS vec_id,
        |  list_prepend(emb[1] + 0.03125, emb[2:]) AS emb FROM e),
        |du AS (SELECT * FROM e UNION ALL SELECT * FROM m1
        |       UNION ALL SELECT * FROM m2),
        |sym AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
        |  FROM du a JOIN du b ON a.vec_id != b.vec_id
        |  WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.9),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
        |    AS rank
        |  FROM sym)
        |SELECT query_id, rank, neighbor_id, cos FROM ranked
        |WHERE rank <= 2 ORDER BY query_id, rank""".stripMargin,

    // injection + per-coordinate filters + usable-coordinate norm
    // replayed; CASE order matters (77 = both → the zero branch, as
    // in the Spark when-chain)
    "s6_embedding_stats" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 11 = 0 THEN
        |      list_transform(embedding::DOUBLE[], x -> 0.0)
        |    WHEN vec_id % 7 = 0 THEN
        |      list_prepend(CAST('nan' AS DOUBLE),
        |        (embedding::DOUBLE[])[2:])
        |    ELSE embedding::DOUBLE[] END AS emb
        |  FROM embeddings)
        |SELECT vec_id, CAST(len(emb) AS BIGINT) AS dim,
        |  round(sqrt(list_sum(list_transform(emb,
        |    x -> CASE WHEN isnan(x) THEN 0.0 ELSE x * x END))), 6)
        |    AS l2_norm,
        |  CAST(len(list_filter(emb, x -> isnan(x))) AS BIGINT) AS n_bad,
        |  sqrt(list_sum(list_transform(emb,
        |    x -> CASE WHEN isnan(x) THEN 0.0 ELSE x * x END))) < 1e-12
        |    AS is_zero
        |FROM e ORDER BY vec_id""".stripMargin,

    "q31_approx_percentile" ->
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS q25,
        |  quantile_disc(l_quantity, 0.5) AS q50,
        |  quantile_disc(l_quantity, 0.75) AS q75,
        |  quantile_disc(l_extendedprice, 0.25) AS price_q25,
        |  quantile_disc(l_extendedprice, 0.5) AS med_price,
        |  quantile_disc(l_extendedprice, 0.75) AS price_q75,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q30_datetime_battery" ->
      """SELECT o_orderkey,
        |  CAST(date_part('quarter', o_orderdate) AS BIGINT) AS qtr,
        |  CAST(date_part('dow', o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(date_part('week', o_orderdate) AS BIGINT) AS wk,
        |  strftime(o_orderdate, '%Y-%m') AS ym,
        |  epoch_ms(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP))
        |    AS eom_ms,
        |  epoch_ms(date_trunc('week', o_orderdate)) AS week_start_ms,
        |  epoch_ms(CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH
        |    AS TIMESTAMP)) AS plus2m_ms
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q28_range_join" ->
      """SELECT p.user_id, count(*) AS n_pairs,
        |  count(DISTINCT p.event_id) AS n_purchases,
        |  count(DISTINCT c.event_id) AS n_clicks
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE
        | AND c.ts <= p.ts + INTERVAL 30 MINUTE
        |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin,

    "q29_sql_surface" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q32_sql_curation" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || chr(0) ||
        |         'split'), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || chr(0) ||
        |         'split'), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' reach admin' || CAST(doc_id AS VARCHAR) ||
        |        '@corp.example.org',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '[EMAIL]', 'g'),
        |    '\+?[0-9]([()\- ]{0,2}[0-9]){6,}', '[PHONE]', 'g') AS clean
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'sample'),
        |  1, 8) < '4ccccccc'
        |ORDER BY doc_id""".stripMargin,

    "s3_ann_ivf" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |           FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6)
        |      AS cos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cos FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q27_array_battery" ->
      """SELECT p_partkey,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
        |  string_split(p_name, ' ')[1] AS w1,
        |  CAST(list_contains(string_split(p_name, ' '), 'red') AS INT)
        |    AS has_red,
        |  array_to_string(list_sort(string_split(p_name, ' ')), ',')
        |    AS sorted_words,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  left(p_name, 3) AS l3, right(p_name, 3) AS r3,
        |  repeat(p_brand, 2) AS bb,
        |  CAST(ascii(p_name) AS BIGINT) AS a1
        |FROM part ORDER BY p_partkey""".stripMargin,

    // thresholds: 0.2→33333333, 0.5→80000000, 0.25→40000000,
    // 0.1→19999999, 0.8→cccccccc, 0.9→e6666666 (floor(f·2^32) hex,
    // Sampling.hexThreshold — lowercase hex compares bytewise the same
    // in both engines). Draws are md5(id || chr(0) || salt) — NUL
    // delimiter so (id, salt) encodings can't alias — with each
    // operator's default salt domain ('sample'/'strata'/'split'/
    // 'reservoir'/'shard'), matching Sampling/Packing defaults.
    "p1_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'sample'), 1, 8)
        |  < '33333333'
        |ORDER BY doc_id""".stripMargin,

    "p2_stratified_sample" ->
      """SELECT lang, count(*) AS n_kept, min(doc_id) AS first_id
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'strata'), 1, 8) <
        |  CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN '40000000'
        |            ELSE '19999999' END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "p3_split_by_hash" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'split'), 1, 8)
        |         < 'cccccccc' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'split'), 1, 8)
        |         < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p4_topn_per_key" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY
        |      substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'reservoir'), 1, 8),
        |      doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY lang, doc_id""".stripMargin,

    // the single-global-window definition the bucket-histogram
    // operator must reproduce exactly
    "p6_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+')) AS ntok,
        |    substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'budget'),
        |      1, 8) AS draw
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, sum(ntok) OVER (PARTITION BY lang
        |    ORDER BY draw, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, lang FROM c WHERE cum <= 2000
        |ORDER BY doc_id""".stripMargin,

    "p7_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars / 400.0 >= 1.0
        |   OR (n_chars / 400.0 > 0.0 AND
        |       substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'weight'),
        |         1, 8)
        |       < lpad(lower(to_hex(CAST(floor(n_chars / 400.0
        |           * 4294967296.0) AS BIGINT))), 8, '0'))
        |ORDER BY doc_id""".stripMargin,

    "p13_upsample_epochs" ->
      """WITH c AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(floor(n_chars / 300.0) AS BIGINT) +
        |    CASE WHEN n_chars / 300.0 - floor(n_chars / 300.0) > 0.0
        |      AND substr(md5(CAST(doc_id AS VARCHAR) || chr(0)
        |          || 'epoch'), 1, 8)
        |        < lpad(lower(to_hex(CAST(floor(
        |            (n_chars / 300.0 - floor(n_chars / 300.0))
        |            * 4294967296.0) AS BIGINT))), 8, '0')
        |      THEN 1 ELSE 0 END AS n
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  unnest(range(0, n)) AS epoch
        |FROM c WHERE n > 0
        |ORDER BY doc_id, epoch""".stripMargin,

    "p14_balanced_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1
        |      AS idx
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(CASE WHEN (idx // 8) % 2 = 0 THEN idx % 8
        |       ELSE 7 - (idx % 8) END AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,

    "p8_split_leakage_safe" ->
      (dupComponentsClosureCte + ",\n" +
        """comp AS (
          |  SELECT src AS doc_id, least(src, min(dst)) AS component
          |  FROM reach GROUP BY src)
          |SELECT d.doc_id,
          |  CASE WHEN substr(md5(CAST(coalesce(c.component, d.doc_id)
          |           AS VARCHAR) || chr(0) || 'split'), 1, 8)
          |         < 'cccccccc' THEN 'train'
          |       WHEN substr(md5(CAST(coalesce(c.component, d.doc_id)
          |           AS VARCHAR) || chr(0) || 'split'), 1, 8)
          |         < 'e6666666' THEN 'val'
          |       ELSE 'test' END AS split
          |FROM du d LEFT JOIN comp c ON d.doc_id = c.doc_id
          |ORDER BY d.doc_id""".stripMargin),

    "p9_shuffle" ->
      """SELECT doc_id, lang FROM documents
        |ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || chr(0)
        |  || 'shuffle'), 1, 8), doc_id""".stripMargin,

    "p10_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents
        |  GROUP BY lang),
        |m AS (SELECT min(n) AS nmin FROM c),
        |r AS (SELECT lang, sqrt(CAST(nmin AS DOUBLE) / n) AS w
        |  FROM c, m)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN r USING (lang)
        |WHERE w >= 1.0
        |   OR (w > 0.0 AND
        |       substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'mix'),
        |         1, 8)
        |       < lpad(lower(to_hex(CAST(floor(w * 4294967296.0)
        |         AS BIGINT))), 8, '0'))
        |ORDER BY doc_id""".stripMargin,

    // water-filling replay: the saturated set is the maximal prefix
    // in avail/weight order (each prefix test replays the Scala
    // loop's exact expression remaining·w/wsum >= avail on exact
    // integer-valued doubles), the unsaturated fractions are the
    // same two correctly-rounded divisions, and each row's keep
    // threshold is the p10 hex recipe on the 'strata' salt
    "p15_allocate_mix" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+')) AS ntok
        |  FROM documents),
        |aw AS (
        |  SELECT source, CAST(SUM(ntok) AS BIGINT) AS avail,
        |    CASE WHEN length(source) = 4 THEN 16.0 ELSE 1.0 END AS w
        |  FROM tk GROUP BY source),
        |tot AS (SELECT CAST(SUM(avail) // 2 AS BIGINT) AS b,
        |  SUM(w) AS wtot FROM aw),
        |srt AS (
        |  SELECT source, avail, w,
        |    row_number() OVER (ORDER BY CAST(avail AS DOUBLE) / w,
        |      source) AS rn
        |  FROM aw),
        |pre AS (
        |  SELECT *,
        |    CAST(COALESCE(SUM(avail) OVER (ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pavail,
        |    COALESCE(SUM(w) OVER (ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
        |      AS pw
        |  FROM srt),
        |ok AS (
        |  SELECT p.*,
        |    CASE WHEN CAST(t.b - p.pavail AS DOUBLE) * p.w
        |        / (t.wtot - p.pw) >= p.avail
        |      THEN 1 ELSE 0 END AS sat_ok
        |  FROM pre p, tot t),
        |cut AS (SELECT COALESCE(MIN(rn), 2147483647) AS c
        |  FROM ok WHERE sat_ok = 0),
        |sp AS (
        |  SELECT t.b - COALESCE(SUM(CASE WHEN o.rn < c.c
        |      THEN o.avail END), 0) AS rem,
        |    t.wtot - COALESCE(SUM(CASE WHEN o.rn < c.c
        |      THEN o.w END), 0.0) AS wrem
        |  FROM ok o, cut c, tot t GROUP BY t.b, t.wtot, c.c),
        |fr AS (
        |  SELECT o.source,
        |    CASE WHEN o.rn < c.c THEN 1.0
        |      ELSE CAST(sp.rem AS DOUBLE) * o.w / sp.wrem / o.avail
        |    END AS f
        |  FROM ok o, cut c, sp)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN fr USING (source)
        |WHERE fr.f >= 1.0
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR) || chr(0)
        |       || 'strata'), 1, 8)
        |     < lpad(lower(to_hex(LEAST(CAST(floor(fr.f * 4294967296.0)
        |         AS BIGINT), 4294967295))), 8, '0')
        |ORDER BY doc_id""".stripMargin,

    "t11_strip_boilerplate" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(text, ' ') AS toks
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id, list_transform(range(0, (len(toks) + 2) // 3),
        |    i -> array_to_string(toks[i*3+1:i*3+3], ' ')) AS ls
        |  FROM base),
        |lp AS (
        |  SELECT doc_id, unnest(range(0, len(ls))) AS pos,
        |    unnest(ls) AS line
        |  FROM lined),
        |fl AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS df
        |    FROM lp WHERE line <> '' GROUP BY line)
        |  WHERE df >= 2),
        |mk AS (
        |  SELECT lp.doc_id, lp.pos, lp.line,
        |    (fl.line IS NOT NULL) AS rm
        |  FROM lp LEFT JOIN fl ON lp.line = fl.line)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT rm THEN line END,
        |    chr(10) ORDER BY pos), '') AS text,
        |  count(*) AS n_lines,
        |  count(*) FILTER (WHERE rm) AS n_removed
        |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "e1_curation_e2e" ->
      """WITH du AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang FROM documents),
        |qual AS (
        |  SELECT * FROM du
        |  WHERE len(regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+')) >= 20),
        |ded AS (
        |  SELECT * FROM qual
        |  WHERE doc_id IN (SELECT min(doc_id) FROM qual
        |                   GROUP BY text)),
        |ev AS (
        |  SELECT md5(text) AS h FROM du
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR) || chr(0) ||
        |    'sample'), 1, 8) < '40000000'),
        |cln AS (
        |  SELECT * FROM ded WHERE md5(text) NOT IN (SELECT h FROM ev)),
        |c AS (SELECT lang, count(*) AS n FROM cln GROUP BY lang),
        |m AS (SELECT min(n) AS nmin FROM c),
        |r AS (SELECT lang, sqrt(CAST(nmin AS DOUBLE) / n) AS w
        |  FROM c, m),
        |mixed AS (
        |  SELECT cln.* FROM cln JOIN r USING (lang)
        |  WHERE w >= 1.0
        |     OR (w > 0.0 AND
        |         substr(md5(CAST(doc_id AS VARCHAR) || chr(0) ||
        |           'mix'), 1, 8)
        |         < lpad(lower(to_hex(CAST(floor(w * 4294967296.0)
        |           AS BIGINT))), 8, '0'))),
        |tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS tk
        |  FROM mixed
        |  WHERE trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))
        |    <> ''),
        |st AS (
        |  SELECT doc_id, tk, len(tk) AS n,
        |    unnest(range(0, len(tk), 24)) AS s
        |  FROM tk),
        |ch AS (
        |  SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_index,
        |    CAST(least(s + 32, n) - s AS BIGINT) AS chunk_tokens,
        |    doc_id * 64 + s // 24 AS chunk_id
        |  FROM st WHERE s = 0 OR least(s + 32, n) - s > 8),
        |pk AS (
        |  SELECT doc_id, chunk_index, chunk_tokens,
        |    substr(md5(CAST(chunk_id AS VARCHAR) || chr(0) || 'shard'),
        |      1, 1) AS shard,
        |    sum(chunk_tokens) OVER (
        |      PARTITION BY substr(md5(CAST(chunk_id AS VARCHAR) ||
        |        chr(0) || 'shard'), 1, 1)
        |      ORDER BY chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - chunk_tokens AS start
        |  FROM ch)
        |SELECT doc_id, chunk_index, chunk_tokens, shard,
        |  CAST(start AS BIGINT) AS start,
        |  CAST(start // 512 AS BIGINT) AS chunk,
        |  CAST(start % 512 AS BIGINT) AS "offset",
        |  CAST((start + chunk_tokens - 1) // 512 - start // 512 + 1
        |    AS BIGINT) AS chunks_spanned
        |FROM pk
        |ORDER BY doc_id, chunk_index""".stripMargin,

    "p12_top_quantile" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |WHERE rn <= ceil(n * 0.3)
        |ORDER BY doc_id""".stripMargin,

    "p11_importance_resample" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS tk
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, lang, unnest(range(0, len(tk))) AS pos,
        |    unnest(tk) AS tok
        |  FROM tk),
        |pr AS (
        |  SELECT doc_id, lang, pos, tok,
        |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM toks),
        |tuni AS (
        |  SELECT tok, count(*) AS c1 FROM pr WHERE lang = 'en'
        |  GROUP BY tok),
        |ttot AS (SELECT CAST(sum(c1) AS DOUBLE) AS T FROM tuni),
        |tbig AS (
        |  SELECT prev, tok, count(*) AS c2 FROM pr
        |  WHERE lang = 'en' AND prev IS NOT NULL GROUP BY 1, 2),
        |suni AS (SELECT tok, count(*) AS c1 FROM pr GROUP BY tok),
        |stot AS (SELECT CAST(sum(c1) AS DOUBLE) AS T FROM suni),
        |sbig AS (
        |  SELECT prev, tok, count(*) AS c2 FROM pr
        |  WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tx AS (
        |  SELECT doc_id, round(-avg(log10(
        |    CASE WHEN pr.prev IS NULL
        |           THEN coalesce(CAST(u.c1 AS DOUBLE), 1.0) / T
        |         WHEN b.c2 IS NOT NULL AND up.c1 IS NOT NULL
        |           THEN CAST(b.c2 AS DOUBLE) / CAST(up.c1 AS DOUBLE)
        |         ELSE 0.4 * (coalesce(CAST(u.c1 AS DOUBLE), 1.0) / T)
        |    END)), 6) AS ht
        |  FROM pr
        |  LEFT JOIN tuni u ON pr.tok = u.tok
        |  LEFT JOIN tuni up ON pr.prev = up.tok
        |  LEFT JOIN tbig b ON pr.prev = b.prev AND pr.tok = b.tok
        |  CROSS JOIN ttot GROUP BY doc_id),
        |sx AS (
        |  SELECT doc_id, round(-avg(log10(
        |    CASE WHEN pr.prev IS NULL
        |           THEN coalesce(CAST(u.c1 AS DOUBLE), 1.0) / T
        |         WHEN b.c2 IS NOT NULL AND up.c1 IS NOT NULL
        |           THEN CAST(b.c2 AS DOUBLE) / CAST(up.c1 AS DOUBLE)
        |         ELSE 0.4 * (coalesce(CAST(u.c1 AS DOUBLE), 1.0) / T)
        |    END)), 6) AS hs
        |  FROM pr
        |  LEFT JOIN suni u ON pr.tok = u.tok
        |  LEFT JOIN suni up ON pr.prev = up.tok
        |  LEFT JOIN sbig b ON pr.prev = b.prev AND pr.tok = b.tok
        |  CROSS JOIN stot GROUP BY doc_id),
        |w AS (
        |  SELECT d.doc_id, d.lang,
        |    round(least(1.0, pow(10.0, hs - ht)), 6) AS imp_weight
        |  FROM documents d JOIN tx USING (doc_id) JOIN sx USING (doc_id))
        |SELECT doc_id, lang, imp_weight FROM w
        |WHERE imp_weight >= 1.0
        |   OR (imp_weight > 0.0 AND
        |       substr(md5(CAST(doc_id AS VARCHAR) || chr(0) ||
        |         'weight'), 1, 8)
        |       < lpad(lower(to_hex(CAST(floor(imp_weight
        |           * 4294967296.0) AS BIGINT))), 8, '0'))
        |ORDER BY doc_id""".stripMargin,

    "t32_bm25_topk" ->
      """WITH q(qid, qtext) AS (VALUES
        |    (1, 'join window'), (2, 'hash scan filter'),
        |    (3, 'spark sort merge')),
        |qt AS (
        |  SELECT DISTINCT qid, unnest(regexp_split_to_array(
        |    trim(qtext, ' ' || chr(9) || chr(10) || chr(11) ||
        |      chr(12) || chr(13)), '[ \t\n\v\f\r]+')) AS term
        |  FROM q),
        |tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS tk
        |  FROM documents),
        |st AS (SELECT count(*) AS n,
        |  CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl FROM tk),
        |dt AS (
        |  SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM (
        |    SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM tk)
        |  WHERE term IN (SELECT DISTINCT term FROM qt)
        |  GROUP BY doc_id, term),
        |dfs AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
        |sc AS (
        |  SELECT qt.qid AS query_id, dt.doc_id, dt.term,
        |    ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
        |      * (dt.tf * (1.2 + 1.0))
        |      / (dt.tf + 1.2 * ((1.0 - 0.75)
        |          + 0.75 * dt.dl / s.avgdl)) AS c
        |  FROM dt JOIN dfs f USING (term)
        |  JOIN qt ON dt.term = qt.term
        |  CROSS JOIN st s),
        |agg AS (
        |  SELECT query_id, doc_id, count(*) AS n_matched,
        |    round(list_reduce(list(c ORDER BY term),
        |      (a, x) -> a + x), 6) AS score
        |  FROM sc GROUP BY query_id, doc_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rank
        |  FROM agg)
        |SELECT query_id, rank, doc_id, n_matched, score FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "t31_bm25" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS tk
        |  FROM documents),
        |st AS (
        |  SELECT count(*) AS N,
        |    CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl,
        |    count(CASE WHEN list_contains(tk, 'join') THEN 1 END)
        |      AS df0,
        |    count(CASE WHEN list_contains(tk, 'window') THEN 1 END)
        |      AS df1,
        |    count(CASE WHEN list_contains(tk, 'spark') THEN 1 END)
        |      AS df2
        |  FROM tk),
        |sc AS (
        |  SELECT t.doc_id, len(t.tk) AS dl,
        |    len(list_filter(t.tk, x -> x = 'join')) AS tf0,
        |    len(list_filter(t.tk, x -> x = 'window')) AS tf1,
        |    len(list_filter(t.tk, x -> x = 'spark')) AS tf2,
        |    s.N AS n, s.avgdl, s.df0, s.df1, s.df2
        |  FROM tk t CROSS JOIN st s)
        |SELECT doc_id, dl,
        |  (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS n_matched,
        |  round(
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * (tf0 * (1.2 + 1.0))
        |      / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * (tf1 * (1.2 + 1.0))
        |      / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * (tf2 * (1.2 + 1.0))
        |      / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)),
        |    6) AS score
        |FROM sc WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |ORDER BY doc_id""".stripMargin,

    "t13_lm_score" ->
      """WITH rtk AS (
        |  SELECT regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS tk
        |  FROM documents WHERE lang = 'en'),
        |uni AS (
        |  SELECT tok, count(*) AS c1
        |  FROM (SELECT unnest(tk) AS tok FROM rtk) GROUP BY tok),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS T FROM uni),
        |big AS (
        |  SELECT g.prev AS prev, g.tok AS tok, count(*) AS c2
        |  FROM (SELECT unnest(list_transform(range(1, len(tk)),
        |          i -> {'prev': tk[i], 'tok': tk[i+1]})) AS g
        |        FROM rtk WHERE len(tk) > 1)
        |  GROUP BY 1, 2),
        |toks AS (
        |  SELECT doc_id, unnest(range(0, len(tk))) AS pos,
        |    unnest(tk) AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+') AS tk
        |    FROM documents)),
        |pr AS (
        |  SELECT doc_id, pos, tok,
        |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM toks),
        |sc AS (
        |  SELECT pr.doc_id, pr.prev, u.c1, up.c1 AS c1p, b.c2, T,
        |    coalesce(CAST(u.c1 AS DOUBLE), 1.0) AS c1e
        |  FROM pr
        |  LEFT JOIN uni u ON pr.tok = u.tok
        |  LEFT JOIN uni up ON pr.prev = up.tok
        |  LEFT JOIN big b ON pr.prev = b.prev AND pr.tok = b.tok
        |  CROSS JOIN tot),
        |p AS (
        |  SELECT doc_id,
        |    CASE WHEN prev IS NULL THEN c1e / T
        |         WHEN c2 IS NOT NULL AND c1p IS NOT NULL
        |           THEN CAST(c2 AS DOUBLE) / CAST(c1p AS DOUBLE)
        |         ELSE 0.4 * (c1e / T) END AS pp,
        |    (c1 IS NULL) AS oov,
        |    (prev IS NOT NULL AND c2 IS NULL) AS backoff
        |  FROM sc)
        |SELECT doc_id, count(*) AS n_tokens,
        |  count(*) FILTER (WHERE oov) AS n_oov,
        |  count(*) FILTER (WHERE backoff) AS n_backoff,
        |  round(-avg(log10(pp)), 6) AS lm_log10_ppt
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t28_trigram_lm" ->
      """WITH rtk AS (
        |  SELECT regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS tk
        |  FROM documents WHERE lang = 'en'),
        |uni AS (
        |  SELECT tok, count(*) AS c1
        |  FROM (SELECT unnest(tk) AS tok FROM rtk) GROUP BY tok),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS T FROM uni),
        |big AS (
        |  SELECT g.prev AS prev, g.tok AS tok, count(*) AS c2
        |  FROM (SELECT unnest(list_transform(range(1, len(tk)),
        |          i -> {'prev': tk[i], 'tok': tk[i+1]})) AS g
        |        FROM rtk WHERE len(tk) > 1)
        |  GROUP BY 1, 2),
        |tri AS (
        |  SELECT g.p2 AS p2, g.p1 AS p1, g.tok AS tok, count(*) AS c3
        |  FROM (SELECT unnest(list_transform(range(1, len(tk) - 1),
        |          i -> {'p2': tk[i], 'p1': tk[i+1], 'tok': tk[i+2]}))
        |          AS g
        |        FROM rtk WHERE len(tk) > 2)
        |  GROUP BY 1, 2, 3),
        |toks AS (
        |  SELECT doc_id, unnest(range(0, len(tk))) AS pos,
        |    unnest(tk) AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+') AS tk
        |    FROM documents)),
        |pr AS (
        |  SELECT doc_id, pos, tok,
        |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS p1,
        |    lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS p2
        |  FROM toks),
        |sc AS (
        |  SELECT pr.doc_id, pr.p1, pr.p2, u.c1, up.c1 AS c1p, b.c2,
        |    bc.c2 AS c2ctx, t3.c3, T,
        |    coalesce(CAST(u.c1 AS DOUBLE), 1.0) AS c1e
        |  FROM pr
        |  LEFT JOIN uni u ON pr.tok = u.tok
        |  LEFT JOIN uni up ON pr.p1 = up.tok
        |  LEFT JOIN big b ON pr.p1 = b.prev AND pr.tok = b.tok
        |  LEFT JOIN big bc ON pr.p2 = bc.prev AND pr.p1 = bc.tok
        |  LEFT JOIN tri t3 ON pr.p2 = t3.p2 AND pr.p1 = t3.p1
        |    AND pr.tok = t3.tok
        |  CROSS JOIN tot),
        |lv AS (
        |  SELECT doc_id, c1, p1, p2,
        |    CASE WHEN p1 IS NULL THEN 1
        |         WHEN p2 IS NULL THEN CASE WHEN c2 IS NOT NULL
        |           AND c1p IS NOT NULL THEN 2 ELSE 1 END
        |         WHEN c3 IS NOT NULL AND c2ctx IS NOT NULL THEN 3
        |         WHEN c2 IS NOT NULL AND c1p IS NOT NULL THEN 2
        |         ELSE 1 END AS lvl,
        |    c1e / T AS p0,
        |    CAST(c2 AS DOUBLE) / CAST(c1p AS DOUBLE) AS pb,
        |    CAST(c3 AS DOUBLE) / CAST(c2ctx AS DOUBLE) AS pt
        |  FROM sc),
        |p AS (
        |  SELECT doc_id, c1, lvl,
        |    CASE WHEN p1 IS NULL THEN p0
        |         WHEN p2 IS NULL THEN
        |           CASE WHEN lvl = 2 THEN pb ELSE 0.4 * p0 END
        |         WHEN lvl = 3 THEN pt
        |         WHEN lvl = 2 THEN 0.4 * pb
        |         ELSE 0.4 * (0.4 * p0) END AS pp
        |  FROM lv)
        |SELECT doc_id, count(*) AS n_tokens,
        |  count(*) FILTER (WHERE c1 IS NULL) AS n_oov,
        |  count(*) FILTER (WHERE lvl = 3) AS n_tri,
        |  count(*) FILTER (WHERE lvl = 2) AS n_big,
        |  round(-avg(log10(pp)), 6) AS lm3_log10_ppt
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t14_gopher_rules" ->
      """WITH aug AS (
        |  SELECT doc_id, text || CASE doc_id % 7
        |    WHEN 0 THEN repeat(chr(10) || '- bullet line', 10)
        |    WHEN 1 THEN chr(10) || 'foo…' || chr(10) || 'bar...'
        |    WHEN 2 THEN ' ' || repeat('#', 15)
        |    WHEN 3 THEN ' ' || repeat('x', 600)
        |    ELSE '' END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+') AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM aug),
        |c AS (
        |  SELECT doc_id,
        |    len(toks)::BIGINT AS n_words,
        |    list_sum(list_transform(toks, x -> length(x)))::BIGINT
        |      AS sum_word_chars,
        |    ((length(text) - length(replace(text, '#', ''))) +
        |     (length(text) - length(replace(text, '...', ''))) / 3)
        |      ::BIGINT AS n_symbols,
        |    len(lines)::BIGINT AS n_lines,
        |    len(list_filter(lines, x ->
        |      regexp_matches(x, '^[ \t]*[-*•]')))::BIGINT
        |      AS n_bullet_lines,
        |    len(list_filter(lines, x ->
        |      regexp_matches(x, '(\.\.\.|…)[ \t]*$')))::BIGINT
        |      AS n_ellipsis_lines,
        |    len(list_filter(toks, x ->
        |      regexp_matches(x, '[A-Za-z]')))::BIGINT AS n_alpha_words,
        |    (CASE WHEN list_contains(list_transform(toks,
        |       y -> lower(y)), 'the') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(list_transform(toks,
        |       y -> lower(y)), 'be') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(list_transform(toks,
        |       y -> lower(y)), 'to') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(list_transform(toks,
        |       y -> lower(y)), 'of') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(list_transform(toks,
        |       y -> lower(y)), 'and') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(list_transform(toks,
        |       y -> lower(y)), 'that') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(list_transform(toks,
        |       y -> lower(y)), 'have') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(list_transform(toks,
        |       y -> lower(y)), 'with') THEN 1 ELSE 0 END)::BIGINT
        |      AS n_required_hits
        |  FROM t),
        |f AS (
        |  SELECT *,
        |    CASE WHEN n_words >= 50 AND n_words <= 100000
        |      THEN 1 ELSE 0 END::BIGINT AS r_words,
        |    CASE WHEN sum_word_chars >= n_words * 3
        |      AND sum_word_chars <= n_words * 10
        |      THEN 1 ELSE 0 END::BIGINT AS r_mean_len,
        |    CASE WHEN n_symbols * 10 <= n_words
        |      THEN 1 ELSE 0 END::BIGINT AS r_symbol,
        |    CASE WHEN n_bullet_lines * 10 <= n_lines * 9
        |      THEN 1 ELSE 0 END::BIGINT AS r_bullet,
        |    CASE WHEN n_ellipsis_lines * 10 <= n_lines * 3
        |      THEN 1 ELSE 0 END::BIGINT AS r_ellipsis,
        |    CASE WHEN n_alpha_words * 5 >= n_words * 4
        |      THEN 1 ELSE 0 END::BIGINT AS r_alpha,
        |    CASE WHEN n_required_hits >= 2
        |      THEN 1 ELSE 0 END::BIGINT AS r_required
        |  FROM c)
        |SELECT doc_id, n_words, sum_word_chars, n_symbols, n_lines,
        |  n_bullet_lines, n_ellipsis_lines, n_alpha_words,
        |  n_required_hits, r_words, r_mean_len, r_symbol, r_bullet,
        |  r_ellipsis, r_alpha, r_required,
        |  (r_words * r_mean_len * r_symbol * r_bullet * r_ellipsis *
        |   r_alpha * r_required)::BIGINT AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "t15_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  GROUP BY doc_id, term),
        |dfq AS (
        |  SELECT term, count(DISTINCT doc_id) AS dfc FROM tok
        |  GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf,
        |    round(t.tf * ln(CAST(n.n AS DOUBLE) / d.dfc), 6) AS tfidf
        |  FROM tf t JOIN dfq d ON t.term = d.term CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tf, tfidf FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "t16_normalize_text" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN upper(text) ELSE text END)
        |      || '  Cafe' || chr(769) || '  tail' AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    nfc_normalize(trim(regexp_replace(lower(text),
        |      '[ \t\n\v\f\r]+', ' ', 'g'))) AS norm
        |  FROM m)
        |SELECT doc_id, norm, strip_accents(norm) AS norm_ascii
        |FROM n ORDER BY doc_id""".stripMargin,

    "t17_corpus_report" ->
      """WITH t AS (SELECT lang, source,
        |    len(regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+')) AS ntok,
        |    length(text) AS nch
        |  FROM documents),
        |g AS (SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS total_tokens,
        |    CAST(sum(nch) AS BIGINT) AS total_chars
        |  FROM t GROUP BY lang, source),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS d,
        |    CAST(sum(total_tokens) AS BIGINT) AS tk FROM g)
        |SELECT lang, source, n_docs, total_tokens, total_chars,
        |  round(CAST(n_docs AS DOUBLE) / d, 6) AS share_docs,
        |  round(CAST(total_tokens AS DOUBLE) / tk, 6) AS share_tokens
        |FROM g CROSS JOIN tot ORDER BY lang, source""".stripMargin,

    "t18_c4_clean" ->
      """WITH p AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    substr(text, 1, 40) || '.',
        |    'short line',
        |    'Enable JavaScript to continue viewing ' ||
        |      substr(text, 41, 20) || '.',
        |    substr(text, 61, 40) || '!',
        |    'This site uses cookies for tracking purposes.',
        |    'no terminal punctuation here ' || substr(text, 101, 20),
        |    substr(text, 121, 30) || ' end?"') AS page
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, CASE WHEN doc_id % 17 = 0
        |    THEN page || chr(10) || 'lorem ipsum dolor sit amet.'
        |    ELSE page END AS text FROM p),
        |l AS (SELECT doc_id, text,
        |    string_split(text, chr(10)) AS lines FROM b),
        |k AS (SELECT doc_id, text, lines,
        |    list_filter(lines, x ->
        |      len(regexp_split_to_array(trim(x), '[ \t\v\f\r]+')) >= 3
        |      AND right(rtrim(x), 1) IN ('.', '!', '?', '"')
        |      AND NOT contains(lower(x), 'javascript')
        |      AND NOT contains(lower(x), 'cookie')
        |      AND NOT contains(lower(x), 'privacy policy')
        |      AND NOT contains(lower(x), 'terms of use')) AS kept
        |  FROM l)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean,
        |  len(kept) AS n_lines_kept, len(lines) AS n_lines_total
        |FROM k
        |WHERE NOT contains(lower(text), 'lorem ipsum')
        |  AND NOT contains(text, '{') AND len(kept) >= 1
        |ORDER BY doc_id""".stripMargin,

    "t19_hashed_score" -> {
      // first-8-hex-chars-of-md5 → int, digit by digit (the d5 recipe)
      def h32(e: String): String = (1 to 8).map { p =>
        s"(strpos('0123456789abcdef', substr(md5($e), $p, 1))-1)*" +
          (1L << (4 * (8 - p)))
      }.mkString("(", " + ", ")")
      val w = s"((${h32(s"'w' || (${h32("t")} % 64)")} % 2001) - 1000)"
      s"""WITH base AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text,
         |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
         |    '[ \t\n\f\r]+') AS tk
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, len(tk) AS n_tokens,
         |    CAST(list_sum(list_transform(tk, t -> $w)) AS BIGINT)
         |      AS score_milli
         |  FROM base)
         |SELECT doc_id, n_tokens, score_milli,
         |  CAST(score_milli AS DOUBLE) / (1000.0 * n_tokens) AS logit,
         |  (CAST(score_milli AS DOUBLE) / (1000.0 * n_tokens)) > 0 AS keep
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "t23_dedup_lines" ->
      """WITH p AS (SELECT doc_id, concat_ws(chr(10),
        |    substr(text, 1, 40), 'short line', substr(text, 1, 40),
        |    '', '', substr(text, 41, 40), 'short line') AS text
        |  FROM documents),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS lines
        |  FROM p),
        |k AS (SELECT doc_id, lines, list_filter(lines, (x, i) ->
        |    x = '' OR list_position(lines, x) = i) AS kept FROM l)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean,
        |  len(kept) AS n_lines_kept, len(lines) AS n_lines_total
        |FROM k ORDER BY doc_id""".stripMargin,

    "t24_strip_html" ->
      """WITH page AS (
        |  SELECT doc_id,
        |    '<!DOCTYPE html><html><head><title>Page ' || doc_id ||
        |    '</title><style type="text/css">body { color: #333; }' ||
        |    '</style><script>if (1 < 2 && x > 0) { alert("</div>"); }' ||
        |    '</script></head><body><!-- header' || chr(10) ||
        |    'nav --><h1>Tom &amp; Jerry &lt;3 ' ||
        |    '&amp;lt;still-escaped&amp;gt;</h1><p class="lead">' ||
        |    text ||
        |    '</p><br><a href="/r?a=1&amp;b=2">next&nbsp;page</a>' ||
        |    '&#39;fin&#39;</body></html>' AS h
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(h,
        |  '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS h FROM page),
        |s2 AS (SELECT doc_id, regexp_replace(h,
        |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(h,
        |  '(?s)<!--.*?-->', ' ', 'g') AS h FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(h,
        |  '<[^>]*>', ' ', 'g') AS h FROM s3),
        |s5 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(replace(h,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', chr(39)), '&apos;', chr(39)), '&nbsp;', ' '),
        |    '&amp;', '&') AS h FROM s4)
        |SELECT doc_id,
        |  trim(regexp_replace(h, '[ \t\n\f\r]+', ' ', 'g')) AS clean
        |FROM s5 ORDER BY doc_id""".stripMargin,

    // the recursive CTE walks each DISTINCT word through the same
    // max-munch rule the expression applies: `lm` precomputes the
    // longest matching piece per (word, position) — start pieces at
    // position 0, ##-stripped continuations after — and `walk`
    // advances one piece per recursion step, collapsing to ['[UNK]']
    // the moment a position has no match
    "t25_wordpiece" -> {
      val vocabList = wpVocab.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""WITH RECURSIVE
         |du AS (
         |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
         |    THEN text || ' xylophone 42' ELSE text END AS text
         |  FROM documents),
         |vocab AS (SELECT unnest($vocabList) AS p),
         |pieces2 AS (
         |  SELECT p, 0 AS tier FROM vocab WHERE p NOT LIKE '##%'
         |  UNION ALL
         |  SELECT substr(p, 3) AS p, 1 AS tier FROM vocab
         |  WHERE p LIKE '##%'),
         |tok AS (
         |  SELECT doc_id, text, regexp_split_to_array(trim(text,
         |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
         |    '[ \\t\\n\\v\\f\\r]+') AS ws
         |  FROM du),
         |words AS (
         |  SELECT doc_id, unnest(range(0, len(ws))) AS wi,
         |    unnest(ws) AS w
         |  FROM tok),
         |dw AS (SELECT DISTINCT w FROM words WHERE w <> ''),
         |pos AS (
         |  SELECT w, unnest(range(0, len(w))) AS p FROM dw),
         |lm AS (
         |  SELECT pos.w, pos.p, max(len(v.p)) AS ml
         |  FROM pos JOIN pieces2 v
         |    ON ((pos.p = 0 AND v.tier = 0) OR (pos.p > 0 AND v.tier = 1))
         |   AND substr(pos.w, CAST(pos.p + 1 AS INT), len(v.p)) = v.p
         |  GROUP BY pos.w, pos.p),
         |walk AS (
         |  SELECT w, CAST(0 AS BIGINT) AS pos2,
         |    CAST([] AS VARCHAR[]) AS pieces, false AS failed
         |  FROM dw
         |  UNION ALL
         |  SELECT walk.w,
         |    CASE WHEN lm.ml IS NULL THEN CAST(len(walk.w) AS BIGINT)
         |      ELSE walk.pos2 + lm.ml END,
         |    CASE WHEN lm.ml IS NULL THEN ['[UNK]']
         |      WHEN walk.pos2 = 0 THEN list_append(walk.pieces,
         |        substr(walk.w, CAST(walk.pos2 + 1 AS INT),
         |          CAST(lm.ml AS INT)))
         |      ELSE list_append(walk.pieces, '##' ||
         |        substr(walk.w, CAST(walk.pos2 + 1 AS INT),
         |          CAST(lm.ml AS INT))) END,
         |    lm.ml IS NULL
         |  FROM walk LEFT JOIN lm
         |    ON walk.w = lm.w AND walk.pos2 = lm.p
         |  WHERE walk.pos2 < len(walk.w) AND NOT walk.failed),
         |done AS (
         |  SELECT w, pieces FROM walk WHERE pos2 >= len(w)),
         |perdoc AS (
         |  SELECT words.doc_id,
         |    flatten(list(done.pieces ORDER BY words.wi)) AS ps
         |  FROM words JOIN done ON words.w = done.w
         |  GROUP BY words.doc_id)
         |SELECT t.doc_id,
         |  CASE WHEN t.text IS NULL THEN NULL
         |    ELSE coalesce(array_to_string(pd.ps, ' '), '') END AS pieces,
         |  CASE WHEN t.text IS NULL THEN NULL
         |    ELSE coalesce(len(pd.ps), 0) END AS n_pieces,
         |  CASE WHEN t.text IS NULL THEN NULL
         |    ELSE coalesce(len(list_filter(pd.ps,
         |      x -> x = '[UNK]')), 0) END AS n_unk
         |FROM tok t LEFT JOIN perdoc pd ON t.doc_id = pd.doc_id
         |ORDER BY t.doc_id""".stripMargin
    },

    // brute-force replay: a hit row for every (doc, phrase, start
    // position) where the substring equals the phrase — overlap
    // semantics fall out of counting positions, not replacements
    "t27_blocklist" -> {
      val plist = blockPhrases.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""WITH du AS (
         |  SELECT doc_id, CASE WHEN doc_id % 11 = 0
         |    THEN text || ' abcabcabcd' ELSE text END AS text
         |  FROM documents),
         |ph AS (SELECT unnest($plist) AS p),
         |pos AS (
         |  SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i
         |  FROM du),
         |hits AS (
         |  SELECT pos.doc_id, ph.p, count(*) AS c
         |  FROM pos JOIN ph
         |    ON substr(pos.text, CAST(pos.i AS INT), len(ph.p)) = ph.p
         |  GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_hits,
         |    count(*) AS n_phrases,
         |    array_to_string(list_sort(list(p)), ',') AS hit_phrases
         |  FROM hits GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_hits, 0) AS n_hits,
         |  coalesce(a.n_phrases, 0) AS n_phrases,
         |  coalesce(a.hit_phrases, '') AS hit_phrases
         |FROM du d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    // every window of 4 consecutive 5-gram md5 hashes: min hash (hex
    // strings — lexicographic == numeric), rightmost tie via
    // max(pos) at the min value, distinct (pos, hash) selections
    "t26_winnowing" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS ws
        |  FROM documents),
        |gpos AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0, greatest(len(ws) - 4, 0))) AS pos
        |  FROM tok),
        |grams AS (
        |  SELECT doc_id, pos,
        |    md5(array_to_string(
        |      ws[CAST(pos + 1 AS INT):CAST(pos + 5 AS INT)], ' ')) AS h
        |  FROM gpos),
        |counts AS (SELECT doc_id, count(*) AS g FROM grams GROUP BY 1),
        |wins AS (
        |  SELECT doc_id, unnest(range(0, greatest(g - 3, 1))) AS i
        |  FROM counts),
        |sel AS (
        |  SELECT w.doc_id, w.i, min(g.h) AS mh
        |  FROM wins w JOIN grams g ON g.doc_id = w.doc_id
        |    AND g.pos >= w.i AND g.pos < w.i + 4
        |  GROUP BY 1, 2),
        |fp AS (
        |  SELECT s.doc_id, max(g.pos) AS pos, s.mh
        |  FROM sel s JOIN grams g ON g.doc_id = s.doc_id
        |    AND g.h = s.mh AND g.pos >= s.i AND g.pos < s.i + 4
        |  GROUP BY s.doc_id, s.i, s.mh),
        |sel_fp AS (
        |  SELECT DISTINCT doc_id, pos, substr(mh, 1, 8) AS fp
        |  FROM fp)
        |SELECT doc_id, count(*) AS n_fp,
        |  array_to_string(list_sort(
        |    list(lpad(CAST(pos AS VARCHAR), 6, '0') || ':' || fp)),
        |    ',') AS fps
        |FROM sel_fp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d26_containment_pairs" ->
      """WITH halves AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(ws[1:greatest(CAST(len(ws) // 2 AS INT), 1)],
        |      ' ') AS text,
        |    lang
        |  FROM (SELECT doc_id, lang, regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+') AS ws
        |    FROM documents WHERE doc_id % 5 = 0)),
        |du AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id, text, lang FROM halves),
        |sh AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(0, len(toks) - 2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))) END AS s
        |  FROM (SELECT doc_id, lang, regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+') AS toks
        |    FROM du)),
        |inv AS (SELECT doc_id, lang, unnest(s) AS g FROM sh),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ni
        |  FROM inv a JOIN inv b
        |    ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT d1, d2, ni,
        |    ni::DOUBLE / s1.n AS c1, ni::DOUBLE / s2.n AS c2
        |  FROM cand JOIN sizes s1 ON s1.doc_id = d1
        |    JOIN sizes s2 ON s2.doc_id = d2)
        |SELECT d1 AS doc_id_1, d2 AS doc_id_2, ni AS n_shared,
        |  round(c1, 6) AS containment_1, round(c2, 6) AS containment_2
        |FROM j WHERE greatest(c1, c2) >= 0.9
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    // winnowing replayed on the augmented corpus, pair counts at
    // minShared, then the same recursive closure as d8/d13
    "d30_winnow_clusters" ->
      """WITH RECURSIVE du AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(ws[1:greatest(CAST(len(ws) // 2 AS INT),
        |      1)], ' ')
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) ||
        |      chr(13)), '[ \t\n\v\f\r]+') AS ws
        |    FROM documents WHERE doc_id % 5 = 0)),
        |tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS ws
        |  FROM du),
        |gpos AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0, greatest(len(ws) - 4, 0))) AS pos
        |  FROM tok),
        |grams AS (
        |  SELECT doc_id, pos,
        |    md5(array_to_string(
        |      ws[CAST(pos + 1 AS INT):CAST(pos + 5 AS INT)], ' ')) AS h
        |  FROM gpos),
        |counts AS (SELECT doc_id, count(*) AS g FROM grams
        |  GROUP BY 1),
        |wins AS (
        |  SELECT doc_id, unnest(range(0, greatest(g - 3, 1))) AS i
        |  FROM counts),
        |sel AS (
        |  SELECT w.doc_id, w.i, min(g.h) AS mh
        |  FROM wins w JOIN grams g ON g.doc_id = w.doc_id
        |    AND g.pos >= w.i AND g.pos < w.i + 4
        |  GROUP BY 1, 2),
        |fps AS (
        |  SELECT DISTINCT doc_id, substr(mh, 1, 8) AS fp FROM sel),
        |cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ns
        |  FROM fps a JOIN fps b ON a.fp = b.fp
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM cand WHERE ns >= 2),
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e
        |    ON r.dst = e.src)
        |SELECT src AS doc_id, least(src, min(dst)) AS component
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // d30's replay plus the header injection and the df <= 4
    // stop-fingerprint filter between selection and pairing
    "d31_winnow_clusters_capped" ->
      """WITH RECURSIVE raw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'terms of service privacy policy all rights reserved ' ||
        |      'copyright notice contact us ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |du AS (
        |  SELECT doc_id, text FROM raw
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(ws[1:greatest(CAST(len(ws) // 2 AS INT),
        |      1)], ' ')
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) ||
        |      chr(13)), '[ \t\n\v\f\r]+') AS ws
        |    FROM raw WHERE doc_id % 5 = 0)),
        |tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS ws
        |  FROM du),
        |gpos AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0, greatest(len(ws) - 4, 0))) AS pos
        |  FROM tok),
        |grams AS (
        |  SELECT doc_id, pos,
        |    md5(array_to_string(
        |      ws[CAST(pos + 1 AS INT):CAST(pos + 5 AS INT)], ' ')) AS h
        |  FROM gpos),
        |counts AS (SELECT doc_id, count(*) AS g FROM grams
        |  GROUP BY 1),
        |wins AS (
        |  SELECT doc_id, unnest(range(0, greatest(g - 3, 1))) AS i
        |  FROM counts),
        |sel AS (
        |  SELECT w.doc_id, w.i, min(g.h) AS mh
        |  FROM wins w JOIN grams g ON g.doc_id = w.doc_id
        |    AND g.pos >= w.i AND g.pos < w.i + 4
        |  GROUP BY 1, 2),
        |fps AS (
        |  SELECT DISTINCT doc_id, substr(mh, 1, 8) AS fp FROM sel),
        |keep AS (
        |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 4),
        |fps2 AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
        |cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ns
        |  FROM fps2 a JOIN fps2 b ON a.fp = b.fp
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM cand WHERE ns >= 2),
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e
        |    ON r.dst = e.src)
        |SELECT src AS doc_id, least(src, min(dst)) AS component
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // every distinct-shingle intersection, the reference-denominator
    // fraction, the threshold, and the (frac desc, ref_id) argmax
    // replayed exactly
    "d29_containment_overlap" ->
      """WITH cs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(0, len(toks) - 2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))) END AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+') AS toks
        |    FROM documents)),
        |rs AS (
        |  SELECT ref_id,
        |    CASE WHEN len(h) < 3 THEN [array_to_string(h, ' ')]
        |    ELSE list_distinct(list_transform(range(0, len(h) - 2),
        |      i -> array_to_string(h[i+1:i+3], ' '))) END AS s
        |  FROM (SELECT doc_id + 1000000 AS ref_id,
        |      toks[1:greatest(CAST(len(toks) // 2 AS INT), 1)] AS h
        |    FROM (SELECT doc_id, regexp_split_to_array(trim(text,
        |        ' ' || chr(9) || chr(10) || chr(11) || chr(12) ||
        |        chr(13)), '[ \t\n\v\f\r]+') AS toks
        |      FROM documents WHERE doc_id % 9 = 0))),
        |ci AS (SELECT doc_id, unnest(s) AS g FROM cs),
        |ri AS (SELECT ref_id, unnest(s) AS g FROM rs),
        |sizes AS (SELECT ref_id, len(s) AS nr FROM rs),
        |cand AS (
        |  SELECT c.doc_id, r.ref_id, count(*) AS n_shared
        |  FROM ci c JOIN ri r ON c.g = r.g
        |  GROUP BY 1, 2),
        |fr AS (
        |  SELECT cand.doc_id, cand.ref_id, n_shared,
        |    CAST(n_shared AS DOUBLE) / CAST(nr AS DOUBLE) AS frac
        |  FROM cand JOIN sizes USING (ref_id)
        |  WHERE CAST(n_shared AS DOUBLE) / CAST(nr AS DOUBLE) >= 0.9),
        |rk AS (
        |  SELECT doc_id, ref_id, n_shared, frac,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY frac DESC, ref_id) AS rn
        |  FROM fr)
        |SELECT doc_id, ref_id, n_shared, round(frac, 6) AS containment
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // both sides' winnowing selections replayed (min of each 4-window
    // of 5-gram md5 hashes; distinct per-doc fingerprints), then the
    // corpus-vs-reference distinct-fingerprint intersection counted
    "d27_winnow_overlap" ->
      """WITH base AS (
        |  SELECT 0 AS side, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 1 AS side, doc_id,
        |    array_to_string(ws[1:greatest(CAST(len(ws) // 2 AS INT), 1)],
        |      ' ') AS text
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+') AS ws
        |    FROM documents WHERE doc_id % 7 = 0)),
        |tok AS (
        |  SELECT side, doc_id, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS ws
        |  FROM base),
        |gpos AS (
        |  SELECT side, doc_id, ws,
        |    unnest(range(0, greatest(len(ws) - 4, 0))) AS pos
        |  FROM tok),
        |grams AS (
        |  SELECT side, doc_id, pos,
        |    md5(array_to_string(
        |      ws[CAST(pos + 1 AS INT):CAST(pos + 5 AS INT)], ' ')) AS h
        |  FROM gpos),
        |counts AS (SELECT side, doc_id, count(*) AS g
        |  FROM grams GROUP BY 1, 2),
        |wins AS (
        |  SELECT side, doc_id, unnest(range(0, greatest(g - 3, 1))) AS i
        |  FROM counts),
        |sel AS (
        |  SELECT w.side, w.doc_id, w.i, min(g.h) AS mh
        |  FROM wins w JOIN grams g ON g.side = w.side
        |    AND g.doc_id = w.doc_id
        |    AND g.pos >= w.i AND g.pos < w.i + 4
        |  GROUP BY 1, 2, 3),
        |fps AS (
        |  SELECT DISTINCT side, doc_id, substr(mh, 1, 8) AS fp FROM sel),
        |cf AS (SELECT doc_id, fp FROM fps WHERE side = 0),
        |rf AS (SELECT DISTINCT fp FROM fps WHERE side = 1),
        |tot AS (SELECT doc_id, count(*) AS n_fp FROM cf GROUP BY 1),
        |sh AS (SELECT c.doc_id, count(*) AS n_shared
        |  FROM cf c JOIN rf USING (fp) GROUP BY 1)
        |SELECT t.doc_id, t.n_fp, s.n_shared,
        |  round(CAST(s.n_shared AS DOUBLE) / t.n_fp, 6) AS overlap_frac
        |FROM tot t JOIN sh s USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // excision replayed exactly: reference 8-gram set (by gram TEXT —
    // the Spark side's FNV hashes are collision-free grouping keys),
    // hit positions, per-token coverage, space-joined rebuild; clean
    // docs keep their raw text
    "d28_excise_contamination" ->
      """WITH tok AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS ws
        |  FROM documents),
        |refg AS (
        |  SELECT DISTINCT array_to_string(
        |    ws[CAST(p + 1 AS INT):CAST(p + 8 AS INT)], ' ') AS g
        |  FROM (
        |    SELECT ws, unnest(range(0, greatest(len(ws) - 7, 0))) AS p
        |    FROM (SELECT ws[1:greatest(CAST(len(ws) // 2 AS INT), 1)]
        |        AS ws
        |      FROM tok WHERE doc_id % 6 = 0))),
        |cg AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0, greatest(len(ws) - 7, 0))) AS p
        |  FROM tok),
        |hits AS (
        |  SELECT cg.doc_id, cg.p
        |  FROM cg JOIN refg ON array_to_string(
        |    cg.ws[CAST(cg.p + 1 AS INT):CAST(cg.p + 8 AS INT)], ' ')
        |    = refg.g),
        |cov AS (
        |  SELECT DISTINCT doc_id, p + u AS i
        |  FROM hits CROSS JOIN range(0, 8) t(u)),
        |toki AS (
        |  SELECT doc_id, unnest(range(0, len(ws))) AS i FROM tok),
        |keptok AS (
        |  SELECT tk.doc_id, tk.i
        |  FROM toki tk LEFT JOIN cov c
        |    ON c.doc_id = tk.doc_id AND c.i = tk.i
        |  WHERE c.i IS NULL),
        |reb AS (
        |  SELECT k.doc_id,
        |    string_agg(t.ws[CAST(k.i + 1 AS INT)], ' ' ORDER BY k.i)
        |      AS text2,
        |    count(*) AS n_kept
        |  FROM keptok k JOIN tok t USING (doc_id) GROUP BY k.doc_id),
        |hd AS (SELECT DISTINCT doc_id FROM hits)
        |SELECT t.doc_id,
        |  CASE WHEN h.doc_id IS NULL THEN t.text
        |    ELSE coalesce(r.text2, '') END AS text,
        |  CASE WHEN h.doc_id IS NULL THEN 0
        |    ELSE len(t.ws) - coalesce(r.n_kept, 0)
        |    END AS n_tokens_removed
        |FROM tok t LEFT JOIN hd h USING (doc_id)
        |  LEFT JOIN reb r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "t21_top_ngrams" ->
      """WITH tk AS (
        |  SELECT regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT unnest(list_transform(
        |    range(0, greatest(len(toks) - 2, 0)),
        |    i -> array_to_string(toks[i+1:i+3], ' '))) AS gram
        |  FROM tk)
        |SELECT gram, count(*) AS cnt FROM g GROUP BY gram
        |ORDER BY cnt DESC, gram LIMIT 50""".stripMargin,

    "t22_corpus_diff" ->
      """WITH t AS (SELECT lang, source, text,
        |    len(regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+')) AS ntok
        |  FROM documents),
        |b AS (SELECT lang, source, count(*) AS docs_before,
        |    CAST(sum(ntok) AS BIGINT) AS tokens_before
        |  FROM t GROUP BY lang, source),
        |a AS (SELECT lang, source, count(*) AS docs_after,
        |    CAST(sum(ntok) AS BIGINT) AS tokens_after
        |  FROM t WHERE length(text) >= 200 GROUP BY lang, source)
        |SELECT b.lang, b.source, docs_before, tokens_before,
        |  coalesce(docs_after, 0) AS docs_after,
        |  coalesce(tokens_after, 0) AS tokens_after,
        |  docs_before - coalesce(docs_after, 0) AS docs_removed,
        |  tokens_before - coalesce(tokens_after, 0) AS tokens_removed,
        |  round(CAST(docs_before - coalesce(docs_after, 0) AS DOUBLE)
        |    / greatest(docs_before, 1), 6) AS removed_frac
        |FROM b LEFT JOIN a USING (lang, source)
        |ORDER BY lang, source""".stripMargin,

    "d23_minhash_overlap" ->
      """WITH ref AS (
        |  SELECT regexp_replace(text, 'the', 'thee', 'g') AS text
        |  FROM documents WHERE doc_id % 5 = 0),
        |ctk AS (SELECT doc_id, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS toks FROM documents),
        |rtk AS (SELECT row_number() OVER () AS rid,
        |    regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS toks FROM ref),
        |csh AS (SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(0, len(toks) - 2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))) END AS s
        |  FROM ctk),
        |rsh AS (SELECT rid,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(0, len(toks) - 2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))) END AS s
        |  FROM rtk),
        |cinv AS (SELECT doc_id, unnest(s) AS g FROM csh),
        |rinv AS (SELECT rid, unnest(s) AS g FROM rsh),
        |csz AS (SELECT doc_id, len(s) AS n FROM csh),
        |rsz AS (SELECT rid, len(s) AS n FROM rsh),
        |cand AS (SELECT c.doc_id, r.rid, count(*) AS ni
        |  FROM cinv c JOIN rinv r ON c.g = r.g GROUP BY 1, 2),
        |j AS (SELECT doc_id, rid,
        |    ni::DOUBLE / (ca.n + ra.n - ni) AS jac
        |  FROM cand JOIN csz ca USING (doc_id)
        |            JOIN rsz ra USING (rid))
        |SELECT doc_id, round(max(jac), 6) AS max_jaccard
        |FROM j WHERE jac >= 0.5 GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // full replay of the span-dedup pipeline: gram stream with
    // positions, the global (doc_id, pos) keep-first rule over
    // duplicated gram TEXTS, span coverage [p, p+10), and the
    // token-level rebuild; untouched docs must come back with their
    // (mutated) text byte-identical
    "d24_repeated_spans" ->
      """WITH du AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' subscribe to our newsletter for updates ' ||
        |      'terms of service privacy policy all rights reserved'
        |    ELSE text END AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS toks
        |  FROM du),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(0, greatest(len(toks) - 9, 0))) AS pos,
        |    unnest(list_transform(range(0, greatest(len(toks) - 9, 0)),
        |      i -> array_to_string(toks[i+1:i+10], ' '))) AS gram
        |  FROM tok),
        |mk AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      count(*) OVER (PARTITION BY gram) AS c,
        |      row_number() OVER (PARTITION BY gram
        |        ORDER BY doc_id, pos) AS rn
        |    FROM g) w
        |  WHERE c > 1 AND rn > 1),
        |mp AS (SELECT doc_id, list(pos) AS mpos FROM mk GROUP BY doc_id),
        |kept AS (
        |  SELECT t.doc_id,
        |    array_to_string(list_transform(
        |      list_filter(range(0, len(t.toks)), i ->
        |        len(list_filter(mp.mpos,
        |          p -> p <= i AND i < p + 10)) = 0),
        |      i -> t.toks[i+1]), ' ') AS rebuilt,
        |    len(t.toks) - len(list_filter(range(0, len(t.toks)), i ->
        |      len(list_filter(mp.mpos,
        |        p -> p <= i AND i < p + 10)) = 0)) AS removed
        |  FROM tok t JOIN mp ON t.doc_id = mp.doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN k.doc_id IS NULL THEN t.text
        |    ELSE coalesce(k.rebuilt, '') END AS text,
        |  CAST(coalesce(k.removed, 0) AS BIGINT) AS n_tokens_removed
        |FROM tok t LEFT JOIN kept k ON t.doc_id = k.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // paragraph keep-first replay: the footer survives only at its
    // globally-first (doc_id, index) occurrence; empty paragraphs are
    // exempt from the window entirely
    "d25_dedup_paragraphs" ->
      """WITH du AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 8 = 0 THEN concat_ws(chr(10), text,
        |      'all content copyright the publisher contact us for ' ||
        |        'licensing',
        |      'all content copyright the publisher contact us for ' ||
        |        'licensing')
        |    WHEN doc_id % 4 = 0 THEN concat_ws(chr(10), text,
        |      'all content copyright the publisher contact us for ' ||
        |        'licensing')
        |    ELSE text END AS text
        |  FROM documents),
        |pr AS (
        |  SELECT doc_id, text, string_split(text, chr(10)) AS ps
        |  FROM du),
        |par AS (
        |  SELECT doc_id, unnest(range(0, len(ps))) AS idx,
        |    unnest(ps) AS p
        |  FROM pr),
        |mk AS (
        |  SELECT doc_id, idx FROM (
        |    SELECT doc_id, idx,
        |      count(*) OVER (PARTITION BY p) AS c,
        |      row_number() OVER (PARTITION BY p
        |        ORDER BY doc_id, idx) AS rn
        |    FROM par WHERE p <> '') w
        |  WHERE c > 1 AND rn > 1),
        |mp AS (SELECT doc_id, list(idx) AS mi FROM mk GROUP BY doc_id)
        |SELECT pr.doc_id,
        |  CASE WHEN mp.doc_id IS NULL THEN pr.text
        |    ELSE coalesce(array_to_string(list_transform(
        |      list_filter(range(0, len(pr.ps)),
        |        i -> NOT list_contains(mp.mi, i)),
        |      i -> pr.ps[i+1]), chr(10)), '') END AS text,
        |  CAST(coalesce(len(mp.mi), 0) AS BIGINT) AS n_paras_removed
        |FROM pr LEFT JOIN mp ON pr.doc_id = mp.doc_id
        |ORDER BY pr.doc_id""".stripMargin,

    "q36_zorder" -> {
      val terms = (for {
        j <- 0 until 8
        (c, ci) <- Seq("l_partkey", "l_suppkey").zipWithIndex
      } yield s"(((($c % 256) >> $j) & 1) << ${j * 2 + ci})")
        .mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST($terms AS BIGINT) AS zval
         |FROM lineitem
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    "t20_url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://WWW.' || source ||
        |        '.Example.COM:443/Articles/' || doc_id ||
        |        '?utm_source=feed&id=' || doc_id || '&fbclid=xyz#sec2'
        |      WHEN doc_id % 5 = 1 THEN 'http://' || source ||
        |        '.example.org:80'
        |      WHEN doc_id % 5 = 2 THEN 'https://News.Example.net/' ||
        |        lang || '/story?ref=home&q=spark+scala'
        |      WHEN doc_id % 5 = 3
        |        THEN 'ftp://Files.example.com:21/pub/data.bin'
        |      ELSE 'not a url at all ' || doc_id END AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*)://.*$', 1)) AS scheme,
        |    lower(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*).*$', 1)) AS rawhost,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*).*$', 1) AS rest
        |  FROM u),
        |hp AS (
        |  SELECT *,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(
        |        regexp_replace(rawhost, '^www\.', ''), ':80$', '')
        |      WHEN scheme = 'https' THEN regexp_replace(
        |        regexp_replace(rawhost, '^www\.', ''), ':443$', '')
        |      ELSE regexp_replace(rawhost, '^www\.', '') END AS host,
        |    regexp_extract(rest, '^([^?]*).*$', 1) AS path,
        |    regexp_extract(rest, '^[^?]*\?(.*)$', 1) AS query
        |  FROM parts),
        |q AS (
    |  SELECT *, coalesce(array_to_string(
        |      list_filter(string_split(query, '&'),
        |      p -> NOT (regexp_matches(p,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)=')
        |        OR p = '')), '&'), '') AS cq
        |  FROM hp)
        |SELECT doc_id, url,
        |  CASE WHEN scheme = '' THEN url
        |    ELSE scheme || '://' || host ||
        |      (CASE WHEN path = '' THEN '/' ELSE path END) ||
        |      (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) END
        |    AS norm_url,
        |  host
        |FROM q ORDER BY doc_id""".stripMargin,

    // every merge replayed as a rank-order fixpoint of
    // separator-string replaces (see the bpeMerges scaladoc for the
    // equivalence conditions); full '|'-joined token stream compared
    "t29_bpe_tokenize" ->
      """WITH RECURSIVE m(midx, pat, rep) AS (
        |  SELECT row_number() OVER () AS midx,
        |    chr(31) || split_part(p, ' ', 1) || chr(31)
        |      || split_part(p, ' ', 2) || chr(31) AS pat,
        |    chr(31) || replace(p, ' ', '') || chr(31) AS rep
        |  FROM (VALUES ('t h'),('i n'),('a n'),('r e'),('o n'),('e r'),
        |    ('th e'),('in g'),('an d'),('o r'),('e s'),('s t'),('e d'),
        |    ('a t'),('o u'),('er s'),('on e')) v(p)),
        |docs AS (
        |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS st
        |  FROM documents),
        |w0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(string_split_regex(st, ' +'),
        |      (x, i) -> {'word': x, 'widx': i}), recursive := true)
        |  FROM docs),
        |w AS (SELECT doc_id, widx, word FROM w0 WHERE word <> ''),
        |init AS (
        |  SELECT doc_id, widx, 1 AS midx,
        |    chr(31) || array_to_string(regexp_split_to_array(word, ''),
        |      chr(31)) || chr(31) AS state
        |  FROM w),
        |rec AS (
        |  SELECT * FROM init
        |  UNION ALL
        |  SELECT doc_id, widx,
        |    CASE WHEN ns = state THEN midx + 1 ELSE midx END AS midx,
        |    ns AS state
        |  FROM (
        |    SELECT r.doc_id, r.widx, r.midx, r.state,
        |      replace(r.state, m.pat, m.rep) AS ns
        |    FROM rec r JOIN m ON m.midx = r.midx)),
        |fin AS (
        |  SELECT doc_id, widx, trim(state, chr(31)) AS t
        |  FROM rec WHERE midx = (SELECT max(midx) FROM m) + 1),
        |perword AS (
        |  SELECT doc_id, widx, replace(t, chr(31), '|') AS toks,
        |    len(string_split(t, chr(31))) AS n
        |  FROM fin),
        |perdoc AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bpe,
        |    string_agg(toks, '|' ORDER BY widx) AS toks
        |  FROM perword GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(p.n_bpe, 0) AS n_bpe,
        |  coalesce(p.toks, '') AS toks
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // identity: the round trip must hand back the source table
    "q38_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // identity: compaction must hand back the source table
    "q39_compact_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // identity: the tar-shard round trip must hand back every sample
    "q40_tar_roundtrip" ->
      """SELECT doc_id, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    "d22_editdist_pairs" ->
      """WITH du AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    CASE WHEN (doc_id + 1000000) % 3 = 0
        |           THEN substr(text, 1, 10) || 'Z' ||
        |                substr(text, 12, 1000000)
        |         WHEN (doc_id + 1000000) % 3 = 1
        |           THEN substr(text, 1, 10) || substr(text, 12, 1000000)
        |         ELSE text || '!?' END AS text
        |  FROM documents)
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |  levenshtein(a.text, b.text) AS dist
        |FROM du a JOIN du b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 2
        |WHERE levenshtein(a.text, b.text) <= 2
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    "d21_normalized_dedup" ->
      """WITH du AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, upper(text) || '  '
        |  FROM documents),
        |n AS (SELECT doc_id, lang,
        |  nfc_normalize(trim(regexp_replace(lower(text),
        |    '[ \t\n\v\f\r]+', ' ', 'g'))) AS norm
        |  FROM du),
        |k AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY norm)
        |SELECT n.doc_id, n.lang FROM n JOIN k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q34_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q37_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q35_pivot" ->
      """SELECT l_linestatus,
        |  round(sum(CASE WHEN l_returnflag = 'A'
        |    THEN l_quantity END), 2) AS A,
        |  round(sum(CASE WHEN l_returnflag = 'N'
        |    THEN l_quantity END), 2) AS N,
        |  round(sum(CASE WHEN l_returnflag = 'R'
        |    THEN l_quantity END), 2) AS R
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "t12_chunk_overlap" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+') AS tk
        |  FROM documents
        |  WHERE trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))
        |    <> ''),
        |st AS (
        |  SELECT doc_id, tk, len(tk) AS n,
        |    unnest(range(0, len(tk), 24)) AS s
        |  FROM base)
        |SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_index,
        |  CAST(least(s + 32, n) - s AS BIGINT) AS chunk_tokens,
        |  array_to_string(list_slice(tk, CAST(s + 1 AS BIGINT),
        |    least(s + 32, n)), ' ') AS chunk_text
        |FROM st
        |WHERE s = 0 OR least(s + 32, n) - s > 8
        |ORDER BY doc_id, chunk_index""".stripMargin,

    "t10_ngram_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(0, len(toks) - 2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))) END AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |      '[ \t\n\v\f\r]+') AS toks
        |    FROM documents)),
        |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
        |f AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
        |SELECT g.doc_id, count(*) AS n_ngrams,
        |  count(*) FILTER (WHERE f.df >= 2) AS n_common
        |FROM g JOIN f USING (gram)
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,

    "t9_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+'), x -> x != '') AS l
        |  FROM documents),
        |pw AS (
        |  SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(l) AS w FROM base) t0
        |  GROUP BY doc_id, w),
        |wagg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    count(*) AS n_distinct_words,
        |    CAST(max(c) AS BIGINT) AS top_word_n
        |  FROM pw GROUP BY doc_id),
        |pb AS (
        |  SELECT doc_id, b, count(*) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(
        |      generate_series(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i + 1])) AS b FROM base) t1
        |  GROUP BY doc_id, b),
        |bagg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    count(*) AS n_distinct_bigrams
        |  FROM pb GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(w.n_words, 0) AS n_words,
        |  COALESCE(w.n_distinct_words, 0) AS n_distinct_words,
        |  COALESCE(w.top_word_n, 0) AS top_word_n,
        |  COALESCE(b.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(b.n_distinct_bigrams, 0) AS n_distinct_bigrams
        |FROM documents d
        |LEFT JOIN wagg w USING (doc_id)
        |LEFT JOIN bagg b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "t8_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |        '@mail.example.com or call +1 555-01' ||
        |        CAST(doc_id AS VARCHAR) || '.',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '[EMAIL]', 'g'),
        |    '\+?[0-9]([()\- ]{0,2}[0-9]){6,}', '[PHONE]', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "s4_quantize_int8" ->
      """SELECT vec_id,
        |  array_to_string(
        |    CASE WHEN m = 0 THEN list_transform(e, x -> '0')
        |         ELSE list_transform(e, x ->
        |           CAST(CAST(floor(x * 127.0 / m + 0.5) AS INTEGER)
        |             AS VARCHAR))
        |    END, ',') AS q,
        |  m / 127.0 AS scale
        |FROM (
        |  SELECT vec_id, embedding::DOUBLE[] AS e,
        |    list_max(list_transform(embedding::DOUBLE[],
        |      x -> abs(x))) AS m
        |  FROM embeddings) t0
        |ORDER BY vec_id""".stripMargin,

    "p5_pack_chunks" ->
      """SELECT doc_id, shard,
        |  CAST(start AS BIGINT) AS start,
        |  CAST(start // 2048 AS BIGINT) AS chunk,
        |  CAST(start % 2048 AS BIGINT) AS "offset",
        |  CAST(CASE WHEN n_chars <= 0 THEN 0
        |    ELSE (start + n_chars - 1) // 2048 - start // 2048 + 1
        |  END AS BIGINT) AS chunks_spanned
        |FROM (
        |  SELECT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'shard'), 1, 1)
        |      AS shard,
        |    sum(n_chars) OVER (
        |      PARTITION BY
        |        substr(md5(CAST(doc_id AS VARCHAR) || chr(0) || 'shard'), 1, 1)
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_chars AS start,
        |    n_chars FROM documents) t0
        |ORDER BY doc_id""".stripMargin,

    "t7_token_bpeish" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[\p{L}\p{N}]+')) +
        |       length(regexp_replace(text, '[\p{L}\p{N} ]', '', 'g'))
        |    AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(regexp_split_to_array(trim(text,
        |    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)),
        |    '[ \t\n\v\f\r]+')) AS BIGINT) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m3_multimodal_frames" ->
      """WITH p AS (
        |  SELECT doc_id, 5 + doc_id % 11 AS f,
        |         (doc_id * 3) % 256 AS g0
        |  FROM documents),
        |sam AS (
        |  SELECT doc_id, i.i AS frame_idx, g0
        |  FROM p, range(0, 16) i(i)
        |  WHERE i.i < f AND i.i % 4 = 0)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  'jpeg' AS format,
        |  CAST((g0 + 7 * frame_idx) % 256 AS DOUBLE) AS mean_gray
        |FROM sam ORDER BY doc_id, frame_idx""".stripMargin,

    // resized dims are integer arithmetic (nearest-neighbour kernel
    // and integer-division targets), the re-encode is PNG, and solid
    // content survives any sampling kernel — mean gray is the input
    // gray level exactly
    "m13_image_resize" ->
      """WITH p AS (
        |  SELECT doc_id, 8 + doc_id % 29 AS w, 8 + doc_id % 17 AS h,
        |         doc_id % 256 AS g
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, g,
        |    CASE WHEN greatest(w, h) <= 24 THEN w
        |         ELSE greatest(w * 24 // greatest(w, h), 1) END AS rw,
        |    CASE WHEN greatest(w, h) <= 24 THEN h
        |         ELSE greatest(h * 24 // greatest(w, h), 1) END AS rh
        |  FROM p)
        |SELECT doc_id, 'png' AS format,
        |  CAST(rw AS BIGINT) AS width, CAST(rh AS BIGINT) AS height,
        |  CAST(g AS DOUBLE) AS mean_gray
        |FROM r ORDER BY doc_id""".stripMargin,

    "t3_text_stats" ->
      """WITH t AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\v\f\r]+') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n_tokens, length(text) AS n_chars2,
        |  length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE /
        |    length(text) AS pr,
        |  len(list_filter(toks, x -> list_contains(
        |    ['the','a','and','of','to','in','is'], x)))::DOUBLE / len(toks)
        |    AS sr
        |  FROM t)
        |SELECT doc_id, n_tokens, n_chars2, round(pr, 6) AS punct_ratio,
        |  round(sr, 6) AS stopword_ratio,
        |  round(0.5 * least(n_tokens / 100.0, 1.0) +
        |        0.3 * least(sr * 5.0, 1.0) +
        |        0.2 * (1.0 - least(pr * 10.0, 1.0)), 6) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "t4_langid" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\v\f\r]+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(toks, x -> list_contains(
        |    ['the','a','and','of','to','in','is'], x))) AS s_en,
        |  len(list_filter(toks, x -> list_contains(
        |    ['el','la','de','que','y','en','un'], x))) AS s_es,
        |  len(list_filter(toks, x -> list_contains(
        |    ['le','la','de','et','un','les','des'], x))) AS s_fr,
        |  len(list_filter(toks, x -> list_contains(
        |    ['der','die','das','und','ist','von','ein'], x))) AS s_de,
        |  len(list_filter(toks, x -> list_contains(
        |    ['的','是','不','了','在','有','我'], x))) AS s_zh
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'fr'
        |       WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'de'
        |       ELSE 'zh' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "t6_word_freq" ->
      """SELECT tok AS word, count(*) AS n
        |FROM (SELECT unnest(regexp_split_to_array(trim(text,
        |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\v\f\r]+')) AS tok
        |      FROM documents)
        |GROUP BY tok ORDER BY n DESC, word LIMIT 50""".stripMargin,

    "t5_fingerprint" ->
      """SELECT md5(regexp_replace(lower(text), '[^\p{L}\p{N}]', '', 'g'))
        |    AS fingerprint,
        |  min(doc_id) AS keeper_id, count(*) AS n
        |FROM documents
        |GROUP BY 1 ORDER BY keeper_id""".stripMargin,

    // the encode side is deterministic arithmetic over doc_id and the
    // decode side is a real codec, so the oracle needs only the
    // arithmetic: a wrong format name, dimension, or any wrongly
    // decoded pixel breaks the hash
    "m4_image_decode" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'bmp' ELSE 'gif' END AS format,
        |  doc_id % 29 + 8 AS width,
        |  doc_id % 17 + 8 AS height,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_gray
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same discipline as m4: encode side is arithmetic over doc_id,
    // decode side is the real JDK codec, oracle needs only the
    // arithmetic (duration = frames/rate in ms, computed as the same
    // IEEE double division on both engines)
    "m5_audio_decode" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'wave' WHEN 1 THEN 'aiff'
        |      ELSE 'au' END AS audio_format,
        |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 22050 ELSE 44100 END AS rate,
        |    doc_id % 2 + 1 AS channels,
        |    doc_id % 100 + 50 AS n_frames,
        |    CAST(doc_id % 1000 - 500 AS DOUBLE) AS mean_sample
        |  FROM documents)
        |SELECT doc_id, audio_format, rate AS sample_rate, channels,
        |  n_frames, mean_sample,
        |  round(CAST(n_frames AS DOUBLE) * 1000.0 / rate, 6)
        |    AS duration_ms
        |FROM p ORDER BY doc_id""".stripMargin,

    // content groups = doc_id mod 50 (the decoded-PCM hash ignores
    // the container); per-group distinct byte blobs = distinct
    // containers = count(DISTINCT doc_id % 3), since identical
    // (content, container) re-encodes are byte-identical and the
    // three containers never are
    "m8_audio_content_dedup" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_docs,
        |  count(DISTINCT doc_id % 3) AS n_distinct_blobs
        |FROM documents GROUP BY doc_id % 50
        |ORDER BY keeper_id""".stripMargin,

    // pure doc_id arithmetic: every decoded field (codec fourCC,
    // avih dims/frames, strh rate/scale, per-frame solid-gray means)
    // is determined by the encode parameters
    "m9_video_decode" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    doc_id % 16 + 16 AS w, doc_id % 9 + 16 AS h,
        |    doc_id % 6 + 3 AS nf, doc_id % 256 AS g0,
        |    CAST(doc_id % 20 + 10 AS DOUBLE) AS fps
        |  FROM documents)
        |SELECT doc_id, 'mjpg' AS codec, w AS width, h AS height,
        |  nf AS n_frames, round(fps, 6) AS fps,
        |  round(CAST(g0 AS DOUBLE), 6) AS mean_gray_first,
        |  round(list_sum(list_transform(range(0, nf),
        |    i -> CAST((g0 + 7 * i) % 256 AS DOUBLE))) / nf, 6)
        |    AS mean_gray_all
        |FROM p ORDER BY doc_id""".stripMargin,

    // the pixel grid rebuilt arithmetically (cell index inverted in
    // closed form: i = ceil(9(x+1)/w) - 1), cell means as the same
    // exact-integer-sum IEEE division, all 64 difference bits
    // replayed, packed as unsigned 32-bit halves
    "m6_image_dhash" ->
      """WITH p AS (
        |  SELECT doc_id, 9 + doc_id % 28 AS w, 8 + doc_id % 17 AS h,
        |         (doc_id * 7) % 256 AS seed
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, seed, x.x, y.y,
        |    (9 * (x.x + 1) + w - 1) // w - 1 AS i,
        |    (8 * (y.y + 1) + h - 1) // h - 1 AS j,
        |    CAST((seed + 53 * x.x * x.x + 31 * y.y * y.y
        |          + 97 * x.x * y.y) % 256 AS DOUBLE) AS gray
        |  FROM p, range(0, 36) x(x), range(0, 24) y(y)
        |  WHERE x.x < w AND y.y < h),
        |m AS (
        |  SELECT doc_id, j, i, avg(gray) AS mean
        |  FROM px GROUP BY 1, 2, 3),
        |b AS (
        |  SELECT a.doc_id, a.j * 8 + a.i AS idx,
        |    CASE WHEN a.mean < n.mean THEN 1 ELSE 0 END AS bit
        |  FROM m a JOIN m n ON a.doc_id = n.doc_id AND a.j = n.j
        |    AND n.i = a.i + 1
        |  WHERE a.i < 8)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN idx >= 32
        |    THEN bit * (1::BIGINT << CAST(idx - 32 AS INT))
        |    ELSE 0 END) AS BIGINT) AS dhash_hi,
        |  CAST(sum(CASE WHEN idx < 32
        |    THEN bit * (1::BIGINT << CAST(idx AS INT))
        |    ELSE 0 END) AS BIGINT) AS dhash_lo
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // m6's hash replay over corpus ∪ copies, then the EXACT all-pairs
    // hamming join at the threshold — the banded path must reproduce
    // it bit for bit (pigeonhole recall is exact at hamming ≤ 3)
    "m7_image_neardup" ->
      """WITH ids AS (
        |  SELECT doc_id, doc_id AS src FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id FROM documents
        |  WHERE doc_id % 10 = 0),
        |p AS (
        |  SELECT ids.doc_id, 9 + src % 28 AS w, 8 + src % 17 AS h,
        |         (src * 7) % 256 AS seed
        |  FROM ids),
        |px AS (
        |  SELECT doc_id, w, h, seed, x.x, y.y,
        |    (9 * (x.x + 1) + w - 1) // w - 1 AS i,
        |    (8 * (y.y + 1) + h - 1) // h - 1 AS j,
        |    CAST((seed + 53 * x.x * x.x + 31 * y.y * y.y
        |          + 97 * x.x * y.y) % 256 AS DOUBLE) AS gray
        |  FROM p, range(0, 36) x(x), range(0, 24) y(y)
        |  WHERE x.x < w AND y.y < h),
        |m AS (
        |  SELECT doc_id, j, i, avg(gray) AS mean
        |  FROM px GROUP BY 1, 2, 3),
        |b AS (
        |  SELECT a.doc_id, a.j * 8 + a.i AS idx,
        |    CASE WHEN a.mean < n.mean THEN 1 ELSE 0 END AS bit
        |  FROM m a JOIN m n ON a.doc_id = n.doc_id AND a.j = n.j
        |    AND n.i = a.i + 1
        |  WHERE a.i < 8),
        |hs AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN idx >= 32
        |      THEN bit * (1::BIGINT << CAST(idx - 32 AS INT))
        |      ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN idx < 32
        |      THEN bit * (1::BIGINT << CAST(idx AS INT))
        |      ELSE 0 END) AS BIGINT) AS lo
        |  FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS doc_id_1, c.doc_id AS doc_id_2,
        |  CAST(bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo))
        |    AS BIGINT) AS hamming
        |FROM hs a JOIN hs c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    // analytic replay of the audio energy-envelope bits: segment k's
    // energy is segFrames·a_k² with
    // a_k = wang32(seed·65537 + k·8191) mod 181 − 90 (the public
    // low-bias 32-bit hash spelled as explicit mod-2³² steps — DuckDB
    // BIGINT replays each step exactly, and hash-grade bits keep the
    // fixture's true pair set LINEAR in corpus size; see
    // encodeTestAudioPattern's scaladoc for the measured collapse the
    // earlier closed form caused). The per-doc constant segFrames
    // cancels in the ordering, so the bits compare a_k² directly
    "m10_audio_fingerprint" ->
      """WITH p AS (
        |  SELECT doc_id, (doc_id * 13) % 15485863 AS seed FROM documents),
        |h0 AS (
        |  SELECT doc_id, k.k AS k,
        |    (seed * 65537 + k.k * 8191) % 4294967296 AS h
        |  FROM p, range(0, 65) k(k)),
        |h1 AS (SELECT doc_id, k,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT doc_id, k,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |e AS (
        |  SELECT doc_id, k,
        |    CAST((xor(h, h // 65536) % 181 - 90)
        |       * (xor(h, h // 65536) % 181 - 90) AS BIGINT) AS en
        |  FROM h2),
        |b AS (
        |  SELECT a.doc_id, a.k AS idx,
        |    CASE WHEN a.en < n.en THEN 1 ELSE 0 END AS bit
        |  FROM e a JOIN e n ON a.doc_id = n.doc_id AND n.k = a.k + 1
        |  WHERE a.k < 64)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN idx >= 32
        |    THEN bit * (1::BIGINT << CAST(idx - 32 AS INT))
        |    ELSE 0 END) AS BIGINT) AS afp_hi,
        |  CAST(sum(CASE WHEN idx < 32
        |    THEN bit * (1::BIGINT << CAST(idx AS INT))
        |    ELSE 0 END) AS BIGINT) AS afp_lo
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // m10's bit replay over corpus ∪ re-gained re-containered copies
    // (gain scales every energy by gain² — the ordering, hence every
    // bit, is unchanged, so copies share their source's fingerprint),
    // then the exact all-pairs hamming join at the threshold
    "m11_audio_neardup" ->
      """WITH ids AS (
        |  SELECT doc_id, doc_id AS src FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id FROM documents
        |  WHERE doc_id % 10 = 0),
        |p AS (
        |  SELECT ids.doc_id, (src * 13) % 15485863 AS seed FROM ids),
        |h0 AS (
        |  SELECT doc_id, k.k AS k,
        |    (seed * 65537 + k.k * 8191) % 4294967296 AS h
        |  FROM p, range(0, 65) k(k)),
        |h1 AS (SELECT doc_id, k,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT doc_id, k,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |e AS (
        |  SELECT doc_id, k,
        |    CAST((xor(h, h // 65536) % 181 - 90)
        |       * (xor(h, h // 65536) % 181 - 90) AS BIGINT) AS en
        |  FROM h2),
        |b AS (
        |  SELECT a.doc_id, a.k AS idx,
        |    CASE WHEN a.en < n.en THEN 1 ELSE 0 END AS bit
        |  FROM e a JOIN e n ON a.doc_id = n.doc_id AND n.k = a.k + 1
        |  WHERE a.k < 64),
        |hs AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN idx >= 32
        |      THEN bit * (1::BIGINT << CAST(idx - 32 AS INT))
        |      ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN idx < 32
        |      THEN bit * (1::BIGINT << CAST(idx AS INT))
        |      ELSE 0 END) AS BIGINT) AS lo
        |  FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS doc_id_1, c.doc_id AS doc_id_2,
        |  CAST(bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo))
        |    AS BIGINT) AS hamming
        |FROM hs a JOIN hs c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    // temporal luminance fingerprint replay: frame j of a video with
    // seed s is solid gray wang32(s·65537 + j·8191) mod 256 (exact
    // MJPEG decode; hash-grade bits — see the audio oracle note),
    // sample i reads frame (i·F)//65, bit i compares
    // consecutive samples; re-encodes share seed and F (dims/fps
    // differ — the fingerprint doesn't see them), then the exact
    // all-pairs hamming join
    "m12_video_neardup" ->
      """WITH ids AS (
        |  SELECT doc_id, doc_id AS src FROM documents
        |  WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id FROM documents
        |  WHERE doc_id % 21 = 0),
        |p AS (
        |  SELECT ids.doc_id, (src * 17) % 15485863 AS seed,
        |         66 + src % 6 AS f
        |  FROM ids),
        |s0 AS (
        |  SELECT doc_id, i.i AS i,
        |    (seed * 65537 + ((i.i * f) // 65) * 8191) % 4294967296 AS h
        |  FROM p, range(0, 65) i(i)),
        |s1 AS (SELECT doc_id, i,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM s0),
        |s2 AS (SELECT doc_id, i,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM s1),
        |s AS (SELECT doc_id, i,
        |  xor(h, h // 65536) % 256 AS g FROM s2),
        |b AS (
        |  SELECT a.doc_id, a.i AS idx,
        |    CASE WHEN a.g < n.g THEN 1 ELSE 0 END AS bit
        |  FROM s a JOIN s n ON a.doc_id = n.doc_id AND n.i = a.i + 1
        |  WHERE a.i < 64),
        |hs AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN idx >= 32
        |      THEN bit * (1::BIGINT << CAST(idx - 32 AS INT))
        |      ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN idx < 32
        |      THEN bit * (1::BIGINT << CAST(idx AS INT))
        |      ELSE 0 END) AS BIGINT) AS lo
        |  FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS doc_id_1, c.doc_id AS doc_id_2,
        |  CAST(bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo))
        |    AS BIGINT) AS hamming
        |FROM hs a JOIN hs c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,

    "m1_multimodal_bytes" ->
      """SELECT doc_id, octet_length(text::BLOB) AS n_bytes,
        |  sha256(text) AS sha256,
        |  lower(substring(hex(text), 1, 16)) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m2_multimodal_pipeline" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(text::BLOB) AS n_bytes,
        |    sha256(text) AS sha256, hex(text::BLOB) AS h
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_bytes, sha256,
        |    list_transform(range(0, n_bytes), i ->
        |      strpos('0123456789ABCDEF',
        |        substring(h, CAST(2 * i + 1 AS INT), 1)) - 1) AS highs
        |  FROM b)
        |SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, sha256,
        |  array_to_string(list_transform(range(0, 16), j ->
        |    len(list_filter(highs, x -> x = j))), ',') AS bin_counts
        |FROM f ORDER BY doc_id""".stripMargin,
  )
}
