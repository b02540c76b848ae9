package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the optimizations we rely on at scale
  * must actually appear in the plan, not just be hoped for.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def plan(name: String, mode: String = "formatted"): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  test("q2 filter+projection push down to the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(l_discount"), s"no pushed filters:\n$p")
    // column pruning: scan must not read unused columns like l_tax
    assert(p.contains("ReadSchema"))
    assert(!p.split("ReadSchema")(1).split("\n")(0).contains("l_tax"),
      "scan reads columns the query never uses")
  }

  test("q3 dimension joins are broadcast, not shuffled") {
    val p = plan("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q1 aggregate is two-phase (partial before shuffle)") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("partial_"),
      s"no map-side partial aggregation:\n$p")
  }

  test("q1 stays inside whole-stage codegen") {
    val p = plan("q1_agg", "codegen")
    assert(p.contains("WholeStageCodegen"), p)
  }

  test("jaccard inverted-index join keys on (block, shingle), not block") {
    val p = plan("d3_jaccard_pairs")
    assert(p.contains("__shingle"),
      "join must include the shingle in its key for parallelism")
  }

  test("q23 as-of plans a join-free window merge") {
    val p = plan("q23_asof_join")
    assert(p.contains("Window"), s"merge form must plan a window:\n$p")
    // the merge carries the matched right row through the window —
    // zero joins in the whole plan, so zero candidate fan-out
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"as-of merge must be join-free:\n$p")
  }

  test("no accidental cartesian products anywhere in the suite") {
    // s1 brute-force top-k is a DELIBERATE broadcast cross product
    // (small query side); everything else must plan equi-joins
    val allowed = Set("s1_sim_topk")
    for (name <- SparkEntry.queries.keys if !allowed(name)) {
      val p = plan(name, "simple")
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product")
    }
  }

  test("d41 drift monitor is one two-phase aggregate: no join, no " +
      "second exchange, baseline rides as literals") {
    val p = plan("d41_drift_monitor", "simple")
    assert(!p.contains("Join"), s"drift monitor must not join:\n$p")
    // one shuffle total: the partial->final aggregate exchange (plus
    // nothing for the literal baseline)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, // agg exchange + the orderBy's range part.
      s"drift monitor plans $exchanges exchanges:\n$p")
    val pf = plan("d41_drift_monitor")
    assert(pf.contains("partial_"),
      s"no map-side partial aggregation:\n$pf")
  }

  test("d44 centroid drift aggregates vec_sum under " +
      "ObjectHashAggregate with map-side partials, no join") {
    val p = plan("d44_centroid_drift")
    assert(p.contains("ObjectHashAggregate"),
      s"vec_sum must run under ObjectHashAggregate:\n$p")
    assert(p.contains("partial_"),
      s"no map-side partial aggregation:\n$p")
    assert(!p.contains("Join"), s"centroid drift must not join:\n$p")
  }

  test("s12 label cohesion broadcasts the centroid table (never " +
      "shuffles the corpus against it)") {
    val p = plan("s12_label_cohesion", "simple")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"centroids must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"label cohesion must not plan a cartesian product:\n$p")
  }

  test("t14 orderedSource: heavy projection over a per-partition Sort " +
      "over a range exchange pinned at the shuffle partition count") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{ProjectExec, SortExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
      ShuffleExchangeExec}
    // the gate has no final orderBy: its global doc_id order rides on
    // the range partitions' index order plus the in-partition sort, so
    // both must be in the plan, with the exchange safe from AQE
    // coalescing (an explicit-count repartition) and the heavy rule
    // battery evaluated above them
    val p = SparkEntry.queries("t14_gopher_rules")(spark, sf)
      .queryExecution.sparkPlan
    val n = spark.sessionState.conf.numShufflePartitions
    val ranges = p.collect {
      case x: ShuffleExchangeExec
          if x.outputPartitioning.isInstanceOf[RangePartitioning] => x
    }
    assert(ranges.size == 1 &&
      ranges.head.outputPartitioning.numPartitions == n &&
      ranges.head.shuffleOrigin == REPARTITION_BY_NUM,
      s"expected one range exchange pinned at $n partitions:\n$p")
    assert(p.collect { case s: SortExec if s.global => s }.isEmpty,
      s"orderedSource must not plan a global sort:\n$p")
    val heavy = p.collect { // the projection that computes the rules
      case pr: ProjectExec if pr.projectList.exists {
        case a: Alias => a.name == "n_required_hits"
        case _ => false
      } => pr
    }
    assert(heavy.size == 1, s"expected one rule-battery projection:\n$p")
    assert(heavy.head.exists {
      case s: SortExec => !s.global && (s.child eq ranges.head)
      case _ => false
    }, s"the rule battery must run over a per-partition Sort of the " +
      s"range exchange:\n$p")
  }

  test("session sizes shuffle partitions to cores, AQE on") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // Graft.session sets shuffle partitions = its cores argument; assert
    // that exact wiring (a fixed ceiling would flake on big hosts, and
    // "not 200" alone wouldn't catch the conf being dropped)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4",
      "shuffle partitions must equal the session's core count, " +
        "not Spark's 200 default")
  }

  test("withoutPlanStats keeps an iterative checkpoint loop's size " +
      "estimate bounded (no round-over-round compounding)") {
    import org.apache.spark.sql.graftshim.GraftColumnBridge
    import spark.implicits._
    // checkpoints inherit the origin plan's estimated sizeInBytes, and
    // a join estimate is the PRODUCT of its children's — so a loop of
    // self-join → checkpoint squares the estimate every round (the
    // BigInt's digit count doubles; by round ~12 the driver spins in
    // BigInteger multiplication just computing stats). The CC loops
    // reset stats each round; this pins the mechanism.
    def round(df: org.apache.spark.sql.DataFrame) =
      df.join(df.select($"id".as("id2")), $"id" === $"id2")
        .select($"id").localCheckpoint()
    var noReset = (1L to 64L).toDF("id").localCheckpoint()
    var withReset = noReset
    for (_ <- 1 to 6) {
      noReset = round(noReset)
      withReset = GraftColumnBridge.withoutPlanStats(round(withReset))
    }
    val grown = noReset.queryExecution.optimizedPlan.stats.sizeInBytes
    val bounded =
      withReset.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(grown.bitLength > 200,
      s"expected the unreset estimate to compound past 2^200, got " +
        s"bitLength ${grown.bitLength} — has Spark stopped " +
        "inheriting originStats?")
    assert(bounded.bitLength <= 64,
      s"reset estimate must stay at the leaf default, got bitLength " +
        s"${bounded.bitLength}")
    // and the data must ride through untouched
    assert(withReset.count() == 64)
  }

  test("v1 validation suite is ONE two-phase aggregate over one " +
      "pruned scan: no join, map-side partials, unchecked columns " +
      "never read") {
    val p = plan("v1_validate", "simple")
    assert(!p.contains("Join"), s"validation must not join:\n$p")
    val pf = plan("v1_validate")
    assert(pf.contains("partial_"),
      s"no map-side partial aggregation:\n$pf")
    // the suite touches text/doc_id/n_chars/lang — source must NOT
    // reach the scan schema
    assert(pf.contains("ReadSchema"))
    assert(!pf.split("ReadSchema")(1).split("\n")(0).contains("source"),
      "scan reads a column no check watches")
  }

  test("v3 profile prunes the scan to the profiled column subset") {
    val p = graft.operators.Validate
      .profile(Graft.table(spark, sf, "documents"), Seq("n_chars"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(
          "formatted"))
    assert(p.contains("ReadSchema"))
    val rs = p.split("ReadSchema")(1).split("\n")(0)
    assert(rs.contains("n_chars") && !rs.contains("text") &&
      !rs.contains("lang"),
      s"single-column profile reads extra columns: $rs")
    assert(!p.contains("Join"))
  }

  test("d49 outlier report: the returned frame is a LOCAL relation " +
      "— the corpus group-by scan ran exactly once at build time, " +
      "and consuming the report re-scans nothing") {
    val p = plan("d49_outlier_report")
    assert(!p.contains("Join"), s"outlier report must not join:\n$p")
    assert(p.contains("LocalTableScan"),
      s"report must come back as a local relation (the bounded " +
        s"group table, collected once):\n$p")
    assert(!p.contains("Scan parquet") && !p.contains("FileScan"),
      s"consuming the report must not re-scan the corpus:\n$p")
  }

  test("thresholdSweep (keyed and global) is ONE two-phase " +
      "aggregate: no join, map-side partials, one exchange") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val df = Seq(("a", 1, 0.5), ("b", 0, 0.2)).toDF("src", "y", "s")
    for (by <- Seq(Seq.empty[String], Seq("src"))) {
      val p = TextAnalysis.thresholdSweep(df, "y", "s",
          Seq(0.0, 0.5), by = by)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Join"),
        s"sweep (by=$by) must not join:\n$p")
      assert(p.contains("partial_"),
        s"sweep (by=$by) needs map-side partial aggregation:\n$p")
      assert("Exchange".r.findAllIn(p).size <= 1,
        s"sweep (by=$by) must be one aggregate exchange:\n$p")
    }
  }

  test("applyThresholds joins the picks BROADCAST (data rows never " +
      "shuffle) and brierScore is ONE two-phase aggregate") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val scored = Seq(("a", 1L, 0.5), ("b", 2L, 0.2))
      .toDF("src", "id", "s")
    val picks = Seq(("a", 0.4), ("b", 0.1)).toDF("src", "threshold")
    val pa = TextAnalysis.applyThresholds(scored, picks, "s",
      Seq("src")).queryExecution.executedPlan.toString
    assert(pa.contains("BroadcastHashJoin") ||
      pa.contains("BroadcastNestedLoopJoin"),
      s"picks must ship broadcast:\n$pa")
    assert(!pa.contains("SortMergeJoin") &&
      !pa.contains("ShuffledHashJoin"),
      s"the corpus side must not shuffle for the filter:\n$pa")
    for (by <- Seq(Seq.empty[String], Seq("src"))) {
      val pb = TextAnalysis.brierScore(scored.withColumn("y",
          org.apache.spark.sql.functions.lit(1)), "y", "s", by = by)
        .queryExecution.executedPlan.toString
      assert(!pb.contains("Join"),
        s"brier (by=$by) must not join:\n$pb")
      assert(pb.contains("partial_"),
        s"brier (by=$by) needs map-side partials:\n$pb")
      assert("Exchange".r.findAllIn(pb).size <= 1,
        s"brier (by=$by) must be one aggregate exchange:\n$pb")
    }
  }

  test("aucReport / prAucReport: grouped pass + two-level bucketed " +
      "rank — NO window ever partitions by the group alone (the " +
      "ungrouped spelling has no single-partition Window; the keyed " +
      "one always adds the score bucket), joins are broadcast-only") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val df = Seq((1, 0.5), (0, 0.2), (1, 0.2)).toDF("y", "s")
    val keyed = Seq(("a", 1, 0.5), ("a", 0, 0.2), ("b", 1, 0.2))
      .toDF("src", "y", "s")
    for ((name, rep, nBy) <- Seq(
        ("auc", TextAnalysis.aucReport(df, "y", "s"), 0),
        ("prAuc", TextAnalysis.prAucReport(df, "y", "s"), 0),
        ("auc by", TextAnalysis.aucReport(keyed, "y", "s",
          by = Seq("src")), 1),
        ("prAuc by", TextAnalysis.prAucReport(keyed, "y", "s",
          by = Seq("src")), 1),
        // the curve TABLES (round 16) ride the same two-level rank
        // and inherit the same pins
        ("roc", TextAnalysis.rocCurve(df, "y", "s"), 0),
        ("roc by", TextAnalysis.rocCurve(keyed, "y", "s",
          by = Seq("src")), 1),
        ("pr curve by", TextAnalysis.prCurve(keyed, "y", "s",
          by = Seq("src")), 1))) {
      val wins = rep.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.nonEmpty, s"$name ranks via within-bucket windows")
      wins.foreach { w =>
        assert(w.partitionSpec.size > nBy,
          s"$name has a Window partitioned by the group alone " +
            s"(${w.partitionSpec}) — the single-task rank shape:\n" +
            rep.queryExecution.optimizedPlan)
      }
      val p = rep.queryExecution.executedPlan.toString
      assert(p.contains("partial_"),
        s"$name needs map-side partial aggregation on the " +
          s"distinct-score group:\n$p")
      // histogram offsets/stats ship broadcast; the only shuffle
      // joins allowed would be corpus-sized — there are none
      assert(!p.contains("SortMergeJoin") &&
        !p.contains("ShuffledHashJoin"),
        s"$name joins must all be broadcast (histogram-sized):\n$p")
    }
  }
}
