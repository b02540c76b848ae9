package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `curation-batch`: a fixed list of SparkEntry gates built and run in
  * batch mode to a noop sink over generated testdata-shaped tables. No
  * micro-batch executor and no state store: streaming changes should
  * leave it flat, driver and operator changes show here. Each gate is
  * one result, timed from the start of its build to the end of its run.
  */
object CurationBatch {

  /** The table each gate reads most of, for the rows-per-second figure. */
  private val gateTable = Map(
    "d4_minhash_pairs" -> "documents", "d22_editdist_pairs" -> "documents",
    "d48_session_health_monitor" -> "events",
    "s14_ann_ivfpq_appended" -> "embeddings",
    "t14_gopher_rules" -> "documents", "t41_auc" -> "documents",
    "t47_calibrate_by" -> "documents", "q31_approx_percentile" -> "lineitem")

  final case class Gate(name: String, buildMs: Double, runS: Double)
  final case class Pass(gates: Seq[Gate], seconds: Double, cpuS: Double)

  private def writeTables(spark: SparkSession, ctx: RunCtx, dir: File): Map[String, Long] = {
    val p = ctx.params
    val counts = Map("documents" -> p.int("documents"),
      "embeddings" -> p.int("embeddings"), "events" -> p.int("events"),
      "lineitem" -> p.int("lineitem"))
    Gen.tables(spark, ctx.seed, counts("documents"), counts("embeddings"),
        counts("events"), counts("lineitem"))
      .foreach { case (name, df) =>
        Files2.writeSingleParquet(df, new File(dir, s"$name.parquet"))
      }
    counts.map { case (k, v) => k -> v.toLong }
  }

  private def pass(spark: SparkSession, gates: Seq[String], data: File,
                   tracer: Tracer): Pass = {
    val cpu0 = Proc.cpuSeconds
    val t0 = Clock.nowMs
    val out = gates.map { g =>
      val b0 = Clock.nowMs
      val df = SparkEntry.queries(g)(spark, data.getPath)
      val b1 = Clock.nowMs
      df.write.format("noop").mode("overwrite").save()
      val r1 = Clock.nowMs
      if (tracer.listening) {
        val id = tracer.add(s"gate $g", "operators", b0, r1)
        tracer.add("build", "operators", b0, b1, id)
        tracer.add("run", "operators", b1, r1, id)
      }
      Gate(g, b1 - b0, (r1 - b1) / 1000.0)
    }
    Pass(out, (Clock.nowMs - t0) / 1000.0, Proc.cpuSeconds - cpu0)
  }

  def run(ctx: RunCtx): Outcome = {
    val p = ctx.params
    val tracer = new Tracer(ctx.tag, ctx.trace)
    val gates = p.strs("gates")
    require(gates.forall(gateTable.contains),
      s"no input table known for ${gates.filterNot(gateTable.contains)}")

    // set-up, several times: session, tables generated and written,
    // first gate built
    var spark: SparkSession = null
    var data: File = null
    var rows: Map[String, Long] = Map.empty
    val setupsPlans = (0 until ctx.setupPasses).map { i =>
      if (spark != null) spark.stop()
      val s0 = if (i == 0) ctx.mainEntryMs else Clock.nowMs
      spark = graft.Graft.session(ctx.cores, "perfbench-curation-batch")
      data = ctx.dir(s"data-$i")
      rows = writeTables(spark, ctx, data)
      val b0 = Clock.nowMs
      SparkEntry.queries(gates.head)(spark, data.getPath)
      val b1 = Clock.nowMs
      ((b1 - s0) / 1000.0, b1 - b0)
    }
    val (setups, plans) = setupsPlans.unzip

    // the gate outputs for the DuckDB oracle comparison, one directory
    // per gate so the gates can be compared in parallel. This untimed
    // pass is also the warm-up: a cold first pass runs slower, and it
    // would otherwise be the only pass of a short run
    val verify = gates.map { g =>
      val dir = ctx.dir(s"verify/$g")
      SparkEntry.queries(g)(spark, data.getPath).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$g")
      Json.writeFile(new File(dir, "oracle_sql.json"),
        Map(g -> SparkEntry.oracleSql(g)))
      Json.writeFile(new File(dir, "queries.json"), Seq(g))
      dir.getPath
    }

    // timed passes, at least two: the JIT is still at work after the
    // check pass (each of the next few passes uses 10-20 % less CPU than
    // the one before), so runs holding one pass and runs holding two
    // would read far apart. A traced run has the listeners attached for
    // exactly these passes
    if (ctx.trace) tracer.attach(spark)
    val until = Clock.nowMs + ctx.seconds * 1000.0
    val passes = Seq.newBuilder[Pass]
    var k = 0
    do { passes += pass(spark, gates, data, tracer); k += 1 }
    while (k < 2 || Clock.nowMs < until)
    tracer.detach()
    val timed = passes.result()

    val oracle = Map("oracle_check" -> Map("data" -> data.getPath,
      "out" -> verify))

    val lat = timed.flatMap(_.gates.map(g => g.buildMs + g.runS * 1000))
    val batchS = Stats.median(timed.map(_.seconds))
    val rowsPerPass = gates.map(g => rows(gateTable(g))).sum
    val e2e = Map("setup_s" -> Stats.median(setups),
      "latency_p50_ms" -> Stats.median(lat),
      "latency_p90_ms" -> Stats.quantile(lat, 0.9),
      "throughput_eps" -> rowsPerPass / batchS,
      "cpu_s" -> Stats.median(timed.map(_.cpuS)))
    val named = Map("batch_s" -> batchS, "passes" -> timed.size,
      "pass_s" -> timed.map(_.seconds), "pass_cpu_s" -> timed.map(_.cpuS),
      "gate_s" -> timed.last.gates.map(g => g.name -> (g.buildMs / 1000 + g.runS)).toMap,
      "rows_per_pass" -> rowsPerPass, "setup_s_samples" -> setups)
    if (!ctx.trace) {
      spark.stop()
      return Outcome(gates.size, 0, e2e, Map.empty, Map("named" -> named) ++ oracle)
    }

    // ------------------------------------------------------------ traced
    val docs = Gen.docs(new java.util.SplittableRandom(ctx.seed), p.int("micro_rows"))
    val micro = Map(
      "api.decode_eps" -> Micro.decodeEps(spark, docs.toSeq.map { d =>
        val ts = 1700000000000L + d.id
        (Gen.docPayload(d.id, d.text, ts), ts)
      }, Gen.docSchema, tracer),
      "expressions.simhash_eps" -> Micro.simhashEps(spark,
        docs.toSeq.map(_.text), tracer))
    val engine = tracer.engine
    spark.stop()
    val spans = tracer.finalSpans()
    val perGate = gates.flatMap { g =>
      val gs = timed.flatMap(_.gates.filter(_.name == g))
      Seq(s"gates.$g.build_ms" -> Stats.median(gs.map(_.buildMs)),
        s"gates.$g.run_s" -> Stats.median(gs.map(_.runS)))
    }
    val layer = engine ++ micro ++ perGate ++
      Map("api.plan_ms" -> Stats.median(plans)) ++
      Trace.selfMetrics(tracer.selfMs(spans))
    Outcome(gates.size, 0, e2e, layer, Map("named" -> named,
      "spans" -> Trace.spanRows(spans)) ++ oracle)
  }
}
