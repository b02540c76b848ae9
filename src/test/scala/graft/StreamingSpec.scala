package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.api.DataStream
import graft.api.WindowShape.{Fixed, Session}

/** The reference's canonical measurement event
  * (/root/reference/examples/src/lib.rs:3-17, FIXTURES.md §1).
  */
case class Measurement(occurred_at_ms: Long, sensor_name: String,
                       reading: Double)

/** Measurement with a nullable reading, for null-semantics specs. */
case class NullableMeasurement(occurred_at_ms: Long, sensor_name: String,
                               reading: Option[Double])

class StreamingSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def measurementStream()
      : (MemoryStream[Measurement], DataStream) = {
    val input = MemoryStream[Measurement](spark)
    val ds = DataStream(
      input.toDF.withColumn("ts", timestamp_millis($"occurred_at_ms")), "ts")
    (input, ds)
  }

  test("tumbling window emits on watermark pass; late data dropped") {
    val (input, ds) = measurementStream()
    val windowed = ds.window(Seq($"sensor_name"),
      Seq(count(lit(1)).as("n"), round(avg($"reading"), 4).as("avg_r")),
      "10 seconds")
    val q = windowed.sinkMemory("tumble_out")
    try {
      // window [0,10s): 3 readings for sensor a, 1 for b
      input.addData(
        Measurement(1000, "a", 1.0), Measurement(2000, "a", 2.0),
        Measurement(9000, "a", 3.0), Measurement(3000, "b", 10.0))
      q.processAllAvailable()
      // advance event time past window end → watermark passes 10s
      input.addData(Measurement(15000, "a", 99.0))
      q.processAllAvailable()
      val emitted = spark.table("tumble_out")
        .orderBy("sensor_name").collect()
      assert(emitted.length == 2)
      val a = emitted(0)
      assert(a.getAs[String]("sensor_name") == "a")
      assert(a.getAs[Long]("n") == 3)
      assert(a.getAs[Double]("avg_r") == 2.0)
      assert(emitted(1).getAs[Long]("n") == 1)

      // a late row for the already-emitted window [0,10s) must be
      // dropped (reference: FullWindowAggStream late-batch drop,
      // streaming_window.rs:882-1035)
      input.addData(Measurement(5000, "a", 1000.0))
      input.addData(Measurement(25000, "a", 1.0))
      q.processAllAvailable()
      val after = spark.table("tumble_out")
        .filter($"sensor_name" === "a" &&
          $"window_start_time".cast("long") === 0).collect()
      assert(after.length == 1 && after(0).getAs[Long]("n") == 3,
        "late row must not re-open or re-emit the closed window")
    } finally q.stop()
  }

  test("sliding window assigns rows to every overlapping frame") {
    val (input, ds) = measurementStream()
    val windowed = ds.window(Seq($"sensor_name"),
      Seq(count(lit(1)).as("n")), "10 seconds", Some("5 seconds"))
    val q = windowed.sinkMemory("slide_out")
    try {
      input.addData(Measurement(7000, "a", 1.0))   // windows [0,10) [5,15)
      input.addData(Measurement(30000, "a", 0.0))  // advance watermark
      q.processAllAvailable()
      val rows = spark.table("slide_out")
        .filter($"n" === 1 && $"window_start_time".cast("long") < 15)
        .orderBy($"window_start_time").collect()
      assert(rows.map(_.getAs[java.sql.Timestamp]("window_start_time").getTime)
        .toSeq == Seq(0L, 5000L))
    } finally q.stop()
  }

  test("session window merges gap<5s and emits start/end") {
    val (input, ds) = measurementStream()
    val sessioned = ds.sessionWindow(Seq($"sensor_name"),
      Seq(count(lit(1)).as("n")), "5 seconds")
    val q = sessioned.sinkMemory("sess_out")
    try {
      input.addData(Measurement(0, "a", 1.0), Measurement(3000, "a", 1.0),
        Measurement(6000, "a", 1.0))
      q.processAllAvailable()
      input.addData(Measurement(60000, "a", 1.0)) // watermark far ahead
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Long]("n") == 3)
      assert(rows(0).getAs[java.sql.Timestamp]("window_start_time").getTime == 0)
      // session end = last event + gap
      assert(rows(0).getAs[java.sql.Timestamp]("window_end_time").getTime == 11000)
    } finally q.stop()
  }

  test("global session window on a stream: no group key, closed " +
      "sessions emit") {
    val (input, ds) = measurementStream()
    val sessioned = ds.sessionWindow(Seq.empty,
      Seq(count(lit(1)).as("n")), "5 seconds")
    assert(sessioned.df.columns.toSeq ==
      Seq("n", "window_start_time", "window_end_time"))
    val q = sessioned.sinkMemory("global_sess_out")
    try {
      // two sensors, one burst: the session spans both keys
      input.addData(Measurement(0, "a", 1.0), Measurement(3000, "b", 1.0),
        Measurement(6000, "a", 1.0))
      q.processAllAvailable()
      input.addData(Measurement(60000, "a", 1.0)) // watermark far ahead
      q.processAllAvailable()
      val rows = spark.table("global_sess_out")
        .select("n", "window_start_time", "window_end_time")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect()
        .map { case (n, s, e) => (n, s.getTime, e.getTime) }.toList
      assert(rows == List((3L, 0L, 11000L)))
    } finally q.stop()
  }

  // a's two rows and b's one, reduced per frame by the fluent bridges
  private val exactData = Seq(Measurement(1000, "a", 1.0),
    Measurement(4000, "a", 3.0), Measurement(8000, "b", 5.0),
    Measurement(60000, "z", 0.0))
  private def exactAggs = {
    import graft.streaming.ExactWindow.ExactAgg
    Seq(ExactAgg.count("n", "reading"), ExactAgg.sum("s", "reading"))
  }

  test("exactWindow fluent bridge: sliding panes run behind DataStream") {
    val (input, ds) = measurementStream()
    val q = ds.exactWindow(Seq("sensor_name"), exactAggs, "10 seconds",
      Some("5 seconds")).sinkMemory("exact_fluent_pane")
    try {
      input.addData(exactData: _*)
      q.processAllAvailable()
      val got = spark.table("exact_fluent_pane")
        .filter($"window_start_time".cast("long") === 0)
        .select($"sensor_name", $"n", $"s")
        .as[(String, Long, Double)].collect().toSet
      assert(got == Set(("a", 2L, 4.0), ("b", 1L, 5.0)))
    } finally q.stop()
    // non-fixed intervals rejected loudly at the bridge
    intercept[IllegalArgumentException] {
      DataStream.intervalMs("1 month")
    }
  }

  test("exactSessionWindow fluent bridge: gap-merged sessions run " +
      "behind DataStream") {
    val (input, ds) = measurementStream()
    val q = ds.exactSessionWindow(Seq("sensor_name"), exactAggs,
      "10 seconds").sinkMemory("exact_fluent_session")
    try {
      input.addData(exactData: _*)
      q.processAllAvailable()
      // gap 10s chains a's rows, isolates b's; z's session stays open
      val got = spark.table("exact_fluent_session")
        .select($"sensor_name", $"n", $"s")
        .as[(String, Long, Double)].collect().toSet
      assert(got == Set(("a", 2L, 4.0), ("b", 1L, 5.0)))
    } finally q.stop()
  }

  test("stream-static join enriches rows (Joinable parity)") {
    val (input, ds) = measurementStream()
    val dims = Seq(("a", "building-1"), ("b", "building-2"))
      .toDF("sensor_name", "building")
    val joined = ds.join(dims, "inner",
      ds.df("sensor_name") === dims("sensor_name"))
    val q = joined.toDF.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      input.addData(Measurement(1000, "a", 1.0), Measurement(2000, "c", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_out").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[String]("building") == "building-1")
    } finally q.stop()
  }

  test("ungrouped (global) windowed aggregate emits one row per window") {
    // reference: WindowAggStream/FullWindowAggStream partial->final
    // two-stage path for no-group aggregates (SURVEY §2.4)
    val (input, ds) = measurementStream()
    val windowed = ds.window(Seq.empty,
      Seq(count(lit(1)).as("n"), round(sum($"reading"), 2).as("total")),
      "10 seconds")
    val q = windowed.sinkMemory("global_out")
    try {
      input.addData(Measurement(1000, "a", 1.0), Measurement(2000, "b", 2.0),
        Measurement(8000, "c", 3.0))
      q.processAllAvailable()
      input.addData(Measurement(15000, "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("global_out")
        .filter($"window_start_time".cast("long") === 0).collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Long]("n") == 3)
      assert(rows(0).getAs[Double]("total") == 6.0)
    } finally q.stop()
  }

  test("update output mode emits partial window results per batch") {
    val (input, ds) = measurementStream()
    val windowed = ds.window(Seq($"sensor_name"),
      Seq(count(lit(1)).as("n")), "10 seconds")
    val q = windowed.sinkMemory("update_out", outputMode = "update")
    try {
      input.addData(Measurement(1000, "a", 1.0))
      q.processAllAvailable()
      val afterFirst = spark.table("update_out").count()
      assert(afterFirst == 1, "update mode emits before window close")
      input.addData(Measurement(2000, "a", 2.0))
      q.processAllAvailable()
      // the same window re-emits with the updated count
      val ns = spark.table("update_out")
        .filter($"sensor_name" === "a").select("n")
        .as[Long].collect().sorted
      assert(ns.last == 2, s"updated count must appear, got ${ns.toSeq}")
    } finally q.stop()
  }

  test("dedupWithinWatermark drops repeated keys across micro-batches") {
    val (input, ds) = measurementStream()
    val deduped = ds.withWatermarkDelay("10 seconds")
      .dedupWithinWatermark(Seq("sensor_name"))
    val q = deduped.toDF.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(Measurement(1000, "a", 1.0), Measurement(2000, "a", 2.0))
      q.processAllAvailable()
      input.addData(Measurement(3000, "a", 3.0), Measurement(4000, "b", 4.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      // 'a' survives once (first arrival), duplicate in-watermark 'a's drop
      assert(rows.count(_.getAs[String]("sensor_name") == "a") == 1)
      assert(rows.count(_.getAs[String]("sensor_name") == "b") == 1)
    } finally q.stop()
  }

  test("windowedJoin joins two windowed aggregate streams in one query") {
    val (tempIn, temp) = measurementStream()
    val (humIn, hum) = measurementStream()
    val joined = DataStream.windowedJoin(temp, hum,
      groupCols = Seq("sensor_name"), length = "10 seconds", slide = None,
      leftAggs = Seq("avg_temp" -> ((c: org.apache.spark.sql.Column) =>
        round(avg(c), 4))),
      rightAggs = Seq("max_hum" -> ((c: org.apache.spark.sql.Column) =>
        max(c))),
      leftValueCol = "reading", rightValueCol = "reading")
    val q = joined.sinkMemory("join_out")
    try {
      tempIn.addData(Measurement(1000, "a", 20.0),
        Measurement(2000, "a", 30.0),
        Measurement(3000, "only_temp", 1.0))
      humIn.addData(Measurement(1500, "a", 0.5))
      q.processAllAvailable()
      tempIn.addData(Measurement(20000, "a", 0.0))
      humIn.addData(Measurement(20000, "a", 0.0))
      q.processAllAvailable()
      val rows = spark.table("join_out")
        .filter($"window_start_time".cast("long") === 0).collect()
      // inner semantics: only sensor present on BOTH sides survives
      assert(rows.length == 1)
      assert(rows(0).getAs[String]("sensor_name") == "a")
      assert(rows(0).getAs[Double]("avg_temp") == 25.0)
      assert(rows(0).getAs[Double]("max_hum") == 0.5)
    } finally q.stop()
  }

  test("windowedJoin emitSideCounts gives exact per-side row counts") {
    val (tempIn, temp) = measurementStream()
    val (humIn, hum) = measurementStream()
    val joined = DataStream.windowedJoin(temp, hum,
      groupCols = Seq("sensor_name"), length = "10 seconds", slide = None,
      leftAggs = Seq("sum_temp" -> ((c: org.apache.spark.sql.Column) =>
        round(sum(c), 4))),
      rightAggs = Seq.empty,
      leftValueCol = "reading", rightValueCol = "reading",
      emitSideCounts = true)
    val q = joined.sinkMemory("join_counts_out")
    try {
      tempIn.addData(Measurement(1000, "a", 1.0),
        Measurement(2000, "a", 2.0), Measurement(3000, "a", 4.0))
      humIn.addData(Measurement(1500, "a", 0.5))
      q.processAllAvailable()
      tempIn.addData(Measurement(20000, "a", 0.0))
      humIn.addData(Measurement(20000, "a", 0.0))
      q.processAllAvailable()
      val r = spark.table("join_counts_out")
        .filter($"window_start_time".cast("long") === 0).collect()(0)
      // side-tag-based counts: 3 left rows, 1 right row — the safe
      // spelling of count() in a side-conditioned union (count(lit(1))
      // would have read 4 on both sides)
      assert(r.getAs[Long]("n_left") == 3L)
      assert(r.getAs[Long]("n_right") == 1L)
      assert(r.getAs[Double]("sum_temp") == 7.0)
    } finally q.stop()
  }

  test("windowedJoin rejects input-ignoring aggregates at analysis time") {
    val (_, temp) = measurementStream()
    val (_, hum) = measurementStream()
    // count(lit(1)) ignores the masked input column and would count
    // BOTH sides of the union — must throw before any query starts
    val e = intercept[IllegalArgumentException] {
      DataStream.windowedJoin(temp, hum,
        groupCols = Seq("sensor_name"), length = "10 seconds", slide = None,
        leftAggs = Seq("n" -> ((_: org.apache.spark.sql.Column) =>
          count(lit(1)))),
        rightAggs = Seq.empty,
        leftValueCol = "reading", rightValueCol = "reading")
    }
    assert(e.getMessage.contains("ignores its input column") &&
      e.getMessage.contains("emitSideCounts"),
      s"rejection must name the footgun and the fix: ${e.getMessage}")
    // a valid null-ignoring aggregate still passes the guard
    DataStream.windowedJoin(temp, hum,
      groupCols = Seq("sensor_name"), length = "10 seconds", slide = None,
      leftAggs = Seq("n" -> ((c: org.apache.spark.sql.Column) => count(c))),
      rightAggs = Seq.empty,
      leftValueCol = "reading", rightValueCol = "reading")
  }

  test("streaming semantic decontamination: foreachBatch application " +
      "equals the batch operator (per-row verdicts are reference-only)") {
    // 4-dim basis-vector corpus; the reference is a nudged copy of
    // ids 2 and 4's vectors (cos ~ 1), orthogonal to everything else
    def basis(i: Int, eps: Double): Seq[Double] =
      (0 until 4).map(j => (if (j == i) 1.0 else 0.0) +
        (if (j == 0) eps else 0.0))
    val corpus = (1L to 4L).map(i => DecoRow(i, basis((i - 1).toInt, 0.0)))
    val ref = Seq(Tuple1(basis(1, 0.01)), Tuple1(basis(3, 0.01)))
      .toDF("emb")
    val batchKept = graft.operators.Dedup.semanticDecontaminate(
        corpus.toDF(), ref, "emb", "id", threshold = 0.9,
        nPlanes = 8, dim = 4, nTables = 4)
      .select("id").as[Long].collect().toSet
    assert(batchKept == Set(1L, 3L), "sanity: nudged copies flagged")

    val input = MemoryStream[DecoRow](spark)
    val streamed = scala.collection.mutable.Set[Long]()
    val q = DataStream(input.toDF)
      .sink { (batch, _) =>
        streamed ++= graft.operators.Dedup.semanticDecontaminate(
            batch, ref, "emb", "id", threshold = 0.9,
            nPlanes = 8, dim = 4, nTables = 4)
          .select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect()
      }.start()
    try {
      input.addData(corpus.take(2): _*)
      q.processAllAvailable()
      input.addData(corpus.drop(2): _*)
      q.processAllAvailable()
      assert(streamed.toSet == batchKept,
        "micro-batch-local application must equal the batch verdicts")
    } finally q.stop()

    // the fluent bridge: batch passes through, streams are directed
    // to foreachBatch with the reason
    val e = intercept[IllegalArgumentException] {
      DataStream(input.toDF).semanticDecontaminate(ref, "emb", "id")
    }
    assert(e.getMessage.contains("foreachBatch"))
    val bridged = DataStream(corpus.toDF())
      .semanticDecontaminate(ref, "emb", "id", threshold = 0.9,
        nPlanes = 8, dim = 4, nTables = 4)
      .df.select("id").as[Long].collect().toSet
    assert(bridged == batchKept)
  }

  test("winnow/excise decontamination bridges: foreachBatch equals the " +
      "batch operator; streaming plan nodes rejected with the reason") {
    val evalq = "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"
    val corpus = Seq(
      TextRow(1L, s"a1 a2 $evalq a3 a4"), // quotes the passage
      TextRow(2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), // novel
      TextRow(3L, evalq)) // verbatim
    val ref = Seq(Tuple1(evalq)).toDF("t")
    val batchWinnow = graft.operators.Dedup.winnowDecontaminate(
        corpus.toDF(), ref, "t", "id", 5, 4, 1)
      .select("id").as[Long].collect().toSet
    assert(batchWinnow == Set(2L), "sanity: quoting docs dropped")
    val batchExcise = graft.operators.Dedup.exciseContamination(
        corpus.toDF(), ref, "t", "id", n = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    // micro-batch-local application == batch (verdicts reference-only)
    val input = MemoryStream[TextRow](spark)
    val streamedW = scala.collection.mutable.Set[Long]()
    val streamedE = scala.collection.mutable.Map[Long, String]()
    val q = DataStream(input.toDF)
      .sink { (batch, _) =>
        streamedW ++= graft.operators.Dedup.winnowDecontaminate(
            batch, ref, "t", "id", 5, 4, 1)
          .select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect()
        streamedE ++= graft.operators.Dedup.exciseContamination(
            batch, ref, "t", "id", n = 5)
          .collect().map(r => r.getLong(0) -> r.getString(1))
      }.start()
    try {
      input.addData(corpus.take(2): _*)
      q.processAllAvailable()
      input.addData(corpus.drop(2): _*)
      q.processAllAvailable()
      assert(streamedW.toSet == batchWinnow)
      assert(streamedE.toMap == batchExcise)
    } finally q.stop()

    // the fluent bridges: batch passes through, streams are directed
    // to foreachBatch with the reason
    val ew = intercept[IllegalArgumentException] {
      DataStream(input.toDF).winnowDecontaminate(ref, "t", "id")
    }
    assert(ew.getMessage.contains("foreachBatch"))
    val ee = intercept[IllegalArgumentException] {
      DataStream(input.toDF).exciseContamination(ref, "t", "id")
    }
    assert(ee.getMessage.contains("foreachBatch"))
    assert(DataStream(corpus.toDF()).winnowDecontaminate(ref, "t", "id",
        5, 4, 1).df.select("id").as[Long].collect().toSet == batchWinnow)
    assert(DataStream(corpus.toDF()).exciseContamination(ref, "t", "id",
        n = 5).df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == batchExcise)
  }

  test("stateless curation bridges stream as-is (c4Clean, " +
      "dropRepeatedLines, normalizeUrl)") {
    val input = MemoryStream[(Long, String, String)](spark)
    val q = DataStream(input.toDF.toDF("id", "t", "u"))
      .dropRepeatedLines("id", "t")
      .withColumnRenamed("clean", "t2")
      .withColumn("u", lit("HTTP://WWW.Example.com:80/a?utm_source=x"))
      .normalizeUrl("u")
      .sinkMemory("curation_bridge")
    try {
      input.addData((1L, "line one.\nline one.\nGood line here now.",
        "ignored"))
      q.processAllAvailable()
      val rows = spark.table("curation_bridge")
        .select("t2", "u").as[(String, String)].collect()
      assert(rows.toSeq == Seq(
        ("line one.\nGood line here now.",
          "http://example.com/a")))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS curation_bridge")
    }
    // c4Clean builds a streaming plan too (projection + filter only)
    val st = DataStream(input.toDF.toDF("id", "t", "u"))
      .c4Clean("id", "t")
    assert(st.toDF.isStreaming)
    // blocklist bridges: automaton scan is per-row, streams as-is
    val bl = DataStream(input.toDF.toDF("id", "t", "u"))
      .blocklistStats("t", Seq("line one"))
    assert(bl.toDF.isStreaming)
    val q2 = DataStream(input.toDF.toDF("id", "t", "u"))
      .dropBlocklisted("t", Seq("line one"))
      .sinkMemory("curation_bridge2")
    try {
      input.addData((2L, "all clear here", "x"),
        (3L, "has line one inside", "x"))
      q2.processAllAvailable()
      val kept = spark.table("curation_bridge2")
        .select("id").as[Long].collect().toSet
      // row 1 (earlier batch) and row 3 contain the phrase; 2 survives
      assert(kept.contains(2L) && !kept.contains(3L))
    } finally {
      q2.stop()
      spark.sql("DROP TABLE IF EXISTS curation_bridge2")
    }
  }

  test("streaming minhash decontamination: foreachBatch application " +
      "equals the batch operator (per-row verdicts are reference-only)") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs home"),
      (2L, "pack my box with five dozen liquor jugs for the long trip"),
      (3L, "how vexingly quick daft zebras jump while the band plays"),
      (4L, "sphinx of black quartz judge my vow said the old man"))
    val ref = Seq(Tuple1(texts(1)._2.replace("trip", "ride"))).toDF("t")
    val corpusDf = texts.toDF("id", "t")
    val batchKept = graft.operators.Dedup.minhashDecontaminate(
        corpusDf, ref, "t", "id")
      .select("id").as[Long].collect().toSet
    assert(batchKept == Set(1L, 3L, 4L), "sanity: near-copy dropped")

    val input = MemoryStream[(Long, String)](spark)
    val streamed = scala.collection.mutable.Set[Long]()
    val q = DataStream(input.toDF.toDF("id", "t"))
      .sink { (batch, _) =>
        streamed ++= graft.operators.Dedup.minhashDecontaminate(
            batch, ref, "t", "id")
          .select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect()
      }.start()
    try {
      input.addData(texts.take(2): _*)
      q.processAllAvailable()
      input.addData(texts.drop(2): _*)
      q.processAllAvailable()
      assert(streamed.toSet == batchKept,
        "micro-batch-local application must equal the batch verdicts")
    } finally q.stop()

    val e = intercept[IllegalArgumentException] {
      DataStream(input.toDF.toDF("id", "t"))
        .minhashDecontaminate(ref, "t", "id")
    }
    assert(e.getMessage.contains("foreachBatch"))
    val bridged = DataStream(corpusDf).minhashDecontaminate(ref, "t", "id")
      .df.select("id").as[Long].collect().toSet
    assert(bridged == batchKept)
  }

  test("distinctMonitor: per-window distinct count and dup rate, " +
      "exact in the unsaturated regime, bounded sketch state") {
    val (input, ds) = measurementStream()
    val q = ds.distinctMonitor("sensor_name", Fixed("10 seconds"))
      .sinkMemory("monitor_out")
    try {
      // window [0,10s): 5 rows over 2 distinct sensors → dup_rate 0.6
      input.addData(
        Measurement(1000, "a", 1.0), Measurement(2000, "a", 2.0),
        Measurement(3000, "b", 3.0), Measurement(4000, "a", 4.0),
        Measurement(9000, "b", 5.0))
      q.processAllAvailable()
      // window [10,20s): 3 rows, all distinct → dup_rate 0
      input.addData(
        Measurement(11000, "c", 1.0), Measurement(12000, "d", 1.0),
        Measurement(13000, "e", 1.0))
      q.processAllAvailable()
      // advance watermark past both windows so append mode emits them
      input.addData(Measurement(25000, "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("monitor_out")
        .orderBy("window_start_time")
        .select("n_rows", "n_distinct_est", "dup_rate")
        .as[(Long, Double, Double)].collect().toList
      assert(rows == List((5L, 2.0, 0.6), (3L, 3.0, 0.0)))
    } finally q.stop()
  }

  test("trendingMonitor: per-window top-k by bounded summary, exact " +
      "counts in the unsaturated regime, ties by item") {
    val (input, ds) = measurementStream()
    val q = ds.trendingMonitor("sensor_name", Fixed("10 seconds"), k = 2)
      .sinkMemory("trending_out")
    try {
      // window [0,10s): a×3, b×2, c×1 → top2 = (a,3), (b,2), err 0
      input.addData(
        Measurement(1000, "a", 1.0), Measurement(2000, "b", 1.0),
        Measurement(3000, "a", 1.0), Measurement(4000, "c", 1.0),
        Measurement(5000, "a", 1.0), Measurement(6000, "b", 1.0))
      // window [10,20s): tie x×2, y×2 → item order breaks the tie
      input.addData(
        Measurement(11000, "y", 1.0), Measurement(12000, "x", 1.0),
        Measurement(13000, "y", 1.0), Measurement(14000, "x", 1.0))
      q.processAllAvailable()
      input.addData(Measurement(25000, "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("trending_out")
        .orderBy("window_start_time", "rank")
        .select("rank", "item", "count_min", "err")
        .as[(Long, String, Long, Long)].collect().toList
      assert(rows == List(
        (1L, "a", 3L, 0L), (2L, "b", 2L, 0L),
        (1L, "x", 2L, 0L), (2L, "y", 2L, 0L)))
    } finally q.stop()
  }

  test("distinctMonitorSession: per gap-merged session rows/distinct/" +
      "dup rate, exact in the unsaturated regime") {
    val (input, ds) = measurementStream()
    val q = ds.distinctMonitor("sensor_name", Session("5 seconds"))
      .sinkMemory("sess_monitor_out")
    try {
      // burst 1: events at 0/3/6/6 s (gaps < 5 s merge) → session
      // [0, 11 s), 4 rows over 2 distinct sensors → dup_rate 0.5
      input.addData(
        Measurement(0, "a", 1.0), Measurement(3000, "a", 2.0),
        Measurement(6000, "b", 3.0), Measurement(6000, "a", 4.0))
      // burst 2: 20/21 s → session [20, 26 s), all distinct
      input.addData(
        Measurement(20000, "c", 1.0), Measurement(21000, "d", 1.0))
      q.processAllAvailable()
      // advance the watermark past both session ends (append emits
      // a session only once it can no longer grow)
      input.addData(Measurement(90000, "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sess_monitor_out")
        .orderBy("window_start_time")
        .select($"window_start_time".cast("long"),
          $"window_end_time".cast("long"), $"n_rows",
          $"n_distinct_est", $"dup_rate")
        .as[(Long, Long, Long, Double, Double)].collect().toList
      assert(rows == List((0L, 11L, 4L, 2.0, 0.5),
        (20L, 26L, 2L, 2.0, 0.0)))
    } finally q.stop()
  }

  test("trendingMonitorSession: per-session top-k; MG summaries merge " +
      "as micro-batch sub-sessions merge") {
    val (input, ds) = measurementStream()
    val q = ds.trendingMonitor("sensor_name", Session("5 seconds"),
        k = 2).sinkMemory("sess_trending_out")
    try {
      // ONE burst delivered across TWO micro-batches whose halves
      // overlap in session time — Spark must merge the open session's
      // state, i.e. the Misra–Gries summary's merge path runs
      input.addData(Measurement(0, "a", 1.0),
        Measurement(2000, "b", 1.0), Measurement(4000, "a", 1.0))
      q.processAllAvailable()
      input.addData(Measurement(6000, "a", 1.0),
        Measurement(8000, "b", 1.0))
      q.processAllAvailable()
      input.addData(Measurement(90000, "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sess_trending_out")
        .orderBy("window_start_time", "rank")
        .select($"window_start_time".cast("long"),
          $"window_end_time".cast("long"), $"rank", $"item",
          $"count_min", $"err")
        .as[(Long, Long, Long, String, Long, Long)].collect().toList
      assert(rows == List((0L, 13L, 1L, "a", 3L, 0L),
        (0L, 13L, 2L, "b", 2L, 0L)))
    } finally q.stop()
  }

  test("overlapMonitor: per-window overlap vs a frozen prior-drop " +
      "sketch, exact in the unsaturated regime; k pinned by the " +
      "baseline sidecar") {
    // the "prior drop": users a/b/c, sketched once at its ingest
    val idx = java.nio.file.Files.createTempDirectory("graft-ovm")
      .toString + "/idx"
    graft.operators.DedupIndex.writeKmv(
      Seq("a", "b", "c").toDF("u"), "u", idx, k = 64)
    val (input, ds) = measurementStream()
    val q = ds.overlapMonitor("sensor_name", Fixed("10 seconds"), idx, k = 64)
      .sinkMemory("overlap_out")
    try {
      // window [0,10 s): a,b,d,d → 3 distinct, 2 already in baseline
      input.addData(
        Measurement(1000, "a", 1.0), Measurement(2000, "b", 1.0),
        Measurement(3000, "d", 1.0), Measurement(4000, "d", 1.0))
      // window [10,20 s): e,f → zero overlap
      input.addData(
        Measurement(11000, "e", 1.0), Measurement(12000, "f", 1.0))
      q.processAllAvailable()
      input.addData(Measurement(25000, "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("overlap_out")
        .orderBy("window_start_time")
        .select("n_rows", "n_distinct_est", "n_overlap_est",
          "overlap_frac")
        .as[(Long, Double, Double, Double)].collect().toList
      assert(rows == List((4L, 3.0, 2.0, 0.666667),
        (2L, 2.0, 0.0, 0.0)))
    } finally q.stop()

    // a monitor asked to run at a different k than the baseline was
    // sketched with must refuse (the estimator silently breaks on
    // mismatched k), like every other index read
    val e = intercept[IllegalArgumentException] {
      ds.overlapMonitor("sensor_name", Fixed("10 seconds"), idx, k = 128)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("driftMonitor: per-window exact tvd/max_shift/psi against " +
      "literal baseline buckets; state is B+2 plain counts") {
    val (input, ds) = measurementStream()
    // baseline: half below 10, half at-or-above
    val q = ds.driftMonitor("reading", Fixed("10 seconds"), Seq(10.0),
      Seq(0.5, 0.5)).sinkMemory("drift_out")
    try {
      // window [0,10 s): readings 5, 15, 15 → p = (1/3, 2/3)
      input.addData(
        Measurement(1000, "a", 5.0), Measurement(2000, "b", 15.0),
        Measurement(3000, "c", 15.0))
      // window [10,20 s): 5, 5 → p = (1, 0), the max-drift shape
      input.addData(
        Measurement(11000, "d", 5.0), Measurement(12000, "e", 5.0))
      q.processAllAvailable()
      input.addData(Measurement(25000, "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("drift_out")
        .orderBy("window_start_time")
        .select("n_rows", "n_null", "tvd", "max_shift", "psi")
        .as[(Long, Long, Double, Double, Double)].collect().toList
      def round6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def psi(ps: Seq[Double]): Double = round6(
        ps.zip(Seq(0.5, 0.5)).map { case (p, b) =>
          (p - b) * math.log((p + 1e-6) / (b + 1e-6)) }.sum)
      assert(rows == List(
        (3L, 0L, round6(1.0 / 6), round6(1.0 / 6),
          psi(Seq(1.0 / 3, 2.0 / 3))),
        (2L, 0L, 0.5, 0.5, psi(Seq(1.0, 0.0)))))
    } finally q.stop()
  }

  test("trained classifier scores STREAMING ingest: " +
      "hashedLinearScoreWith is a pure projection, so the same " +
      "weight table filters a stream micro-batch-for-micro-batch " +
      "identically to the batch twin") {
    import graft.operators.TextAnalysis
    // train on a tiny batch corpus, then score a stream with the
    // frozen weights — the deploy shape: fit offline, filter online
    val train = Seq((1L, "aa aa", 1), (2L, "dd dd", 0))
      .toDF("id", "t", "y")
    val w = TextAnalysis.learnHashedLinear(train, "t", "y", dim = 2,
      iters = 2, lr = 10.0)
    val input = MemoryStream[(Long, String)](spark)
    val scored = TextAnalysis.hashedLinearScoreWith(
      input.toDF.toDF("id", "t"), "id", "t", w.toSeq)
    assert(scored.isStreaming, "projection must stay streaming")
    val q = scored.writeStream.outputMode("append").format("memory")
      .queryName("clf_stream").start()
    try {
      input.addData((10L, "aa dd aa"), (11L, "dd dd aa"),
        (12L, "aa"))
      q.processAllAvailable()
      val got = spark.table("clf_stream").orderBy("id")
        .as[(Long, Int, Long, Double, Boolean)].collect().toSeq
      val batch = TextAnalysis.hashedLinearScoreWith(
          Seq((10L, "aa dd aa"), (11L, "dd dd aa"), (12L, "aa"))
            .toDF("id", "t"), "id", "t", w.toSeq)
        .orderBy("id")
        .as[(Long, Int, Long, Double, Boolean)].collect().toSeq
      assert(got == batch, "stream and batch scoring must agree")
      assert(got.map(_._5) == Seq(true, false, true),
        "majority-bucket sign decides keep")
    } finally q.stop()
  }

  test("calibrated streaming scoring e2e: weights + Platt (a, b) " +
      "read back from ONE writeLinear artifact score a stream " +
      "micro-batch-identically to batch, probabilities and the " +
      "calibrated keep boundary included — the full frozen-model " +
      "deploy loop, zero new state") {
    import graft.operators.{DedupIndex, TextAnalysis}
    // train + calibrate offline on a batch corpus…
    val train = Seq((1L, "aa aa", 1), (2L, "dd dd", 0), (3L, "aa", 1),
      (4L, "dd", 0)).toDF("id", "t", "y")
    val w = TextAnalysis.learnHashedLinear(train, "t", "y", dim = 2,
      iters = 3, lr = 10.0)
    val ab = TextAnalysis.calibrateLogits(
      TextAnalysis.hashedLinearScoreWith(train, "id", "t", w.toSeq)
        .join(train.select($"id", $"y"), Seq("id")),
      "y", "logit", iters = 3, lr = 10.0)
    // …freeze BOTH halves in one artifact, read back online
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cal-stream").toString + "/model"
    DedupIndex.writeLinear(spark, w.toSeq, dir,
      calibration = Some(ab))
    val (wf, calf) = DedupIndex.readLinear(spark, dir, dim = 2)
    val (a, b) = calf.get
    val input = MemoryStream[(Long, String)](spark)
    def calibrated(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.hashedLinearScoreWith(df, "id", "t", wf.toSeq)
        .withColumn("prob",
          TextAnalysis.calibratedProb($"logit", a, b))
        .withColumn("keep_calibrated", $"prob" > 0.5)
    val scored = calibrated(input.toDF.toDF("id", "t"))
    assert(scored.isStreaming,
      "calibration is arithmetic on a projection — must stay streaming")
    val q = scored.writeStream.outputMode("append").format("memory")
      .queryName("cal_stream").start()
    try {
      input.addData((10L, "aa dd aa"), (11L, "dd dd aa"), (12L, "aa"))
      q.processAllAvailable()
      val got = spark.table("cal_stream").orderBy("id")
        .as[(Long, Int, Long, Double, Boolean, Double, Boolean)]
        .collect().toSeq
      val batch = calibrated(
          Seq((10L, "aa dd aa"), (11L, "dd dd aa"), (12L, "aa"))
            .toDF("id", "t"))
        .orderBy("id")
        .as[(Long, Int, Long, Double, Boolean, Double, Boolean)]
        .collect().toSeq
      assert(got == batch,
        "stream and batch calibrated scoring must agree bit-for-bit")
      // the calibrated boundary agrees with the raw sign here (a>0,
      // b=0 on the symmetric fixture) and probs are proper
      assert(got.forall { case (_, _, _, lg, keep, p, kc) =>
        p > 0.0 && p < 1.0 && kc == (p > 0.5) && keep == (lg > 0) })
    } finally q.stop()
  }

  test("sinkAlerts e2e: driftMonitor → alarms → severity-filtered " +
      "foreachBatch routing — ok windows never reach the hook, warn " +
      "and alert do; batch path + refusal") {
    val (input, ds) = measurementStream()
    val routed =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = ds.driftMonitor("reading", Fixed("10 seconds"), Seq(10.0),
        Seq(0.5, 0.5))
      .alarms()
      .sinkAlerts("warn") { (batch, _) =>
        batch.select(unix_millis(col("window_start_time")),
            col("severity"))
          .collect().foreach(r =>
            routed.add((r.getLong(0), r.getString(1))))
      }.get
    try {
      // w1 [0,10s): 5,15 → p=(.5,.5) = baseline → tvd 0 → ok
      input.addData(
        Measurement(1000, "a", 5.0), Measurement(2000, "b", 15.0))
      // w2 [10,20s): 5,5,15 → tvd 1/6 ≈ 0.167 → warn
      input.addData(
        Measurement(11000, "c", 5.0), Measurement(12000, "d", 5.0),
        Measurement(13000, "e", 15.0))
      // w3 [20,30s): 5,5 → tvd 0.5 → alert
      input.addData(
        Measurement(21000, "f", 5.0), Measurement(22000, "g", 5.0))
      q.processAllAvailable()
      input.addData(Measurement(45000, "z", 0.0)) // flush watermark
      q.processAllAvailable()
      val got = routed.toArray(Array.empty[(Long, String)])
        .toList.sortBy(_._1)
      assert(got == List((10000L, "warn"), (20000L, "alert")),
        s"routing must carry exactly the warn+alert windows, got $got")
    } finally q.stop()

    // batch path: same routing code, alert-only filter, one fn call
    val report = Seq((1L, 0.02), (2L, 0.15), (3L, 0.40))
      .toDF("shard", "tvd")
    var batchRows: List[(Long, String)] = null
    val none = DataStream(
        graft.operators.Drift.alarms(report), "shard")
      .sinkAlerts("alert") { (b, id) =>
        assert(id == -1L)
        batchRows = b.select(col("shard"), col("severity"))
          .as[(Long, String)].collect().toList
      }
    assert(none.isEmpty)
    assert(batchRows == List((3L, "alert")))
    // a frame without severity refuses loudly
    val e = intercept[IllegalArgumentException] {
      DataStream(report, "shard").sinkAlerts() { (_, _) => () }
    }
    assert(e.getMessage.contains("severity"))
    intercept[IllegalArgumentException] {
      DataStream(graft.operators.Drift.alarms(report), "shard")
        .sinkAlerts("fatal") { (_, _) => () }
    }
  }

  test("changePoints → severity → sinkAlerts over a STREAMING-" +
      "accumulated monitor history: the slow-creep alarm routes " +
      "through the same severity sink as every other monitor, and " +
      "the streaming-built history grades identically to the batch " +
      "twin") {
    import graft.operators.Validate
    import graft.operators.Validate._
    val suite = Seq(MeanBetween("reading", 0.0, 1000.0))
    // ten 10-second runs: six calm around 10, four shifted around 30
    val rows = (0 until 10).flatMap { w =>
      val base = if (w >= 6) 30.0 else 10.0
      Seq(Measurement(w * 10000L + 1000, s"a$w", base - 1.0 + (w % 2)),
        Measurement(w * 10000L + 2000, s"b$w", base + 1.0))
    }
    def runId(df: org.apache.spark.sql.DataFrame) = df.select(
      concat(lit("r"), lpad((unix_millis(col("window_start_time"))
        / 10000).cast("long").cast("string"), 2, "0")).as("run_id"),
      col("check_name"), col("value"))
    val input = MemoryStream[Measurement](spark)
    val ds = DataStream(
      input.toDF.withColumn("ts", timestamp_millis($"occurred_at_ms")),
      "ts")
    val q = ds.validationMonitor(suite, Fixed("10 seconds"))
      .sinkMemory("cusum_hist_out")
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(Measurement(200000L, "z", 0.0)) // flush watermark
      q.processAllAvailable()
      val hist = runId(spark.table("cusum_hist_out"))
      val graded = Validate.severity(
        Validate.changePoints(hist, k = 0.5, h = 2.0))
      val byRun = graded.orderBy("run_id").collect()
      // severity is exactly the is_shift verdict's grade
      byRun.foreach { r =>
        val want =
          if (r.isNullAt(r.fieldIndex("is_shift"))) "warn"
          else if (r.getAs[Boolean]("is_shift")) "alert" else "ok"
        assert(r.getAs[String]("severity") == want,
          s"run ${r.getAs[String]("run_id")}")
      }
      val shiftRuns = byRun
        .filter(r => !r.isNullAt(r.fieldIndex("is_shift")) &&
          r.getAs[Boolean]("is_shift"))
        .map(_.getAs[String]("run_id")).toList.sorted
      assert(shiftRuns.nonEmpty,
        "the planted shift must raise at least one alert")
      // ...and only the shifted runs reach the alert hook
      var routed: List[String] = null
      val none = DataStream(graded, "run_id")
        .sinkAlerts("alert") { (b, id) =>
          assert(id == -1L)
          routed = b.select(col("run_id")).as[String]
            .collect().toList.sorted
        }
      assert(none.isEmpty)
      assert(routed == shiftRuns,
        s"sink must route exactly the shifted runs: $routed vs " +
          s"$shiftRuns")
      // batch twin: the same rows through the batch monitor build
      // the same history and grade identically, row for row (the
      // flush row stays out — its window never closes in the stream)
      val histB = runId(DataStream(rows.toDF
          .withColumn("ts", timestamp_millis($"occurred_at_ms")), "ts")
        .validationMonitor(suite, Fixed("10 seconds")).df)
      val gradedB = Validate.severity(
        Validate.changePoints(histB, k = 0.5, h = 2.0))
      assert(graded.orderBy("run_id").collect().map(_.toSeq).toList ==
        gradedB.orderBy("run_id").collect().map(_.toSeq).toList,
        "streaming- and batch-accumulated histories must grade " +
          "identically")
    } finally q.stop()
  }

  test("categoryDriftMonitor: per-window mix vs frozen category " +
      "fractions, unseen categories pool to __other__") {
    val (input, ds) = measurementStream()
    val q = ds.categoryDriftMonitor("sensor_name", Fixed("10 seconds"),
      Seq("a" -> 0.5, "b" -> 0.5)).sinkMemory("catdrift_out")
    try {
      // window [0,10 s): a,a,b,xx → (a,b,other) = (.5,.25,.25) vs
      // (.5,.5,0) → tvd 0.25, max_shift 0.25
      input.addData(
        Measurement(1000, "a", 1.0), Measurement(2000, "a", 1.0),
        Measurement(3000, "b", 1.0), Measurement(4000, "xx", 1.0))
      q.processAllAvailable()
      input.addData(Measurement(25000, "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("catdrift_out")
        .orderBy("window_start_time")
        .select("n_rows", "tvd", "max_shift")
        .as[(Long, Double, Double)].collect().toList
      assert(rows == List((4L, 0.25, 0.25)))
    } finally q.stop()
  }

  test("healthMonitor: the composite one-pass monitor emits the " +
      "distinct/dup-rate, numeric-drift AND category-drift columns " +
      "per window from a single streaming aggregation, each exactly " +
      "matching its standalone monitor's arithmetic") {
    import graft.operators.Drift
    val (input, ds) = measurementStream()
    val q = ds.healthMonitor("sensor_name", Fixed("10 seconds"),
      value = Some(Drift.ValueBaseline("reading", Seq(10.0),
        Seq(0.5, 0.5))),
      category = Some(Drift.CategoryBaseline("sensor_name",
        Seq("a" -> 0.5, "b" -> 0.5))))
      .sinkMemory("health_out")
    try {
      // window [0,10 s): sensors a,a,b with readings 5,15,15 —
      // distinct sensors 2/3 rows (dup_rate 1/3), value p=(1/3,2/3)
      // vs (.5,.5) → tvd 1/6, category (a,b,other)=(2/3,1/3,0) vs
      // (.5,.5,0) → cat_tvd 1/6
      input.addData(
        Measurement(1000, "a", 5.0), Measurement(2000, "a", 15.0),
        Measurement(3000, "b", 15.0))
      q.processAllAvailable()
      input.addData(Measurement(25000, "z", 0.0))
      q.processAllAvailable()
      def round6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = spark.table("health_out")
        .filter($"window_start_time".cast("long") === 0)
        .select("n_rows", "n_distinct_est", "dup_rate", "n_null",
          "tvd", "max_shift", "cat_tvd", "cat_max_shift")
        .as[(Long, Double, Double, Long, Double, Double, Double,
          Double)].collect().toList
      assert(rows == List((3L, 2.0, round6(1.0 / 3), 0L,
        round6(1.0 / 6), round6(1.0 / 6),
        round6(1.0 / 6), round6(1.0 / 6))))
    } finally q.stop()
  }

  test("healthMonitorSession: the composite per gap-merged burst — " +
      "sketch, bucket counts and category counts all merge as one " +
      "session forms across micro-batches") {
    import graft.operators.Drift
    val (input, ds) = measurementStream()
    val q = ds.healthMonitor("sensor_name", Session("5 seconds"),
      value = Some(Drift.ValueBaseline("reading", Seq(10.0),
        Seq(0.5, 0.5))),
      category = Some(Drift.CategoryBaseline("sensor_name",
        Seq("a" -> 0.5, "b" -> 0.5))))
      .sinkMemory("health_sess_out")
    try {
      // ONE burst split across two micro-batches: state must merge
      input.addData(
        Measurement(0, "a", 5.0), Measurement(3000, "a", 15.0))
      q.processAllAvailable()
      input.addData(Measurement(6000, "b", 15.0))
      input.addData(Measurement(60000, "z", 0.0))
      q.processAllAvailable()
      def round6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = spark.table("health_sess_out")
        .filter($"window_start_time".cast("long") === 0)
        .select($"window_end_time".cast("long"), $"n_rows",
          $"n_distinct_est", $"dup_rate", $"tvd", $"cat_tvd")
        .as[(Long, Long, Double, Double, Double, Double)]
        .collect().toList
      // burst [0, 6+5 s): sensors a,a,b (2 distinct, dup 1/3),
      // readings 5,15,15 → tvd 1/6; cats (a,b,other)=(2/3,1/3,0)
      // vs (.5,.5,0) → cat_tvd 1/6
      assert(rows == List((11L, 3L, 2.0, round6(1.0 / 3),
        round6(1.0 / 6), round6(1.0 / 6))))
    } finally q.stop()
  }

  test("keyed monitors (by = real group columns): per-(window, key) " +
      "distinct counts, and keyed SESSIONS merge per tenant — one " +
      "tenant's silence does not close another's burst") {
    val (input, ds) = measurementStream()
    // tumbling + by: sensor_name is the tenant key, reading the value
    val q = ds.distinctMonitor("reading", Fixed("10 seconds"),
        by = Seq("sensor_name")).sinkMemory("keyed_monitor_out")
    try {
      input.addData(
        Measurement(1000, "a", 1.0), Measurement(2000, "a", 1.0),
        Measurement(3000, "a", 2.0), Measurement(4000, "b", 5.0))
      q.processAllAvailable()
      input.addData(Measurement(25000, "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("keyed_monitor_out")
        .filter($"window_start_time".cast("long") === 0)
        .orderBy("sensor_name")
        .select("sensor_name", "n_rows", "n_distinct_est")
        .as[(String, Long, Double)].collect().toList
      assert(rows == List(("a", 3L, 2.0), ("b", 1L, 1.0)))
    } finally q.stop()

    // keyed SESSION: tenant a's events at 0/3 s; tenant b's single
    // event at 1 s — per-key gap merging gives a one session [0,8s)
    // and b its own [1,6s) (with a shared constant key they would
    // have merged into one session)
    val (in2, ds2) = measurementStream()
    val q2 = ds2.distinctMonitor("reading", Session("5 seconds"),
        by = Seq("sensor_name")).sinkMemory("keyed_sess_out")
    try {
      in2.addData(
        Measurement(0, "a", 1.0), Measurement(3000, "a", 2.0),
        Measurement(1000, "b", 9.0))
      q2.processAllAvailable()
      in2.addData(Measurement(90000, "z", 0.0))
      q2.processAllAvailable()
      val rows = spark.table("keyed_sess_out")
        .orderBy("sensor_name")
        .select($"sensor_name", $"window_start_time".cast("long"),
          $"window_end_time".cast("long"), $"n_rows")
        .as[(String, Long, Long, Long)].collect().toList
      assert(rows == List(("a", 0L, 8L, 2L), ("b", 1L, 6L, 1L)))
    } finally q2.stop()
  }

  test("driftMonitorSession: per gap-merged burst, exact drift " +
      "stats; bucket counts merge as open sessions merge") {
    val (input, ds) = measurementStream()
    val q = ds.driftMonitor("reading", Session("5 seconds"), Seq(10.0),
      Seq(0.5, 0.5)).sinkMemory("sess_drift_out")
    try {
      // ONE burst split across two micro-batches (session state must
      // merge): readings 5, 15, 15 → p = (1/3, 2/3) → tvd 1/6
      input.addData(
        Measurement(0, "a", 5.0), Measurement(3000, "b", 15.0))
      q.processAllAvailable()
      input.addData(Measurement(6000, "c", 15.0))
      // a second, separated burst: 5, 5 → tvd 0.5
      input.addData(
        Measurement(20000, "d", 5.0), Measurement(21000, "e", 5.0))
      q.processAllAvailable()
      input.addData(Measurement(90000, "z", 0.0))
      q.processAllAvailable()
      def round6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = spark.table("sess_drift_out")
        .orderBy("window_start_time")
        .select($"window_start_time".cast("long"),
          $"window_end_time".cast("long"), $"n_rows", $"tvd")
        .as[(Long, Long, Long, Double)].collect().toList
      assert(rows == List((0L, 11L, 3L, round6(1.0 / 6)),
        (20L, 26L, 2L, 0.5)))
    } finally q.stop()
  }

  test("embeddingDriftMonitor: per-window centroid cosine vs a " +
      "frozen baseline sum; state is dim doubles + two counts") {
    val input = MemoryStream[(Long, Option[Seq[Float]])](spark)
    val ds = DataStream(input.toDF.toDF("ms", "embedding")
      .withColumn("ts", timestamp_millis($"ms")), "ts")
    // baseline centroid points along (1, 0)
    val q = ds.embeddingDriftMonitor("embedding", Fixed("10 seconds"),
      Seq(1.0, 0.0)).sinkMemory("embdrift_out")
    try {
      // window [0,10 s): sums to (3, 3) → cos 45° ≈ 0.707107; one
      // null embedding counted apart, not averaged in
      input.addData(
        (1000L, Some(Seq(1.0f, 2.0f))), (2000L, Some(Seq(2.0f, 1.0f))),
        (3000L, None))
      // window [10,20 s): sums to (5, 0) → cos 1.0, drift 0
      input.addData(
        (11000L, Some(Seq(2.0f, 0.0f))), (12000L, Some(Seq(3.0f, 0.0f))))
      q.processAllAvailable()
      input.addData((25000L, Some(Seq(1.0f, 0.0f))))
      q.processAllAvailable()
      val rows = spark.table("embdrift_out")
        .orderBy("window_start_time")
        .select("n_rows", "n_null", "centroid_cos", "centroid_drift")
        .as[(Long, Long, Double, Double)].collect().toList
      def round6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val cos45 = 3.0 / (math.sqrt(18.0) * 1.0)
      assert(rows == List(
        (3L, 1L, round6(cos45), round6(1.0 - cos45)),
        (2L, 0L, 1.0, 0.0)))
    } finally q.stop()
  }

  test("trendingMonitor: an all-null-items window still EMITS (a " +
      "schema break upstream must alarm, not vanish)") {
    val input = MemoryStream[(Long, Option[String])](spark)
    val ds = DataStream(input.toDF.toDF("ms", "item")
      .withColumn("ts", timestamp_millis($"ms")), "ts")
    val q = ds.trendingMonitor("item", Fixed("10 seconds"), k = 2)
      .sinkMemory("trending_null_out")
    try {
      input.addData((1000L, None), (2000L, None), (3000L, None))
      input.addData((25000L, Some("z")))
      q.processAllAvailable()
      val rows = spark.table("trending_null_out")
        .select("rank", "item").collect()
      assert(rows.length == 1 && rows.head.isNullAt(0) &&
        rows.head.isNullAt(1),
        "all-null window must emit one null-item row")
    } finally q.stop()
  }

  test("validationMonitor: the per-window check suite emits one row " +
      "per (window, check), exact values, and MATCHES the batch twin " +
      "bit-for-bit (same code path)") {
    import graft.operators.Validate
    import graft.operators.Validate._
    val suite = Seq(
      Completeness("reading", 0.8),
      FracBetween("reading", 0.0, 5.0, 1.0),
      Uniqueness("sensor_name", 0.9, k = 64),
      SizeAtLeast(3))
    val input = MemoryStream[NullableMeasurement](spark)
    val ds = DataStream(
      input.toDF.withColumn("ts", timestamp_millis($"occurred_at_ms")),
      "ts")
    val q = ds.validationMonitor(suite, Fixed("10 seconds"))
      .sinkMemory("validate_out")
    try {
      // window [0,10s): 4 rows, 1 null reading (completeness 0.75
      // FAIL), non-null readings all in [0,5] (pass), sensors
      // a,a,b,c → uniqueness 0.75 FAIL, size 4 pass
      input.addData(
        NullableMeasurement(1000, "a", Some(1.0)),
        NullableMeasurement(2000, "a", Some(2.0)),
        NullableMeasurement(3000, "b", None),
        NullableMeasurement(9000, "c", Some(5.0)))
      // window [10,20s): 3 rows, complete, one reading 9.0 out of
      // range (between 2/3 FAIL), sensors distinct (pass), size pass
      input.addData(
        NullableMeasurement(11000, "d", Some(0.0)),
        NullableMeasurement(12000, "e", Some(9.0)),
        NullableMeasurement(13000, "f", Some(3.0)))
      q.processAllAvailable()
      input.addData(NullableMeasurement(25000, "z", Some(0.0)))
      q.processAllAvailable()
      val got = spark.table("validate_out")
        .orderBy("window_start_time", "check_name")
        .select("check_name", "value", "passed")
        .as[(String, Double, Boolean)].collect().toList
      assert(got == List(
        ("between(reading)", 1.0, true),
        ("completeness(reading)", 0.75, false),
        ("size()", 4.0, true),
        ("uniqueness(sensor_name)", 0.75, false),
        ("between(reading)", math.rint(2.0 / 3 * 1e6) / 1e6, false),
        ("completeness(reading)", 1.0, true),
        ("size()", 3.0, true),
        ("uniqueness(sensor_name)", 1.0, true)))

      // batch twin: the same suite through the same monitor over the
      // same rows as a batch frame must emit identical rows
      val batch = Seq(
        NullableMeasurement(1000, "a", Some(1.0)),
        NullableMeasurement(2000, "a", Some(2.0)),
        NullableMeasurement(3000, "b", None),
        NullableMeasurement(9000, "c", Some(5.0)),
        NullableMeasurement(11000, "d", Some(0.0)),
        NullableMeasurement(12000, "e", Some(9.0)),
        NullableMeasurement(13000, "f", Some(3.0))).toDF
        .withColumn("ts", timestamp_millis($"occurred_at_ms"))
      val twin = DataStream(batch, "ts")
        .validationMonitor(suite, Fixed("10 seconds")).df
        .orderBy("window_start_time", "check_name")
        .select("check_name", "value", "passed")
        .as[(String, Double, Boolean)].collect().toList
      assert(twin == got, "streaming and batch twins must agree")
    } finally q.stop()
  }

  test("validationMonitorSession: one verdict set per gap-merged " +
      "burst; aggregates merge as sessions merge; severity grades " +
      "alert/warn/ok on the way to the sink") {
    import graft.operators.Validate._
    val input = MemoryStream[NullableMeasurement](spark)
    val ds = DataStream(
      input.toDF.withColumn("ts", timestamp_millis($"occurred_at_ms")),
      "ts")
    val q = ds.validationMonitor(Seq(
        Completeness("reading", 0.9), SizeAtLeast(3)), Session("5 seconds"))
      .validationSeverity()
      .sinkMemory("validate_sess_out")
    try {
      // burst 1 [0, 11s): 4 rows, one null reading → completeness
      // 0.75 FAIL (alert), size 4 pass (ok)
      input.addData(
        NullableMeasurement(0, "a", Some(1.0)),
        NullableMeasurement(3000, "a", None),
        NullableMeasurement(6000, "b", Some(2.0)),
        NullableMeasurement(6000, "c", Some(3.0)))
      // burst 2 [20, 26s): 2 complete rows → completeness pass,
      // size 2 < 3 FAIL
      input.addData(
        NullableMeasurement(20000, "d", Some(1.0)),
        NullableMeasurement(21000, "e", Some(2.0)))
      q.processAllAvailable()
      input.addData(NullableMeasurement(90000, "z", Some(0.0)))
      q.processAllAvailable()
      val got = spark.table("validate_sess_out")
        .orderBy("window_start_time", "check_name")
        .select($"window_start_time".cast("long"), $"check_name",
          $"value", $"passed", $"severity")
        .as[(Long, String, Double, Boolean, String)].collect().toList
      assert(got == List(
        (0L, "completeness(reading)", 0.75, false, "alert"),
        (0L, "size()", 4.0, true, "ok"),
        (20L, "completeness(reading)", 1.0, true, "ok"),
        (20L, "size()", 2.0, false, "alert")))
    } finally q.stop()
  }

  test("validationMonitor keyed (by): per-(window, sensor) verdicts — " +
      "one sensor's nulls cannot fail another's completeness") {
    import graft.operators.Validate._
    val input = MemoryStream[NullableMeasurement](spark)
    val ds = DataStream(
      input.toDF.withColumn("ts", timestamp_millis($"occurred_at_ms")),
      "ts")
    val q = ds.validationMonitor(Seq(Completeness("reading", 0.9)),
        Fixed("10 seconds"), by = Seq("sensor_name"))
      .sinkMemory("validate_by_out")
    try {
      input.addData(
        NullableMeasurement(1000, "a", Some(1.0)),
        NullableMeasurement(2000, "a", Some(2.0)),
        NullableMeasurement(3000, "b", None),
        NullableMeasurement(4000, "b", Some(1.0)))
      q.processAllAvailable()
      input.addData(NullableMeasurement(25000, "z", Some(0.0)))
      q.processAllAvailable()
      val got = spark.table("validate_by_out")
        .filter($"window_start_time" === timestamp_millis(lit(0)))
        .orderBy("sensor_name")
        .select("sensor_name", "value", "passed")
        .as[(String, Double, Boolean)].collect().toList
      assert(got == List(("a", 1.0, true), ("b", 0.5, false)))
    } finally q.stop()
  }

  test("applyThresholds on a LIVE stream: scored docs filter against " +
      "their source's static pick as they arrive (stream-static " +
      "broadcast join, stateless), rows match the batch spelling") {
    import graft.operators.TextAnalysis
    // static picks: source a keeps > 0.4, b keeps > 0.8
    val picks = Seq(("a", 0.4), ("b", 0.8)).toDF("src", "threshold")
    val input = MemoryStream[Measurement](spark)
    val scored = input.toDF.select($"sensor_name".as("src"),
      $"occurred_at_ms".as("id"), $"reading".as("s"))
    val kept = TextAnalysis.applyThresholds(scored, picks, "s",
      Seq("src"), dropUnpicked = true)
    assert(kept.isStreaming, "the filter must preserve streaminess")
    val q = kept.writeStream.format("memory")
      .queryName("apply_thresh_out").outputMode("append").start()
    try {
      input.addData(
        Measurement(1, "a", 0.9), Measurement(2, "a", 0.3),
        Measurement(3, "b", 0.9), Measurement(4, "b", 0.5),
        Measurement(5, "c", 0.99)) // no pick for c: drops explicitly
      q.processAllAvailable()
      val got = spark.table("apply_thresh_out")
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 3L))
      // batch parity on the same rows
      val batch = TextAnalysis.applyThresholds(
          Seq(("a", 1L, 0.9), ("a", 2L, 0.3), ("b", 3L, 0.9),
            ("b", 4L, 0.5), ("c", 5L, 0.99)).toDF("src", "id", "s"),
          picks, "s", Seq("src"), dropUnpicked = true)
        .select("id").as[Long].collect().sorted.toSeq
      assert(batch == got)
    } finally q.stop()
  }
}

/** Embedding row for streaming decontamination specs. */
case class DecoRow(id: Long, emb: Seq[Double])
case class TextRow(id: Long, t: String)
