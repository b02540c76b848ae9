package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.ExactWindow

class ExactWindowSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("custom stateful window: emit on watermark, late rows dropped") {
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    val out = ExactWindow.tumbling(src, "sensor_name", "ts", "reading",
      lengthMs = 10000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_out").start()
    try {
      input.addData(Measurement(1000, "a", 10.0),
        Measurement(4000, "a", 20.0), Measurement(8000, "b", 5.0))
      q.processAllAvailable()
      assert(spark.table("exact_out").isEmpty,
        "nothing may emit before the watermark passes window end")

      input.addData(Measurement(15000, "a", 1.0)) // watermark → 15s
      q.processAllAvailable()
      val first = spark.table("exact_out").orderBy("group").collect()
      assert(first.length == 2)
      val a = first(0)
      assert(a.getAs[String]("group") == "a")
      assert(a.getAs[Long]("n") == 2)
      assert(a.getAs[Double]("sum") == 30.0)
      assert(a.getAs[Double]("min") == 10.0)
      assert(a.getAs[Double]("max") == 20.0)
      assert(a.getAs[Double]("avg") == 15.0)
      assert(a.getAs[java.sql.Timestamp]("window_end_time").getTime == 10000)

      // late row for the emitted window must be dropped silently
      input.addData(Measurement(2000, "a", 999.0))
      input.addData(Measurement(30000, "a", 2.0))
      q.processAllAvailable()
      val aRows = spark.table("exact_out")
        .filter($"group" === "a" &&
          $"window_start_time".cast("long") === 0).collect()
      assert(aRows.length == 1 && aRows(0).getAs[Long]("n") == 2,
        "closed window must not re-emit or absorb late rows")
    } finally q.stop()
  }

  test("sliding custom window routes rows to every overlapping frame") {
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    val out = ExactWindow.sliding(src, "sensor_name", "ts", "reading",
      lengthMs = 10000L, slideMs = 5000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_slide").start()
    try {
      input.addData(Measurement(7000, "a", 2.0))  // frames [0,10) [5,15)
      input.addData(Measurement(40000, "z", 0.0)) // watermark → 40s
      q.processAllAvailable()
      val rows = spark.table("exact_slide")
        .filter($"group" === "a")
        .select($"window_start_time".cast("long"), $"n")
        .as[(Long, Long)].collect().toSet
      assert(rows == Set((0L, 1L), (5L, 1L)))
    } finally q.stop()
  }

  test("sliding with non-multiple slide uses the slide grid") {
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    // length 10s, slide 4s: a row at 7s belongs to starts {0, 4000}
    // ([-4000,6000) has already closed before 7s) — floor semantics on
    // the slide grid, same as Spark's built-in window()
    val out = ExactWindow.sliding(src, "sensor_name", "ts", "reading",
      lengthMs = 10000L, slideMs = 4000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_nondiv").start()
    try {
      input.addData(Measurement(7000, "a", 2.0))
      input.addData(Measurement(60000, "z", 0.0)) // push watermark
      q.processAllAvailable()
      val rows = spark.table("exact_nondiv")
        .filter($"group" === "a")
        .select($"window_start_time".cast("long"),
          $"window_end_time".cast("long"), $"n")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((0L, 10L, 1L), (4L, 14L, 1L)),
        s"expected slide-grid frames, got $rows")
    } finally q.stop()
  }

  test("caller-supplied UDAF (map state) runs inside the custom operator") {
    // the reference's heart: arbitrary accumulators — incl. map-state
    // UDAFs (udaf_example.py:30-89) — per (group, window) frame
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    val out = ExactWindow.slidingPanes(src, Seq("sensor_name"), "ts",
      lengthMs = 10000L, slideMs = 10000L,
      aggs = Seq(
        ExactWindow.ExactAgg[String, Map[String, Long], Map[String, Long]](
          "by_value", _.getAs[Double]("reading").toString,
          new graft.operators.Udafs.CountByValue,
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)),
        ExactWindow.ExactAgg.count("n", "reading")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_udaf").start()
    try {
      input.addData(Measurement(1000, "a", 1.0), Measurement(2000, "a", 1.0),
        Measurement(3000, "a", 2.0), Measurement(4000, "b", 5.0))
      input.addData(Measurement(20000, "z", 0.0)) // watermark → 20s
      q.processAllAvailable()
      // z's own window [20s,30s) stays open at watermark 20s
      val rows = spark.table("exact_udaf").orderBy("sensor_name").collect()
      assert(rows.length == 2)
      val a = rows(0)
      assert(a.getAs[String]("sensor_name") == "a")
      assert(a.getAs[Map[String, Long]]("by_value") ==
        Map("1.0" -> 2L, "2.0" -> 1L),
        "map-state UDAF must accumulate per (group, window) frame")
      assert(a.getAs[Long]("n") == 3)
      val b = rows(1)
      assert(b.getAs[Map[String, Long]]("by_value") == Map("5.0" -> 1L))
    } finally q.stop()
  }

  test("multi-column group keys keep original types through the operator") {
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
      // second key column with a non-string type
      .withColumn("bucket", (col("reading") >= 10).cast("int"))
    val out = ExactWindow.slidingPanes(src, Seq("sensor_name", "bucket"),
      "ts", lengthMs = 10000L, slideMs = 10000L,
      aggs = Seq(ExactWindow.ExactAgg.sum("total", "reading")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_multikey").start()
    try {
      input.addData(Measurement(1000, "a", 5.0), Measurement(2000, "a", 15.0),
        Measurement(3000, "a", 20.0), Measurement(4000, "b", 1.0))
      input.addData(Measurement(20000, "z", 0.0))
      q.processAllAvailable()
      // z's own window [20s,30s) stays open at watermark 20s
      val rows = spark.table("exact_multikey")
        .select($"sensor_name", $"bucket", $"total")
        .as[(String, Int, Double)].collect().toSet
      assert(rows == Set(("a", 0, 5.0), ("a", 1, 35.0), ("b", 0, 1.0)),
        s"got $rows")
    } finally q.stop()
  }

  test("ungrouped/global windows: empty groupCols keys frames on the " +
      "window start alone") {
    // mirrors the reference's ungrouped operator pair (WindowAggStream
    // partial → FullWindowAggStream final, continuous/streaming_window
    // .rs:640-828, :882-1035): no group key, one frame per window start
    val data = Seq(Measurement(1000, "x", 1.0), Measurement(2500, "y", 3.0),
      Measurement(9999, "z", 7.0), Measurement(12000, "x", 5.0),
      Measurement(50000, "w", 0.0))
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    val out = ExactWindow.slidingPanes(src, Seq.empty, "ts",
      lengthMs = 10000L, slideMs = 10000L,
      aggs = Seq(ExactWindow.ExactAgg.count("n", "reading"),
        ExactWindow.ExactAgg.sum("sum", "reading")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_global").start()
    val got = try {
      input.addData(data: _*)
      q.processAllAvailable()
      spark.table("exact_global")
        .select($"window_start_time".cast("long").as("ws"),
          $"window_end_time".cast("long").as("we"), $"n", $"sum")
        .as[(Long, Long, Long, Double)].collect().toSet
    } finally q.stop()
    // built-in global-window semantics on the same batch (q24 shape),
    // restricted to windows the 50s watermark has closed
    val expected = data.toDF("ms", "g", "v")
      .withColumn("ts", timestamp_millis($"ms"))
      .groupBy(window($"ts", "10 seconds"))
      .agg(count(lit(1)).as("n"), sum($"v").as("sum"))
      .select($"window.start".cast("long").as("ws"),
        $"window.end".cast("long").as("we"), $"n", $"sum")
      .as[(Long, Long, Long, Double)].collect().toSet
      .filter(_._1 < 40)
    assert(got == expected,
      s"global frames must match built-in semantics: $got vs $expected")
    assert(expected == Set((0L, 10L, 3L, 11.0), (10L, 20L, 1L, 5.0)))
  }

  test("preset aggs skip null values at reduce; all-null frames emit " +
      "SQL-null results, not sentinels") {
    val input = MemoryStream[NullableMeasurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    // slidingPanes directly — no sliding()-preset null pre-filter
    val out = ExactWindow.slidingPanes(src, Seq("sensor_name"), "ts",
      lengthMs = 10000L, slideMs = 10000L,
      aggs = Seq(ExactWindow.ExactAgg.count("n", "reading"),
        ExactWindow.ExactAgg.sum("s", "reading"),
        ExactWindow.ExactAgg.min("mn", "reading"),
        ExactWindow.ExactAgg.max("mx", "reading"),
        ExactWindow.ExactAgg.avg("av", "reading")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_nulls").start()
    try {
      input.addData(
        NullableMeasurement(1000, "a", Some(4.0)),
        NullableMeasurement(2000, "a", None),      // skipped, not 0.0
        NullableMeasurement(3000, "b", None))      // all-null frame
      input.addData(NullableMeasurement(20000, "z", Some(0.0)))
      q.processAllAvailable()
      val rows = spark.table("exact_nulls")
        .select($"sensor_name", $"n", $"s", $"mn", $"mx", $"av")
        .as[(String, Long, Option[Double], Option[Double], Option[Double],
          Option[Double])]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
      assert(rows("a") == (1L, Some(4.0), Some(4.0), Some(4.0), Some(4.0)),
        s"null values must be skipped, got ${rows("a")}")
      assert(rows("b") == (0L, None, None, None, None),
        "an all-null frame must emit count 0 and NULL sum/min/max/avg " +
          s"(built-in agg semantics), got ${rows("b")}")
    } finally q.stop()
  }

  test("slidingPanes matches built-in window() + udaf at a 12:1 " +
      "length/slide ratio") {
    // the pane layer is a pure cost optimization — 1× shuffle rows and
    // length/slide-fold fewer state rows — so its output must be
    // row-identical to Spark's built-in window() aggregate on a fixture
    // with out-of-order rows, multiple groups, a merge-exercising
    // map-state UDAF, and a 12:1 length/slide ratio (60s windows
    // sliding by 5s)
    val data = Seq(
      Measurement(11000, "x", 1.0), Measurement(4000, "x", 3.0),
      Measurement(58000, "y", 7.0), Measurement(62000, "x", 5.0),
      Measurement(31000, "y", 1.0), Measurement(31000, "x", 1.0),
      Measurement(300000, "z", 0.0))
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    val out = ExactWindow.slidingPanes(src, Seq("sensor_name"), "ts",
      lengthMs = 60000L, slideMs = 5000L, aggs = Seq(
        ExactWindow.ExactAgg.count("n", "reading"),
        ExactWindow.ExactAgg.sum("sum", "reading"),
        ExactWindow.ExactAgg.min("mn", "reading"),
        ExactWindow.ExactAgg.avg("av", "reading"),
        ExactWindow.ExactAgg[String, Map[String, Long], Map[String, Long]](
          "by_value", _.getAs[Double]("reading").toString,
          new graft.operators.Udafs.CountByValue,
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType))))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_pane_12").start()
    val got = try {
      // two batches so pane partials cross a micro-batch boundary
      input.addData(data.take(3): _*)
      q.processAllAvailable()
      input.addData(data.drop(3): _*)
      q.processAllAvailable()
      spark.table("exact_pane_12")
        .select($"sensor_name", $"window_start_time".cast("long").as("ws"),
          $"window_end_time".cast("long").as("we"), $"n", $"sum",
          $"mn", $"av", $"by_value")
        .as[(String, Long, Long, Long, Double, Double, Double,
          Map[String, Long])]
        .collect().toSet
    } finally q.stop()
    // batch 2 arrives under the 58s watermark of batch 1, so Spark's
    // late-row filter drops its two 31s rows before the operator
    val accepted = data.take(3) ++ data.drop(3).filter(_.occurred_at_ms > 58000)
    val byValue = udaf(new graft.operators.Udafs.CountByValue,
      org.apache.spark.sql.Encoders.STRING)
    val expected = accepted.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
      .groupBy($"sensor_name", window($"ts", "60 seconds", "5 seconds"))
      .agg(count($"reading").as("n"), sum($"reading").as("sum"),
        min($"reading").as("mn"), avg($"reading").as("av"),
        byValue($"reading".cast("string")).as("by_value"))
      .select($"sensor_name", $"window.start".cast("long").as("ws"),
        $"window.end".cast("long").as("we"), $"n", $"sum", $"mn", $"av",
        $"by_value")
      .as[(String, Long, Long, Long, Double, Double, Double,
        Map[String, Long])]
      .collect().toSet
      .filter(_._3 <= 300) // windows the 300s watermark has closed
    assert(got == expected,
      s"pane form diverged:\n built-in=${expected.size} rows" +
        s"\n panes=${got.size} rows" +
        s"\n missing=${(expected -- got).take(3)}" +
        s"\n extra=${(got -- expected).take(3)}")
    assert(expected.size > 30,
      "fixture must close a meaningful number of 12-pane windows")
  }

  test("slidingPanes handles non-multiple slides on the gcd pane grid") {
    // 7s windows sliding by 3s: panes live on the gcd grid (1s, 7 per
    // window), window starts on the 3s slide grid — checked against
    // Spark's built-in window() on the same rows
    val data = Seq(
      Measurement(500, "x", 1.0), Measurement(2500, "x", 3.0),
      Measurement(4100, "y", 7.0), Measurement(6900, "x", 5.0),
      Measurement(9300, "y", 1.0), Measurement(12800, "x", 2.0),
      Measurement(15100, "y", 4.0), Measurement(90000, "z", 0.0))
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    val out = ExactWindow.slidingPanes(src, Seq("sensor_name"), "ts",
      lengthMs = 7000L, slideMs = 3000L, aggs = Seq(
        ExactWindow.ExactAgg.count("n", "reading"),
        ExactWindow.ExactAgg.sum("sum", "reading"),
        ExactWindow.ExactAgg.max("mx", "reading")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_gcd").start()
    val got = try {
      // split across batches so gcd-pane partials cross a micro-batch
      // boundary and mid-stream timers fire before the closer row
      input.addData(data.take(4): _*)
      q.processAllAvailable()
      input.addData(data.drop(4): _*)
      q.processAllAvailable()
      spark.table("exact_gcd")
        .select($"sensor_name", $"window_start_time".cast("long").as("ws"),
          $"window_end_time".cast("long").as("we"), $"n", $"sum", $"mx")
        .as[(String, Long, Long, Long, Double, Double)]
        .collect().toSet
    } finally q.stop()
    val expected = data.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
      .groupBy($"sensor_name", window($"ts", "7 seconds", "3 seconds"))
      .agg(count($"reading").as("n"), sum($"reading").as("sum"),
        max($"reading").as("mx"))
      .select($"sensor_name", $"window.start".cast("long").as("ws"),
        $"window.end".cast("long").as("we"), $"n", $"sum", $"mx")
      .as[(String, Long, Long, Long, Double, Double)]
      .collect().toSet
      .filter(_._3 <= 90) // windows the 90s watermark has closed
    assert(got == expected,
      s"gcd pane form diverged:\n missing=${(expected -- got).take(5)}" +
        s"\n extra=${(got -- expected).take(5)}")
    assert(expected.size > 10,
      "fixture must close a meaningful number of 7:3 windows")
    // window grid sanity: every start is slide-aligned, length exact
    got.foreach { case (_, ws, we, _, _, _) =>
      assert(we - ws == 7 && math.floorMod(ws, 3) == 0,
        s"window [$ws,$we) must be 7s long on the 3s slide grid")
    }
  }

  test("slidingPanes: a fully-drained key re-activates cleanly after " +
      "its state (panes + frontier) was dropped") {
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    val out = ExactWindow.slidingPanes(src, Seq("sensor_name"), "ts",
      lengthMs = 10000L, slideMs = 5000L,
      aggs = Seq(ExactWindow.ExactAgg.count("n", "reading"),
        ExactWindow.ExactAgg.sum("s", "reading")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_pane_drain").start()
    try {
      // phase 1: one window's worth for "a", then a watermark push far
      // enough that ALL of a's panes evict (frontier cleared)
      input.addData(Measurement(11000, "a", 1.0))
      input.addData(Measurement(100000, "z", 0.0))
      q.processAllAvailable()
      // phase 2: the same key returns much later — must open fresh
      // frames and emit correctly despite its state having been dropped
      input.addData(Measurement(211000, "a", 7.0))
      input.addData(Measurement(400000, "z", 0.0))
      q.processAllAvailable()
      val got = spark.table("exact_pane_drain")
        .filter($"sensor_name" === "a")
        .select($"window_start_time".cast("long"), $"n", $"s")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == Set((5L, 1L, 1.0), (10L, 1L, 1.0),
        (205L, 1L, 7.0), (210L, 1L, 7.0)),
        s"drained-then-reactivated key must emit both phases, got $got")
    } finally q.stop()
  }

  test("sessionRows matches built-in session_window on closed sessions") {
    // reference declares Session(gap) but todo!()s the operator — this
    // custom tier strictly exceeds it; parity target is Spark's own
    // session_window (the q9-validated semantics)
    val data = Seq(
      Measurement(1000, "a", 1.0), Measurement(4000, "a", 2.0),  // one session
      Measurement(20000, "a", 3.0),                              // second (gap 5s)
      Measurement(2000, "b", 5.0),
      Measurement(90000, "z", 0.0))                              // watermark push
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    val out = ExactWindow.sessionRows(src, Seq("sensor_name"), "ts",
      gapMs = 5000L,
      aggs = Seq(ExactWindow.ExactAgg.count("n", "reading"),
        ExactWindow.ExactAgg.sum("sum", "reading")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_sess").start()
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      val got = spark.table("exact_sess")
        .select($"sensor_name", $"window_start_time".cast("long").as("ws"),
          $"window_end_time".cast("long").as("we"), $"n", $"sum")
        .as[(String, Long, Long, Long, Double)].collect().toSet
      val expected = data.toDF("ms", "g", "v")
        .withColumn("ts", timestamp_millis($"ms"))
        .groupBy(session_window($"ts", "5 seconds"), $"g")
        .agg(count(lit(1)).as("n"), sum($"v").as("sum"))
        .select($"g", $"session_window.start".cast("long").as("ws"),
          $"session_window.end".cast("long").as("we"), $"n", $"sum")
        .as[(String, Long, Long, Long, Double)].collect().toSet
        .filter(_._3 <= 90) // sessions the 90s watermark has closed
      assert(got == expected, s"got $got\nexpected $expected")
      assert(expected.size == 3, "fixture must close 3 sessions")
    } finally q.stop()
  }

  test("sessionRows merges sessions bridged by an out-of-order row") {
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    val out = ExactWindow.sessionRows(src, Seq("sensor_name"), "ts",
      gapMs = 7000L,
      aggs = Seq(ExactWindow.ExactAgg.count("n", "reading")),
      delay = "60 seconds") // tolerate the out-of-order bridge row
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("exact_sess_merge").start()
    try {
      // two disjoint open sessions [100s,107s) and [112s,119s)
      // (offset from epoch 0: a row AT the initial watermark 0 would be
      // dropped by Spark's strict late-record filter) ...
      input.addData(Measurement(100000, "a", 1.0),
        Measurement(112000, "a", 1.0))
      q.processAllAvailable()
      // ... bridged into ONE session by an out-of-order row at 106s:
      // 106s is within gap of row 100s AND of row 112s, so both open
      // sessions (and their buffers, via ExactAgg.merge) coalesce
      input.addData(Measurement(106000, "a", 1.0))
      input.addData(Measurement(400000, "z", 0.0)) // close everything
      q.processAllAvailable()
      val got = spark.table("exact_sess_merge")
        .filter($"sensor_name" === "a")
        .select($"window_start_time".cast("long"),
          $"window_end_time".cast("long"), $"n")
        .as[(Long, Long, Long)].collect().toSet
      // built-in semantics on the same rows: 100s,106s,112s with gap 7s
      // chain into one session [100s, 119s) of 3 rows
      assert(got == Set((100L, 119L, 3L)),
        s"bridged sessions must merge transitively, got $got")
    } finally q.stop()
  }

  test("custom stateful window agrees with built-in append-mode window") {
    val input = MemoryStream[Measurement](spark)
    val src = input.toDF
      .withColumn("ts", timestamp_millis($"occurred_at_ms"))
    val custom = ExactWindow.tumbling(src, "sensor_name", "ts", "reading",
      10000L)
    val q = custom.writeStream.outputMode("append")
      .format("memory").queryName("exact_cmp").start()
    val data = Seq(Measurement(1000, "x", 1.0), Measurement(2500, "x", 3.0),
      Measurement(9999, "y", 7.0), Measurement(12000, "x", 5.0),
      Measurement(50000, "z", 0.0))
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      val got = spark.table("exact_cmp")
        .select($"group", $"window_start_time".cast("long").as("ws"),
          $"n", $"sum")
        .as[(String, Long, Long, Double)].collect().toSet
      // reference computation via the built-in path on the same batch
      val expected = data.toDF("ms", "g", "v")
        .withColumn("ts", timestamp_millis($"ms"))
        .groupBy(window($"ts", "10 seconds"), $"g")
        .agg(count(lit(1)).as("n"), sum($"v").as("sum"))
        .select($"g", $"window.start".cast("long").as("ws"), $"n", $"sum")
        .as[(String, Long, Long, Double)].collect().toSet
        .filter(_._2 < 40) // windows the watermark (50s) has closed
      assert(got == expected)
    } finally q.stop()
  }
}
