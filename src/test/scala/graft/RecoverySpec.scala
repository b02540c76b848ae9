package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.DataStream
import graft.api.WindowShape.Fixed

/** Checkpoint/recovery semantics — replaces the reference's
  * orchestrator + SlateDB offset/state snapshots (SURVEY §2.7) with
  * Spark's checkpointLocation: source offsets AND window-agg state
  * must survive a query restart.
  */
class RecoverySpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("occurred_at_ms", LongType),
    StructField("sensor_name", StringType),
    StructField("reading", DoubleType)))

  test("window state and source offsets survive a query restart") {
    val dir = Files.createTempDirectory("graft-recovery").toFile
    val inputDir = new java.io.File(dir, "input"); inputDir.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath

    def writeBatch(name: String, rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("occurred_at_ms", "sensor_name", "reading")
        .coalesce(1).write.mode("append").parquet(inputDir.getAbsolutePath)

    val outDir = new java.io.File(dir, "out").getAbsolutePath

    // file sink: the recovery-capable, exactly-once sink (memory sink
    // rejects checkpoint restart by design)
    def startQuery() = {
      val src = spark.readStream.schema(
        spark.read.parquet(inputDir.getAbsolutePath).schema)
        .parquet(inputDir.getAbsolutePath)
      val ds = DataStream(
        src.withColumn("ts", timestamp_millis($"occurred_at_ms")), "ts")
        .window(Seq($"sensor_name"), Seq(count(lit(1)).as("n")), "10 seconds")
      ds.toDF.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .format("parquet").start()
    }

    // batch 1: 3 events for window [0,10s) — no window closes yet
    writeBatch("b1", Seq((1000L, "a", 1.0), (2000L, "a", 2.0),
      (5000L, "a", 3.0)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).isEmpty, "window must not close early")

    // batch 2 arrives while the query is DOWN: one more row in the
    // open window + one far-future row to push the watermark
    writeBatch("b2", Seq((7000L, "a", 4.0), (60000L, "a", 0.0)))

    // restart from the same checkpoint: recovered state must combine
    // batch-1 (pre-restart) and batch-2 rows into one window result;
    // recovered offsets must not re-read batch 1 (no double counting)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(outDir)
      .filter($"window_start_time".cast("long") === 0).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("n") == 4,
      "restart must resume from checkpointed state (3 old + 1 new rows)" +
        s" — got ${rows.mkString}")
  }

  test("healthMonitor composite state (KMV sketch buffer + bucket " +
      "counts) survives a query restart") {
    import graft.operators.Drift
    val dir = Files.createTempDirectory("graft-hm-recovery").toFile
    val inputDir = new java.io.File(dir, "input"); inputDir.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val outDir = new java.io.File(dir, "out").getAbsolutePath
    def writeBatch(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("occurred_at_ms", "sensor_name", "reading")
        .coalesce(1).write.mode("append")
        .parquet(inputDir.getAbsolutePath)
    def startQuery() = {
      val src = spark.readStream.schema(schema)
        .parquet(inputDir.getAbsolutePath)
      DataStream(src.withColumn("ts",
          timestamp_millis($"occurred_at_ms")), "ts")
        .healthMonitor("sensor_name", Fixed("10 seconds"),
          value = Some(Drift.ValueBaseline("reading", Seq(10.0),
            Seq(0.25, 0.75))))
        .toDF.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .format("parquet").start()
    }
    // batch 1: 3 rows in the open window [0,10 s); the sketch buffer
    // (a TypedImperativeAggregate) checkpoints via its custom
    // serialize path
    writeBatch(Seq((1000L, "a", 5.0), (2000L, "b", 15.0),
      (5000L, "a", 25.0)))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(outDir).isEmpty,
      "window must not close early")
    // batch 2 lands while the query is DOWN: a 4th distinct-bearing
    // row for the open window + a watermark pusher
    writeBatch(Seq((7000L, "c", 5.0), (60000L, "z", 0.0)))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(outDir)
      .filter($"window_start_time".cast("long") === 0)
      .select("n_rows", "n_distinct_est", "dup_rate", "n_null",
        "tvd")
      .as[(Long, Double, Double, Long, Double)].collect().toList
    // 4 rows (3 recovered + 1 new), sensors a,b,a,c → 3 distinct,
    // dup_rate .25; readings 5,15,25,5 vs (.25,.75) → p=(.5,.5) →
    // tvd = .25: the merged sketch AND merged bucket counts both
    // span the restart
    assert(rows == List((4L, 3.0, 0.25, 0L, 0.25)))
  }

  test("validationMonitor suite state (conditional counts + KMV " +
      "uniqueness sketch) survives a query restart") {
    import graft.operators.Validate._
    val dir = Files.createTempDirectory("graft-vm-recovery").toFile
    val inputDir = new java.io.File(dir, "input"); inputDir.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val outDir = new java.io.File(dir, "out").getAbsolutePath
    def writeBatch(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("occurred_at_ms", "sensor_name", "reading")
        .coalesce(1).write.mode("append")
        .parquet(inputDir.getAbsolutePath)
    def startQuery() = {
      val src = spark.readStream.schema(schema)
        .parquet(inputDir.getAbsolutePath)
      DataStream(src.withColumn("ts",
          timestamp_millis($"occurred_at_ms")), "ts")
        .validationMonitor(Seq(
          FracBetween("reading", 0.0, 10.0, 0.9),
          Uniqueness("sensor_name", 0.9, k = 64),
          SizeAtLeast(4)), Fixed("10 seconds"))
        .toDF.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .format("parquet").start()
    }
    // batch 1: 3 rows in the open window [0,10 s)
    writeBatch(Seq((1000L, "a", 5.0), (2000L, "b", 15.0),
      (5000L, "a", 2.0)))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(outDir).isEmpty,
      "window must not close early")
    // batch 2 lands while the query is DOWN
    writeBatch(Seq((7000L, "c", 7.0), (60000L, "z", 0.0)))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(outDir)
      .filter($"window_start_time".cast("long") === 0)
      .orderBy("check_name")
      .select("check_name", "value", "passed")
      .as[(String, Double, Boolean)].collect().toList
    // 4 rows span the restart: readings 5,15,2,7 → 3/4 in [0,10]
    // FAIL; sensors a,b,a,c → 3/4 distinct FAIL; size 4 ≥ 4 pass —
    // counts AND the sketch both merged across the checkpoint
    assert(rows == List(
      ("between(reading)", 0.75, false),
      ("size()", 4.0, true),
      ("uniqueness(sensor_name)", 0.75, false)))
  }

  test("ExactWindow ungrouped/global form survives a restart") {
    val dir = Files.createTempDirectory("graft-recovery-global").toFile
    val inputDir = new java.io.File(dir, "input"); inputDir.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val outDir = new java.io.File(dir, "out").getAbsolutePath

    def writeBatch(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("occurred_at_ms", "sensor_name", "reading")
        .coalesce(1).write.mode("append").parquet(inputDir.getAbsolutePath)

    def startQuery() = {
      val src = spark.readStream.schema(
        spark.read.parquet(inputDir.getAbsolutePath).schema)
        .parquet(inputDir.getAbsolutePath)
        .withColumn("ts", timestamp_millis($"occurred_at_ms"))
      graft.streaming.ExactWindow
        .slidingPanes(src, Seq.empty, "ts", 10000L, 10000L,
          Seq(graft.streaming.ExactWindow.ExactAgg.count("n", "reading"),
            graft.streaming.ExactWindow.ExactAgg.sum("sum", "reading")))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .format("parquet").start()
    }

    // pre-restart: two rows across two groups land in ONE global frame
    writeBatch(Seq((1000L, "a", 10.0), (4000L, "b", 20.0)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).isEmpty,
      "no emission before watermark passes window end")

    // while DOWN: one more row for the open global window + push
    writeBatch(Seq((8000L, "c", 30.0), (30000L, "z", 0.0)))

    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(outDir)
      .filter($"window_start_time".cast("long") === 0).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("n") == 3 &&
      rows(0).getAs[Double]("sum") == 60.0,
      "recovered global-frame state must combine pre- and post-restart " +
        s"rows — got ${rows.mkString}")
  }

  test("ExactWindow session state (open sessions + timers) survives a restart") {
    val dir = Files.createTempDirectory("graft-recovery-sess").toFile
    val inputDir = new java.io.File(dir, "input"); inputDir.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val outDir = new java.io.File(dir, "out").getAbsolutePath

    def writeBatch(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("occurred_at_ms", "sensor_name", "reading")
        .coalesce(1).write.mode("append").parquet(inputDir.getAbsolutePath)

    def startQuery() = {
      val src = spark.readStream.schema(
        spark.read.parquet(inputDir.getAbsolutePath).schema)
        .parquet(inputDir.getAbsolutePath)
        .withColumn("ts", timestamp_millis($"occurred_at_ms"))
      graft.streaming.ExactWindow
        .sessionRows(src, Seq("sensor_name"), "ts", gapMs = 5000L,
          Seq(graft.streaming.ExactWindow.ExactAgg.count("n", "reading"),
            graft.streaming.ExactWindow.ExactAgg.sum("sum", "reading")))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .format("parquet").start()
    }

    // pre-restart: one open session [10s, ...]
    writeBatch(Seq((10000L, "a", 1.0), (13000L, "a", 2.0)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).isEmpty,
      "no emission while the session is open")

    // while DOWN: extend the recovered session + push the watermark
    writeBatch(Seq((16000L, "a", 4.0), (90000L, "z", 0.0)))

    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(outDir)
      .filter($"sensor_name" === "a").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("n") == 3 &&
      rows(0).getAs[Double]("sum") == 7.0 &&
      rows(0).getAs[java.sql.Timestamp]("window_end_time").getTime == 21000L,
      "recovered open session must absorb post-restart rows and close " +
        s"at last+gap — got ${rows.mkString}")
  }

  test("ExactWindow pane state (pane map + frontier + timers) survives a restart") {
    val dir = Files.createTempDirectory("graft-recovery-pane").toFile
    val inputDir = new java.io.File(dir, "input"); inputDir.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val outDir = new java.io.File(dir, "out").getAbsolutePath

    def writeBatch(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("occurred_at_ms", "sensor_name", "reading")
        .coalesce(1).write.mode("append").parquet(inputDir.getAbsolutePath)

    def startQuery() = {
      val src = spark.readStream.schema(
        spark.read.parquet(inputDir.getAbsolutePath).schema)
        .parquet(inputDir.getAbsolutePath)
        .withColumn("ts", timestamp_millis($"occurred_at_ms"))
      graft.streaming.ExactWindow
        .slidingPanes(src, Seq("sensor_name"), "ts",
          lengthMs = 10000L, slideMs = 5000L,
          Seq(graft.streaming.ExactWindow.ExactAgg.count("n", "reading"),
            graft.streaming.ExactWindow.ExactAgg.sum("sum", "reading")))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .format("parquet").start()
    }

    // pre-restart: rows in panes [10s,15s) and [15s,20s); the batch-1
    // watermark (16s) closes exactly the windows ending at 15s
    writeBatch(Seq((11000L, "a", 10.0), (16000L, "a", 20.0)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    val early = spark.read.parquet(outDir)
      .select($"window_start_time".cast("long")).as[Long].collect().toSet
    assert(early == Set(5L),
      s"only the [5s,15s) window may close before restart, got $early")

    // while DOWN: one more row into the open pane + watermark push
    writeBatch(Seq((17000L, "a", 30.0), (90000L, "z", 0.0)))

    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    // window [10s,20s) must combine the recovered pane partials (10,20)
    // with the post-restart row (30)
    val rows = spark.read.parquet(outDir)
      .filter($"sensor_name" === "a" &&
        $"window_start_time".cast("long") === 10).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("n") == 3 &&
      rows(0).getAs[Double]("sum") == 60.0,
      "recovered pane partials must combine with post-restart rows — " +
        s"got ${rows.mkString}")
  }

  test("window checkpoints resume across a RocksDB changelog-checkpointing " +
      "switch, off to on and on to off") {
    val key =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val batches = Seq(
      Seq((1000L, "a", 1.0), (2000L, "b", 2.0), (5000L, "a", 3.0),
        (12000L, "a", 4.0)),
      // 8 s is behind batch 1's 12 s watermark: dropped as late
      Seq((15000L, "a", 5.0), (21000L, "b", 6.0), (8000L, "b", 7.0)),
      Seq((25000L, "b", 8.0), (90000L, "z", 0.0)))

    // Feeds the batches, one micro-batch each, through a 10 s window.
    // With two settings the query stops after batch 2 and restarts
    // from its checkpoint with the second one. Returns the closed
    // windows and, per query run, the state files that run added.
    def run(changelog: Boolean*) = {
      val dir = Files.createTempDirectory("graft-recovery-changelog").toFile
      val inputDir = new java.io.File(dir, "input"); inputDir.mkdirs()
      val ckpt = new java.io.File(dir, "ckpt")
      val outDir = new java.io.File(dir, "out").getAbsolutePath
      def stateFiles(): Set[String] = {
        val st = new java.io.File(ckpt, "state").toPath
        if (!Files.exists(st)) Set.empty
        else Files.walk(st).iterator.asScala.map(_.getFileName.toString)
          .toSet
      }
      val parts =
        if (changelog.size == 1) Seq(batches)
        else Seq(batches.take(2), batches.drop(2))
      val prev = spark.conf.get(key)
      val added = changelog.zip(parts).map { case (on, part) =>
        val before = stateFiles()
        spark.conf.set(key, on.toString)
        try {
          val src = spark.readStream.schema(schema)
            .parquet(inputDir.getAbsolutePath)
          val q = DataStream(
              src.withColumn("ts", timestamp_millis($"occurred_at_ms")), "ts")
            .window(Seq($"sensor_name"),
              Seq(count(lit(1)).as("n"), sum($"reading").as("s")),
              "10 seconds")
            .toDF.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt.getAbsolutePath)
            .option("path", outDir)
            .format("parquet").start()
          try part.foreach { rows =>
            rows.toDF("occurred_at_ms", "sensor_name", "reading")
              .coalesce(1).write.mode("append")
              .parquet(inputDir.getAbsolutePath)
            q.processAllAvailable()
          } finally q.stop()
        } finally spark.conf.set(key, prev)
        stateFiles() -- before
      }
      val windows = spark.read.parquet(outDir)
        .select(($"window_start_time".cast("long")), $"sensor_name", $"n",
          $"s")
        .as[(Long, String, Long, Double)].collect().sorted.toList
      (windows, added)
    }

    val (uninterrupted, _) = run(true)
    assert(uninterrupted == List((0L, "a", 2L, 4.0), (0L, "b", 1L, 2.0),
      (10L, "a", 2L, 9.0), (20L, "b", 2L, 14.0)))
    Seq(Seq(false, true), Seq(true, false)).foreach { switch =>
      val (windows, added) = run(switch: _*)
      assert(windows == uninterrupted, s"changelog $switch")
      // each run wrote its own format: changelog files, or zip snapshots
      switch.zip(added).foreach { case (on, files) =>
        assert(files.exists(_.endsWith(".changelog")) == on,
          s"changelog $switch, run with $on added $files")
        if (!on) assert(files.exists(_.endsWith(".zip")),
          s"changelog $switch, run with $on added $files")
      }
    }
  }
}
