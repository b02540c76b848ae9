package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Storage

class StorageSpec extends AnyFunSuite with SparkSpec {

  private def dropManaged(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
  }

  test("bucketed tables join with zero shuffle exchange") {
    dropManaged("orders_b"); dropManaged("lineitem_b")
    val orders = Graft.table(spark, sf, "orders")
    val lineitem = Graft.table(spark, sf, "lineitem")
    Storage.writeBucketed(orders, "orders_b", "o_orderkey", 8)
    Storage.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 8)
    // disable broadcast so the co-located sort-merge path is the one
    // demonstrated (at 100TB neither side broadcasts anyway)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Storage.readTable(spark, "orders_b")
        .join(Storage.readTable(spark, "lineitem_b"), Seq("o_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join+agg on the bucket key must not shuffle:\n$plan")
      // results identical to the plain join
      val expected = orders.join(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        Seq("o_orderkey")).count()
      assert(Storage.readTable(spark, "orders_b")
        .join(Storage.readTable(spark, "lineitem_b"), Seq("o_orderkey"))
        .count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned write prunes partitions under a filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part")
      .toFile.getAbsolutePath
    val ev = Graft.table(spark, sf, "events")
      .withColumn("day", to_date(col("ts")))
    Storage.writePartitioned(ev, dir, Seq("day"))
    val filtered = spark.read.parquet(dir)
      .filter(col("day") === "2024-01-02")
    val scan = filtered.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(scan.contains("PartitionFilters"),
      s"filter on partition column must prune:\n$scan")
    val expected = ev.filter(to_date(col("ts")) === "2024-01-02").count()
    assert(filtered.count() == expected && expected > 0)
  }

  test("mortonCode interleaves bits; zorderBy range-partitions on it") {
    import spark.implicits._
    // 2-bit hand check: x=0b10, y=0b01 → z = y1 x1 y0 x0 = 0b0110 = 6
    val z = Seq((2L, 1L)).toDF("x", "y")
      .select(Storage.mortonCode(Seq(col("x"), col("y")), 2).as("z"))
      .as[Long].collect().head
    assert(z == 6L)
    // locality: close points in both dims → close codes (prefix share)
    val df = (0 until 64).flatMap(x => (0 until 64).map(y =>
      (x.toLong, y.toLong))).toDF("x", "y")
    val ordered = Storage.zorderBy(df, Seq("x", "y"), bits = 6,
      numPartitions = 4,
      quantize = c => c) // already in [0, 2^6)
    val plan = ordered.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning") ||
      plan.contains("RangePartitioning") || plan.contains("Exchange"),
      s"zorderBy must range-exchange on the code:\n$plan")
    assert(ordered.count() == 64 * 64)
    // every partition holds a contiguous, sorted z-range
    val codes = ordered
      .withColumn("z", Storage.mortonCode(Seq(col("x"), col("y")), 6))
      .withColumn("p", spark_partition_id())
      .select("p", "z").as[(Int, Long)].collect()
    val byPart = codes.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ranges = byPart.values.map(v => (v.min, v.max)).toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo,
        "partition z-ranges must not overlap")
      case _ =>
    }
  }

  test("compact: merges small files shuffle-free to the byte-sized " +
      "count, keeps content identical, rebalance tier shuffles") {
    import spark.implicits._
    val docs = Graft.table(spark, sf, "documents")
      .select($"doc_id", $"text").limit(400)
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
      .toString + "/t"
    docs.repartition(40).write.parquet(dir)
    def parts(p: String): Int = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts(dir) == 40, "fixture must start fragmented")
    val before = spark.read.parquet(dir)
      .as[(Long, String)].collect().toSet
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // target a quarter of the data per file → expect ceil(total/target)
    val target = math.max(totalBytes / 4, 1L)
    val (nIn, nOut) = Storage.compact(spark, dir, target)
    assert(nIn == 40)
    assert(nOut == ((totalBytes + target - 1) / target).toInt)
    assert(parts(dir) == nOut, "directory must hold the compacted files")
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet
      == before, "compaction must not lose or duplicate rows")
    // default tier must not shuffle: coalesce plan has no Exchange
    val plan = spark.read.parquet(dir).coalesce(2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"coalesce compaction must be shuffle-free:\n$plan")
    // rebalance tier: still identity, file count honored
    val (_, nOut2) = Storage.compact(spark, dir,
      targetFileBytes = totalBytes * 2, rebalance = true)
    assert(nOut2 == 1 && parts(dir) == 1)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet
      == before)
    // coalesce cannot SPLIT: asking one file for 8 must report the
    // real written count (1), not the byte-sized request
    val (_, nOut3) = Storage.compact(spark, dir,
      targetFileBytes = math.max(totalBytes / 8, 1L))
    assert(nOut3 == 1 && parts(dir) == 1,
      "reported output count must be what was actually written")
  }

  test("compact starts no process: its listings never read file " +
      "permissions (no `ls -ld` per file without libhadoop)") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-spawn")
      .toString + "/t"
    spark.range(200).repartition(8).write.parquet(dir)
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val (nIn, nOut) = Storage.compact(spark, dir)
      rec.stop()
      assert(nIn == 8 && nOut == 1)
      val jfr = java.nio.file.Files.createTempFile("graft-compact", ".jfr")
      rec.dump(jfr)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr)
        .asScala.map(_.getString("command")).toList
      assert(commands.isEmpty,
        s"${commands.size} spawns in compact, e.g. ${commands.take(3)}")
    } finally rec.close()
  }

  test("compact refuses a hive-partitioned root (layout would be " +
      "destroyed) and points at compactPartitioned") {
    import spark.implicits._
    val docs = Graft.table(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang").limit(100)
    val dir = java.nio.file.Files.createTempDirectory("graft-cguard")
      .toString + "/t"
    docs.write.partitionBy("lang").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Storage.compact(spark, dir)
    }
    assert(e.getMessage.contains("compactPartitioned"),
      "the error must route the caller to the partition-safe API")
    // the guarded call must not have touched the data
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("compactPartitioned: each key=value leaf compacts in place, " +
      "layout and content survive") {
    import spark.implicits._
    val docs = Graft.table(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang").limit(400)
    val dir = java.nio.file.Files.createTempDirectory("graft-cpart")
      .toString + "/t"
    docs.repartition(10).write.partitionBy("lang").parquet(dir)
    val before = spark.read.parquet(dir)
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().toSet
    val langDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang="))
      .map(_.getName).toSet
    assert(langDirs.nonEmpty)
    val results = Storage.compactPartitioned(spark, dir,
      targetFileBytes = 64L << 20)
    assert(results.map(_._1).toSet == langDirs,
      "every partition leaf must be compacted")
    assert(results.forall { case (_, in, out) => out == 1 && in >= out })
    val langDirsAfter = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang="))
      .map(_.getName).toSet
    assert(langDirsAfter == langDirs, "partition layout must survive")
    assert(spark.read.parquet(dir).select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().toSet == before)
  }
}
