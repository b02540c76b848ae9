package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sketches

class SketchesSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("kmv: unsaturated sketch is exact, duplicates collapse") {
    val df = (1 to 100).flatMap(i => Seq.fill(3)(s"v$i")).toDF("x")
    val est = df.agg(
      Sketches.kmvDistinct(Sketches.kmvSketch($"x", 128), 128)).head()
      .getDouble(0)
    assert(est == 100.0)
  }

  test("kmv: saturated estimator within 25% at k=256, n=5000") {
    val df = (1 to 5000).map(i => s"value-$i").toDF("x")
    val est = df.agg(
      Sketches.kmvDistinct(Sketches.kmvSketch($"x", 256), 256)).head()
      .getDouble(0)
    // KMV relative std-error ≈ 1/sqrt(k-2) ≈ 6.3%; 25% is ~4σ
    assert(math.abs(est - 5000.0) / 5000.0 < 0.25,
      s"KMV estimate $est too far from 5000")
  }

  test("kmv: sketches compose — merge(sk(A), sk(B)) == sk(A ∪ B)") {
    val k = 64
    val a = (1 to 500).map(i => s"a$i").toDF("x")
    val b = (300 to 800).map(i => s"a$i").toDF("x")
    val sa = a.agg(Sketches.kmvSketch($"x", k)).head().getSeq[Long](0)
    val sb = b.agg(Sketches.kmvSketch($"x", k)).head().getSeq[Long](0)
    val sUnion = a.union(b).agg(Sketches.kmvSketch($"x", k)).head()
      .getSeq[Long](0)
    val merged = spark.sql("SELECT 1")
      .select(Sketches.kmvMerge(typedLit(sa), typedLit(sb), k))
      .head().getSeq[Long](0)
    assert(merged == sUnion)
  }

  test("kmv: deterministic across partition layouts") {
    val rows = (1 to 2000).map(i => s"doc-$i")
    val s1 = rows.toDF("x").repartition(1)
      .agg(Sketches.kmvSketch($"x", 128)).head().getSeq[Long](0)
    val s7 = rows.reverse.toDF("x").repartition(7)
      .agg(Sketches.kmvSketch($"x", 128)).head().getSeq[Long](0)
    assert(s1 == s7)
  }

  test("kmv: null rows are skipped, like COUNT(DISTINCT)") {
    val df = Seq(Some("a"), Some("b"), None, Some("a"), None)
      .toDF("x")
    val est = df.agg(
      Sketches.kmvDistinct(Sketches.kmvSketch($"x", 16), 16)).head()
      .getDouble(0)
    assert(est == 2.0)
  }

  test("corpusOverlap: exact regime matches set arithmetic") {
    val a = (1 to 400).map(i => s"t$i").toDF("text")
    val b = (201 to 700).map(i => s"t$i").toDF("text")
    val r = Sketches.corpusOverlap(a, b, "text", k = 1024).head()
    assert(r.getDouble(0) == 400.0) // |A|
    assert(r.getDouble(1) == 500.0) // |B|
    assert(r.getDouble(2) == 700.0) // |A ∪ B|
    assert(r.getDouble(3) == 200.0) // |A ∩ B|
    assert(math.abs(r.getDouble(4) - 200.0 / 700.0) < 1e-6)
  }

  test("corpusOverlap: saturated estimates stay near truth") {
    val a = (1 to 4000).map(i => s"t$i").toDF("text")
    val b = (2001 to 6000).map(i => s"t$i").toDF("text")
    val r = Sketches.corpusOverlap(a, b, "text", k = 512).head()
    // truth: |A|=|B|=4000, |A∪B|=6000, |A∩B|=2000, J=1/3
    assert(math.abs(r.getDouble(2) - 6000.0) / 6000.0 < 0.3,
      s"union est ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - 2000.0) / 2000.0 < 0.4,
      s"intersect est ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) - 1.0 / 3.0) < 0.15,
      s"jaccard est ${r.getDouble(4)}")
  }

  test("persisted kmv sketch: round-trips bit-identical, refuses " +
      "mismatched k") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-kmv-idx").toString
    val a = (1 to 300).map(i => s"t$i").toDF("text")
    operators.DedupIndex.writeKmv(a, "text", s"$dir/a", k = 64)
    val back = operators.DedupIndex.readKmv(spark, s"$dir/a", k = 64)
      .head().getSeq[Long](0)
    val inline = a.agg(operators.Sketches.kmvSketch($"text", 64))
      .head().getSeq[Long](0)
    assert(back == inline)
    val e = intercept[IllegalArgumentException] {
      operators.DedupIndex.readKmv(spark, s"$dir/a", k = 128) }
    assert(e.getMessage.contains("rebuild"))
    // no sidecar (incomplete build) → refused
    val e2 = intercept[IllegalArgumentException] {
      operators.DedupIndex.readKmv(spark, s"$dir/missing", k = 64) }
    assert(e2.getMessage.contains("sidecar"))
  }

  test("kmv: empty corpora — zero estimates, Jaccard 0, no nulls") {
    val empty = Seq.empty[String].toDF("text")
    val some = Seq("a", "b").toDF("text")
    val r1 = Sketches.corpusOverlap(empty, empty, "text", k = 16).head()
    assert((0 to 4).forall(i => !r1.isNullAt(i)))
    assert(r1.getDouble(2) == 0.0 && r1.getDouble(4) == 0.0)
    val r2 = Sketches.corpusOverlap(some, empty, "text", k = 16).head()
    assert(r2.getDouble(0) == 2.0 && r2.getDouble(3) == 0.0 &&
      r2.getDouble(4) == 0.0)
  }

  test("misra-gries: exact when capacity >= distinct items") {
    val rows = (1 to 50).flatMap(i => Seq.fill(i)(s"w$i"))
    val df = rows.toDF("item").repartition(7)
    val got = Sketches.frequentItems(df, "item", capacity = 64, k = 10)
      .as[(String, Long, Long)].collect().toList
    val want = (50 to 41 by -1).map(i => (s"w$i", i.toLong, i.toLong))
    assert(got == want.toList)
  }

  test("misra-gries: saturated summary honors the MG error contract") {
    // 10 heavy items (1000 each) + 5000 singleton items, capacity 64:
    // heavy hitters must survive with count_min <= f <= count_max
    val heavy = (1 to 10).flatMap(i => Seq.fill(1000)(s"H$i"))
    val noise = (1 to 5000).map(i => s"n$i")
    val df = scala.util.Random.shuffle(heavy ++ noise).toDF("item")
      .repartition(7)
    val top = Sketches.frequentItems(df, "item", capacity = 64, k = 10)
      .as[(String, Long, Long)].collect()
    assert(top.map(_._1).toSet == (1 to 10).map(i => s"H$i").toSet,
      s"heavy items lost: ${top.map(_._1).mkString(",")}")
    top.foreach { case (item, lo, hi) =>
      assert(lo <= 1000L && 1000L <= hi,
        s"$item: true 1000 outside [$lo, $hi]") }
  }

  test("misra-gries: null items skipped; ties rank (count desc, item)") {
    val df = Seq(Some("b"), Some("a"), Some("b"), Some("a"), None)
      .toDF("item")
    val got = Sketches.frequentItems(df, "item", capacity = 8, k = 5)
      .as[(String, Long, Long)].collect().toList
    assert(got == List(("a", 2L, 2L), ("b", 2L, 2L)))
  }

  test("topNgramsApprox: exact regime matches the exact two-pass " +
      "topNgrams on real documents") {
    val docs = Graft.table(spark, sf, "documents")
    val approx = Sketches.topNgramsApprox(docs, "text", n = 3,
        capacity = 32768, k = 20)
      .select($"item", $"count_min").as[(String, Long)].collect().toSet
    val exact = operators.TextAnalysis.topNgrams(docs, "text", n = 3,
        k = 20)
      .as[(String, Long)].collect().toSet
    assert(approx == exact)
  }

  test("SQL surface: kmv_sketch and freq_sketch aggregate in " +
      "spark.sql, parity with the Column API") {
    (1 to 100).flatMap(i => Seq.fill(1 + i % 3)(s"v$i")).toDF("x")
      .createOrReplaceTempView("sk_items")
    val sqlSketch = spark.sql(
      """SELECT kmv_sketch(xxhash64(x) ^ -9223372036854775808, 128)
        |FROM sk_items""".stripMargin).head().getSeq[Long](0)
    val apiSketch = spark.table("sk_items")
      .agg(Sketches.kmvSketch($"x", 128)).head().getSeq[Long](0)
    assert(sqlSketch == apiSketch)
    val sqlTop = spark.sql(
      """SELECT fs.items FROM
        |  (SELECT freq_sketch(x, 256) AS fs FROM sk_items)""".stripMargin)
      .head().getMap[String, Long](0)
    assert(sqlTop.size == 100 && sqlTop("v2") == 3L && sqlTop("v3") == 1L)
  }

  test("quantilesDisc == percentile_approx at full accuracy " +
      "(random data, groups, ties, nulls)") {
    val rnd = new scala.util.Random(421)
    val rows = (1 to 4000).map { i =>
      val g = s"g${rnd.nextInt(5)}"
      // heavy ties (quantized) + a null sprinkle
      val v: java.lang.Double =
        if (rnd.nextInt(50) == 0) null
        else math.floor(rnd.nextDouble() * 40) / 2.0
      (g, v)
    } :+ (("lonely", java.lang.Double.valueOf(7.5)))
    val df = rows.toDF("g", "v")
    val ps = Seq(0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val expected = df.groupBy($"g").agg(
      expr(s"percentile_approx(v, array(${ps.mkString("D,")}D), " +
        "1000000)").as("q")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val got = Sketches.quantilesDisc(df, "v", Seq("g"), ps).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](2)).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (g, qs) =>
      assert(qs == expected(g), s"group $g: $qs != ${expected(g)}")
    }
  }

  test("quantilesCont == percentile/median bit-for-bit") {
    val rnd = new scala.util.Random(77)
    val rows = (1 to 3001).map { i =>
      (s"g${rnd.nextInt(4)}", rnd.nextDouble() * 100 - 50)
    }
    val df = rows.toDF("g", "v")
    val ps = Seq(0.25, 0.5, 0.9)
    val expected = df.groupBy($"g").agg(
      expr(s"percentile(v, array(${ps.mkString("D,")}D))").as("q"),
      median($"v").as("m")).collect()
      .map(r => r.getString(0) -> (r.getSeq[Double](1), r.getDouble(2)))
      .toMap
    val got = Sketches.quantilesCont(df, "v", Seq("g"), ps).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](2)).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (g, qs) =>
      assert(qs == expected(g)._1, s"group $g: $qs != ${expected(g)._1}")
      assert(qs(1) == expected(g)._2,
        s"group $g: median ${qs(1)} != ${expected(g)._2}")
    }
  }

  test("quantilesDisc matches the quantile_disc rank convention " +
      "(rank = ceil(p*n)) on tiny hand cases") {
    // the DuckDB-verified table from the q31 contract: n=6 values
    // 1..6 → (q25,q50,q75) = (2,3,5)
    val df = (1 to 6).map(i => ("a", i.toDouble)).toDF("g", "v")
    val got = Sketches.quantilesDisc(df, "v", Seq("g"),
      Seq(0.25, 0.5, 0.75)).head().getSeq[Double](2)
    assert(got == Seq(2.0, 3.0, 5.0))
  }

  test("quantilesDisc fails loudly when its input recomputes " +
      "differently between the two passes") {
    // a nondeterministic key: each stage that evaluates it takes the
    // next generation (the range sampler's is 0); even generations put
    // every row in group "a", odd ones split by parity, so a recomputed
    // map stage moves rows between groups. The generation map is a JVM
    // global: tasks deserialize their own copy of anything captured
    import SketchesSpec.gens
    gens.synchronized(gens.clear())
    val key = udf { (v: Long) =>
      val sid = org.apache.spark.TaskContext.get().stageId()
      val gen = gens.synchronized(gens.getOrElseUpdate(sid, gens.size))
      if (gen % 2 == 0 || v % 2 == 0) "a" else "b"
    }.asNondeterministic()
    val df = spark.range(0, 400, 1, 4)
      .select(key(col("id")).as("g"), col("id").cast("double").as("v"))
    // control: with the shuffle output kept, both passes read the same
    // rows and the answer comes back
    assert(Sketches.quantilesDisc(df, "v", Seq("g"), Seq(0.5))
      .count() > 0)
    gens.synchronized(gens.clear())
    // fault: pass 1's job drops the range shuffle's map outputs, so
    // pass 2 recomputes them under a new key assignment
    val hook = new org.apache.spark.sql.graftshim.DropShuffleOutputs
    spark.sparkContext.addSparkListener(hook)
    val e = try intercept[IllegalStateException] {
      Sketches.quantilesDisc(df, "v", Seq("g"), Seq(0.5)).collect()
    } finally spark.sparkContext.removeSparkListener(hook)
    assert(e.getMessage.matches(
      "(?s)groupedOrderStats: group List\\([ab]\\) in partition \\d+ " +
        "counted \\d+ rows in pass 1 but \\d+ in pass 2.*"),
      e.getMessage)
  }

  test("kmv: map-side partial aggregation — plan has a partial stage") {
    // the whole point of the bounded-buffer aggregator at 100 TB:
    // each task reduces its partition to ≤ k longs BEFORE the
    // exchange. ObjectHashAggregate with partial_bottomk on the scan
    // side of the shuffle is the plan-shape witness.
    val df = (1 to 100).map(i => s"v$i").toDF("x").repartition(4)
    val plan = df.agg(Sketches.kmvSketch($"x", 32))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_kmv_sketch") ||
      plan.toLowerCase.contains("partial"), plan)
  }
}

object SketchesSpec {
  /** stage id → order in which the stage first evaluated the
    * recompute spec's key UDF
    */
  val gens: scala.collection.mutable.Map[Int, Int] =
    scala.collection.mutable.Map.empty
}
