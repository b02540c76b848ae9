package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.DataStream
import graft.api.WindowShape.Fixed
import graft.operators.{DedupIndex, Drift}

/** Distribution-drift monitors: bucket semantics, exact fractions,
  * the three statistics (tvd/max_shift hash-gated in d41/d42; psi —
  * which rides ln — pinned HERE by exact Scala replay of the same
  * formula), baseline persistence, and refusals.
  */
class DriftSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def tsDf(rows: Seq[(Long, java.lang.Double)]) =
    rows.toDF("ms", "value")
      .withColumn("ts", timestamp_millis($"ms"))

  test("histBucket: count-of-boundaries-below semantics, nulls map " +
      "to null (never bucket 0), unsorted boundaries refused") {
    val df = Seq[java.lang.Double](5.0, 10.0, 24.9, 25.0, 99.0, null)
      .toDF("v")
    val got = df.select(Drift.histBucket($"v", Seq(10.0, 25.0))
      .as("b")).as[Option[Int]].collect().toSeq
    // [−∞,10) → 0; [10,25) → 1 (boundary inclusive below); [25,∞) → 2
    assert(got == Seq(Some(0), Some(1), Some(1), Some(2), Some(2),
      None))
    val e = intercept[IllegalArgumentException] {
      Drift.histBucket($"v", Seq(25.0, 10.0))
    }
    assert(e.getMessage.contains("strictly increasing"))
    val e2 = intercept[IllegalArgumentException] {
      Drift.histBucket($"v", Seq(10.0, 10.0))
    }
    assert(e2.getMessage.contains("strictly increasing"))
  }

  test("histFractions: exact fractions of non-null rows; empty " +
      "baseline refused") {
    val df = Seq[java.lang.Double](1.0, 2.0, 15.0, 30.0, null)
      .toDF("v")
    val fr = Drift.histFractions(df, "v", Seq(10.0, 25.0))
    assert(fr.toSeq == Seq(0.5, 0.25, 0.25))
    val e = intercept[IllegalArgumentException] {
      Drift.histFractions(Seq[java.lang.Double](null).toDF("v"), "v",
        Seq(10.0))
    }
    assert(e.getMessage.contains("no non-null"))
  }

  test("quantileBoundaries: near-even split on a smooth column; " +
      "point masses collapse to a strictly-increasing set") {
    val smooth = spark.range(1000).select($"id".cast("double")
      .as("v"))
    val qb = Drift.quantileBoundaries(smooth, "v", nBuckets = 4)
    assert(qb.size == 3 && qb == qb.sorted && qb.distinct == qb)
    val fr = Drift.histFractions(smooth, "v", qb)
    fr.foreach(f => assert(math.abs(f - 0.25) < 0.05,
      s"uneven bucket: ${fr.toSeq}"))
    // 90% of the mass on one point: the 3 inner quartiles coincide
    // and must collapse rather than produce a degenerate bucket list
    val spiked = spark.range(1000).select(
      when($"id" < 900, lit(7.0)).otherwise($"id".cast("double"))
        .as("v"))
    val qs = Drift.quantileBoundaries(spiked, "v", nBuckets = 4)
    assert(qs == qs.sorted && qs.distinct == qs && qs.nonEmpty)
  }

  test("categoryFractions: top-N by (count desc, category asc), " +
      "smaller categories and nulls pool under __other__") {
    val df = (Seq.fill(4)("en") ++ Seq.fill(3)("de") ++
      Seq.fill(3)("fr") ++ Seq("it") ++ Seq[String](null))
      .toDF("lang")
    val got = Drift.categoryFractions(df, "lang", topN = 2)
    // de/fr tie at 3 → category asc puts de second; it + null → other
    assert(got == Seq("en" -> 4 / 12.0, "de" -> 3 / 12.0,
      Drift.OtherCategory -> 5 / 12.0))
    // topN covering everything and no nulls → no __other__ entry
    val all = Drift.categoryFractions(
      Seq("a", "a", "b").toDF("c"), "c", topN = 5)
    assert(all == Seq("a" -> 2 / 3.0, "b" -> 1 / 3.0))
  }

  test("driftMonitor (batch twin): exact tvd/max_shift, psi replays " +
      "the formula bit-exact, null values counted apart, an " +
      "all-null window still emits with null stats") {
    val df = tsDf(Seq(
      (1000L, 5.0), (2000L, 15.0), (3000L, 15.0),
      (4000L, null),                                  // [0, 10 s)
      (11000L, 5.0), (12000L, 5.0),                   // [10, 20 s)
      (21000L, null)))                                // [20, 30 s)
    val out = DataStream(df, "ts")
      .driftMonitor("value", Fixed("10 seconds"), Seq(10.0), Seq(0.5, 0.5))
      .df.orderBy("window_start_time")
      .select($"n_rows", $"n_null", $"tvd", $"max_shift", $"psi")
      .collect()
    assert(out.length == 3)
    // window 1: p = (1/3, 2/3) vs (0.5, 0.5)
    val eps = 1e-6
    def psi(ps: Seq[Double], bs: Seq[Double]): Double =
      round6(ps.zip(bs).map { case (p, b) =>
        (p - b) * math.log((p + eps) / (b + eps)) }.sum)
    val w1 = out(0)
    assert((w1.getLong(0), w1.getLong(1)) == (4L, 1L))
    assert(w1.getDouble(2) == round6(0.5 * (1.0 / 6 + 1.0 / 6)))
    assert(w1.getDouble(3) == round6(1.0 / 6))
    assert(w1.getDouble(4) == psi(Seq(1.0 / 3, 2.0 / 3), Seq(0.5, 0.5)))
    // window 2: all mass in bucket 0 → tvd 0.5, max_shift 0.5
    val w2 = out(1)
    assert((w2.getLong(0), w2.getLong(1)) == (2L, 0L))
    assert(w2.getDouble(2) == 0.5 && w2.getDouble(3) == 0.5)
    assert(w2.getDouble(4) == psi(Seq(1.0, 0.0), Seq(0.5, 0.5)))
    // window 3: zero non-null rows → EMITS, stats null
    val w3 = out(2)
    assert((w3.getLong(0), w3.getLong(1)) == (1L, 1L))
    assert(w3.isNullAt(2) && w3.isNullAt(3) && w3.isNullAt(4))
    // identical distribution → all three stats exactly 0
    val same = tsDf(Seq((1000L, 5.0), (2000L, 15.0)))
    val z = DataStream(same, "ts")
      .driftMonitor("value", Fixed("10 seconds"), Seq(10.0), Seq(0.5, 0.5))
      .df.select($"tvd", $"max_shift", $"psi").head()
    assert((z.getDouble(0), z.getDouble(1), z.getDouble(2)) ==
      ((0.0, 0.0, 0.0)))
    // geometry mismatch refused
    val e = intercept[IllegalArgumentException] {
      DataStream(same, "ts").driftMonitor("value", Fixed("10 seconds"),
        Seq(10.0), Seq(0.5, 0.3, 0.2))
    }
    assert(e.getMessage.contains("B+1 buckets"))
  }

  test("categoryDriftMonitor: unseen categories and nulls pool to " +
      "__other__; a baseline without __other__ gets a zero-mass one") {
    val df = Seq((1000L, "en"), (2000L, "en"), (3000L, "xx"),
        (4000L, null.asInstanceOf[String]))
      .toDF("ms", "lang")
      .withColumn("ts", timestamp_millis($"ms"))
    val out = DataStream(df, "ts")
      .categoryDriftMonitor("lang", Fixed("10 seconds"),
        Seq("en" -> 0.5, "de" -> 0.5))
      .df.select($"n_rows", $"n_null", $"tvd", $"max_shift").head()
    // observed (en, de, other) = (0.5, 0, 0.5) vs (0.5, 0.5, 0)
    // tvd = 0.5·(0 + 0.5 + 0.5) = 0.5; max_shift = 0.5; n_null = 0
    // (nulls pool, they don't drop)
    assert((out.getLong(0), out.getLong(1)) == (4L, 0L))
    assert(out.getDouble(2) == 0.5 && out.getDouble(3) == 0.5)
    val e = intercept[IllegalArgumentException] {
      DataStream(df, "ts").categoryDriftMonitor("lang", Fixed("10 seconds"),
        Seq("en" -> 0.5, "en" -> 0.5))
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("driftReport: per-group drift vs the frozen baseline; a " +
      "group with only null values reports null stats, not a " +
      "missing row") {
    val df = Seq(
      ("src_a", java.lang.Double.valueOf(5.0)),
      ("src_a", java.lang.Double.valueOf(15.0)),
      ("src_b", java.lang.Double.valueOf(15.0)),
      ("src_b", java.lang.Double.valueOf(15.0)),
      ("src_c", null.asInstanceOf[java.lang.Double]))
      .toDF("source", "v")
    val out = Drift.driftReport(df, Seq("source"), "v", Seq(10.0),
        Seq(0.5, 0.5))
      .orderBy("source")
      .select($"source", $"n_rows", $"n_null", $"tvd", $"max_shift")
      .collect()
    assert(out.length == 3)
    // src_a matches the baseline exactly → tvd 0
    assert(out(0).getString(0) == "src_a" &&
      out(0).getDouble(3) == 0.0 && out(0).getDouble(4) == 0.0)
    // src_b: all mass above → tvd 0.5
    assert(out(1).getString(0) == "src_b" &&
      out(1).getDouble(3) == 0.5 && out(1).getDouble(4) == 0.5)
    // src_c: 1 row, all null → stats null, row still present
    assert(out(2).getString(0) == "src_c" &&
      (out(2).getLong(1), out(2).getLong(2)) == ((1L, 1L)) &&
      out(2).isNullAt(3) && out(2).isNullAt(4))
    val e = intercept[IllegalArgumentException] {
      Drift.driftReport(df, Seq.empty, "v", Seq(10.0), Seq(0.5, 0.5))
    }
    assert(e.getMessage.contains("group column"))
  }

  test("sumVector / vec_sum: exact element-wise sums, null vectors " +
      "skipped, ragged dimensions refused loudly, SQL-registered") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(10.0f, 20.0f, 30.0f)),
      (3L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    assert(Drift.sumVector(df, "embedding").toSeq ==
      Seq(11.0, 22.0, 33.0))
    // SQL spelling (GraftFunctions registry)
    graft.functions.GraftFunctions.registerAll(spark)
    df.createOrReplaceTempView("vs_in")
    assert(spark.sql("SELECT vec_sum(embedding) AS s FROM vs_in")
      .head().getSeq[Double](0) == Seq(11.0, 22.0, 33.0))
    val ragged = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Drift.sumVector(ragged, "embedding")
    }
    // the refusal surfaces from an executor task → walk the cause
    // chain for the library's message
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("ragged"))
    val allNull = Seq((1L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      Drift.sumVector(allNull, "embedding")
    }
    assert(e2.getMessage.contains("no non-null"))
    // a null ELEMENT inside a vector refuses as loudly as a ragged
    // dim (it would otherwise silently sum as 0.0 on unsafe rows,
    // skewing the centroid) — a whole-null VECTOR above skips fine
    val holed = Seq((1L, Seq[java.lang.Double](1.0, null, 3.0)))
      .toDF("vec_id", "embedding")
    val e3 = intercept[Exception] {
      Drift.sumVector(holed, "embedding")
    }
    val msgs3 = Iterator.iterate(e3: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs3.contains("null element"))
  }

  test("centroidDriftReport: per-group cosine vs the frozen " +
      "baseline centroid; aligned slice reads 1.0, orthogonal 0.0, " +
      "all-null group emits with null stats") {
    val df = Seq(
      ("aligned", Seq(2.0f, 0.0f)), ("aligned", Seq(4.0f, 0.0f)),
      ("ortho", Seq(0.0f, 3.0f)),
      ("nulls", null.asInstanceOf[Seq[Float]]))
      .toDF("src", "embedding")
    val out = Drift.centroidDriftReport(df, Seq("src"), "embedding",
        Seq(1.0, 0.0))
      .orderBy("src").collect()
    assert(out.length == 3)
    assert(out(0).getString(0) == "aligned" &&
      out(0).getDouble(3) == 1.0 && out(0).getDouble(4) == 0.0)
    assert(out(1).getString(0) == "nulls" &&
      (out(1).getLong(1), out(1).getLong(2)) == ((1L, 1L)) &&
      out(1).isNullAt(3) && out(1).isNullAt(4))
    assert(out(2).getString(0) == "ortho" &&
      out(2).getDouble(3) == 0.0 && out(2).getDouble(4) == 1.0)
    // zero-norm group sum → null stats (cosine undefined), row emits
    val zero = Seq(("z", Seq(1.0f, 0.0f)), ("z", Seq(-1.0f, 0.0f)))
      .toDF("src", "embedding")
    val zr = Drift.centroidDriftReport(zero, Seq("src"), "embedding",
      Seq(1.0, 0.0)).head()
    assert(zr.isNullAt(3) && zr.isNullAt(4))
  }

  test("labelCohesionReport: exact own/rival means on hand-built " +
      "clusters, modal confusion direction, single-label corpus " +
      "reports null rival columns") {
    import graft.operators.Similarity
    def round6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // label 0 along (1,0): members (2,0),(4,0) → own cos 1.0 each;
    // label 1 along (0,1): (0,3) own cos 1.0;
    // label 2 at 45°: (1,1) own cos 1.0 (single member, centroid =
    // itself). Rivals: for label-0 members the best rival is the 45°
    // centroid (cos √2/2 beats the orthogonal 0) → top_rival 2.
    val df = Seq(
      (1L, 0, Seq(2.0f, 0.0f)), (2L, 0, Seq(4.0f, 0.0f)),
      (3L, 1, Seq(0.0f, 3.0f)), (4L, 2, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.labelCohesionReport(df, "embedding",
        "vec_id", "label")
      .orderBy("label").collect()
    val c45 = math.sqrt(2.0) / 2
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    assert(out(0).getLong(1) == 2L &&
      out(0).getDouble(2) == 1.0 &&
      out(0).getDouble(3) == round6(c45) &&
      out(0).getDouble(4) == round6(1.0 - c45) &&
      out(0).getInt(5) == 2)
    // label 2's member ties its rivals at cos √2/2 each → label asc
    // picks 0
    assert(out(2).getDouble(2) == 1.0 && out(2).getInt(5) == 0)
    // single-label corpus: no rivals → null rival/margin/top_rival,
    // never a failure
    val solo = Seq((1L, 7, Seq(1.0f, 0.0f)), (2L, 7, Seq(2.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val sr = Similarity.labelCohesionReport(solo, "embedding",
      "vec_id", "label").head()
    assert(sr.getInt(0) == 7 && sr.getDouble(2) == 1.0 &&
      sr.isNullAt(3) && sr.isNullAt(4) && sr.isNullAt(5))
    // null labels / null embeddings are excluded, not crashed on
    val dirty = df.unionByName(Seq(
      (9L, null.asInstanceOf[java.lang.Integer], Seq(1.0f, 0.0f)),
      (10L, java.lang.Integer.valueOf(0),
        null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "label", "embedding"))
    val clean = Similarity.labelCohesionReport(dirty, "embedding",
      "vec_id", "label").orderBy("label").collect()
    assert(clean.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((0, 2L), (1, 1L), (2, 1L)))
  }

  test("writeVec/readVec/appendVec: persisted centroid round-trips, " +
      "append adds only the new drop's sum, dim mismatches refused") {
    val half1 = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val half2 = Seq((3L, Seq(10.0f, 20.0f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-vec")
      .toString + "/idx"
    DedupIndex.writeVec(half1, "embedding", dir)
    assert(DedupIndex.readVec(spark, dir, dim = 2).toSeq ==
      Seq(4.0, 6.0))
    DedupIndex.appendVec(half2, "embedding", dir)
    assert(DedupIndex.readVec(spark, dir, dim = 2).toSeq ==
      Seq(14.0, 26.0))
    val e = intercept[IllegalArgumentException] {
      DedupIndex.readVec(spark, dir, dim = 3)
    }
    assert(e.getMessage.contains("rebuild"))
    val e2 = intercept[IllegalArgumentException] {
      DedupIndex.appendVec(
        Seq((4L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding"),
        "embedding", dir)
    }
    assert(e2.getMessage.contains("dim=2"))
  }

  test("writeCats/readCats/appendCats: persisted category baseline " +
      "round-trips, appends count new drops over the FROZEN set, " +
      "categoryDriftMonitorFromIndex equals the literal spelling") {
    val half1 = (Seq.fill(4)("en") ++ Seq.fill(3)("de") ++ Seq("it"))
      .toDF("lang")
    // the new drop carries a category OUTSIDE the frozen set (xx) and
    // a null — both must pool into __other__, not grow the set
    val half2 = (Seq.fill(2)("en") ++ Seq("xx") ++ Seq[String](null))
      .toDF("lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-cats")
      .toString + "/idx"
    DedupIndex.writeCats(half1, "lang", dir, topN = 2)
    assert(DedupIndex.readCats(spark, dir, topN = 2) ==
      Seq("en" -> 0.5, "de" -> 0.375, Drift.OtherCategory -> 0.125))
    DedupIndex.appendCats(half2, "lang", dir)
    // union: en 6, de 3, other (it + xx + null) 3 of 12
    assert(DedupIndex.readCats(spark, dir, topN = 2) ==
      Seq("en" -> 0.5, "de" -> 0.25, Drift.OtherCategory -> 0.25))
    val df = Seq((1000L, "en"), (2000L, "de")).toDF("ms", "lang")
      .withColumn("ts", timestamp_millis($"ms"))
    val viaIndex = DataStream(df, "ts")
      .categoryDriftMonitor("lang", Fixed("10 seconds"),
        DedupIndex.readCats(spark, dir, topN = 2)).df.collect().toSeq
    val viaLit = DataStream(df, "ts")
      .categoryDriftMonitor("lang", Fixed("10 seconds"),
        Seq("en" -> 0.5, "de" -> 0.25, Drift.OtherCategory -> 0.25))
      .df.collect().toSeq
    assert(viaIndex == viaLit)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.readCats(spark, dir, topN = 5)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("centroid drift with NaN-poisoned embeddings: the window/group " +
      "still EMITS (NaN stats, visibly broken) — garbage must alarm, " +
      "not vanish; embeddingStats is the upstream repair tool") {
    val df = Seq(
      ("bad", Seq(Float.NaN, 1.0f)), ("bad", Seq(1.0f, 1.0f)),
      ("ok", Seq(1.0f, 0.0f)))
      .toDF("src", "embedding")
    val out = Drift.centroidDriftReport(df, Seq("src"), "embedding",
        Seq(1.0, 0.0))
      .orderBy("src").collect()
    assert(out.length == 2)
    // the poisoned group emits with NaN cosine — present and loud
    assert(out(0).getString(0) == "bad" &&
      out(0).getDouble(3).isNaN)
    assert(out(1).getString(0) == "ok" &&
      out(1).getDouble(3) == 1.0)
  }

  test("appendHist: new drop re-counted against FROZEN boundaries, " +
      "merged fractions equal a fresh count over the union") {
    val half1 = spark.range(500).select(($"id" % 100).cast("double")
      .as("v"))
    val half2 = spark.range(500, 1000)
      .select(($"id" % 40).cast("double").as("v"))
    val dir = java.nio.file.Files.createTempDirectory("graft-histapp")
      .toString + "/idx"
    DedupIndex.writeHist(half1, "v", dir, nBuckets = 5)
    val (boundsBefore, _) = DedupIndex.readHist(spark, dir, 5)
    DedupIndex.appendHist(half2, "v", dir)
    val (bounds, fracs) = DedupIndex.readHist(spark, dir, 5)
    // boundaries FROZEN by the append (historical numbers stay
    // comparable); fractions exactly re-derivable from the union
    assert(bounds == boundsBefore)
    assert(fracs.toSeq == Drift.histFractions(
      half1.unionByName(half2), "v", bounds).toSeq)
  }

  test("writeHist/readHist: persisted baseline round-trips and " +
      "driftMonitorFromIndex equals the literal spelling; foreign " +
      "kind and mismatched n_buckets refused") {
    val base = spark.range(1000).select(($"id" % 100).cast("double")
        .as("v"))
    val dir = java.nio.file.Files.createTempDirectory("graft-hist")
      .toString + "/idx"
    DedupIndex.writeHist(base, "v", dir, nBuckets = 5)
    val (bounds, fracs) = DedupIndex.readHist(spark, dir, nBuckets = 5)
    assert(fracs.size == bounds.size + 1)
    assert(math.abs(fracs.sum - 1.0) < 1e-9)
    assert(fracs.toSeq ==
      Drift.histFractions(base, "v", bounds).toSeq)
    val df = tsDf(Seq((1000L, 3.0), (2000L, 42.0), (3000L, 97.0)))
    val (idxBounds, idxFracs) = DedupIndex.readHist(spark, dir, nBuckets = 5)
    val viaIndex = DataStream(df, "ts")
      .driftMonitor("value", Fixed("10 seconds"), idxBounds, idxFracs)
      .df.collect().toSeq
    val viaLiterals = DataStream(df, "ts")
      .driftMonitor("value", Fixed("10 seconds"), bounds,
        Drift.histFractions(base, "v", bounds).toSeq)
      .df.collect().toSeq
    assert(viaIndex == viaLiterals)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.readHist(spark, dir, nBuckets = 10)
    }
    assert(e.getMessage.contains("rebuild"))
    val kmvDir = java.nio.file.Files.createTempDirectory("graft-hist2")
      .toString + "/idx"
    DedupIndex.writeKmv(Seq("a").toDF("u"), "u", kmvDir, k = 64)
    val e2 = intercept[IllegalArgumentException] {
      DedupIndex.readHist(spark, kmvDir, nBuckets = 5)
    }
    assert(e2.getMessage.contains("not 'hist'"))
  }

  test("alarms: severity + alarm list over every monitor kind's " +
      "output shape — graded bands, margin<=0 alert, null stats ok, " +
      "non-monitor frames refused; streams as a pure projection") {
    import graft.api.DataStream
    // distinct-monitor shape: dup_rate bands
    val dm = Seq((100L, 50.0, 0.5), (100L, 75.0, 0.25),
      (100L, 95.0, 0.05))
      .toDF("n_rows", "n_distinct_est", "dup_rate")
    assert(Drift.alarms(dm).select("severity", "alarms")
      .as[(String, Seq[String])].collect().toSeq == Seq(
      ("alert", Seq("dup_rate:alert")),
      ("warn", Seq("dup_rate:warn")),
      ("ok", Seq.empty)))
    // numeric drift shape: psi dominates tvd when worse; null → ok
    val dr = Seq(
      (Some(0.05), Some(0.3)), (Some(0.15), Some(0.05)),
      (None, None))
      .toDF("tvd", "psi")
    assert(Drift.alarms(dr).select("severity", "alarms")
      .as[(String, Seq[String])].collect().toSeq == Seq(
      ("alert", Seq("psi:alert")),
      ("warn", Seq("tvd:warn")),
      ("ok", Seq.empty)))
    // overlap-monitor shape
    val om = Seq(0.9, 0.6, 0.1).toDF("overlap_frac")
    assert(Drift.alarms(om).select("severity")
      .as[String].collect().toSeq == Seq("alert", "warn", "ok"))
    // label-cohesion shape: margin <= 0 is an alert by definition
    val lc = Seq(("a", -0.01), ("b", 0.0), ("c", 0.2))
      .toDF("label", "margin")
    assert(Drift.alarms(lc).select("severity")
      .as[String].collect().toSeq == Seq("alert", "alert", "ok"))
    // composite health shape: worst metric wins, list names each
    val hm = Seq((0.45, 0.12, 0.3)).toDF("dup_rate", "tvd", "cat_psi")
    assert(Drift.alarms(hm).select("severity", "alarms")
      .as[(String, Seq[String])].head() ==
      (("alert", Seq("dup_rate:alert", "tvd:warn", "cat_psi:alert"))))
    // centroid drift + custom thresholds
    val cd = Seq(0.05).toDF("emb_centroid_drift")
    assert(Drift.alarms(cd).select("severity").as[String].head()
      == "warn")
    assert(Drift.alarms(cd, Drift.AlarmThresholds(
        centroidDriftAlert = 0.04)).select("severity")
      .as[String].head() == "alert")
    // a frame with no recognized metric refuses
    val e = intercept[IllegalArgumentException] {
      Drift.alarms(Seq(1).toDF("x"))
    }
    assert(e.getMessage.contains("no recognized monitor metric"))
    // the DataStream bridge chains onto a STREAMING monitor
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, String)](spark)
    val q = DataStream(input.toDF
        .selectExpr("timestamp_millis(_1) AS ts", "_2 AS u"), "ts")
      .distinctMonitor("u", Fixed("10 seconds"))
      .alarms()
      .sinkMemory("alarm_out")
    try {
      input.addData((1000L, "a"), (2000L, "a"), (3000L, "a"),
        (4000L, "b"))
      input.addData((25000L, "z"))
      q.processAllAvailable()
      val rows = spark.table("alarm_out")
        .filter($"window_start_time".cast("long") === 0)
        .select("dup_rate", "severity", "alarms")
        .as[(Double, String, Seq[String])].collect().toSeq
      // 4 rows, 2 distinct → dup_rate 0.5 ≥ the 0.4 alert band
      assert(rows == Seq((0.5, "alert", Seq("dup_rate:alert"))))
    } finally q.stop()
  }

  test("healthMonitor (batch twin): all FOUR families — distinct/" +
      "dup-rate, numeric drift, category drift, centroid drift — " +
      "from one windowed aggregation, exact on a hand-built window; " +
      "null value/vector rows counted apart; baselines validated") {
    import graft.api.DataStream
    val df = Seq(
      (1000L, "u1", Some(5.0), "a", Some(Seq(1.0, 0.0))),
      (2000L, "u1", Some(15.0), "a", Some(Seq(0.0, 1.0))),
      (3000L, "u2", None, "b", None),
      (4000L, "u3", Some(25.0), "zz", Some(Seq(1.0, 1.0))))
      .toDF("ms", "user", "value", "cat", "vec")
      .withColumn("ts", timestamp_millis($"ms"))
    val out = DataStream(df, "ts").healthMonitor("user", Fixed("10 seconds"),
      value = Some(Drift.ValueBaseline("value", Seq(10.0),
        Seq(0.5, 0.5))),
      category = Some(Drift.CategoryBaseline("cat",
        Seq("a" -> 0.5, "b" -> 0.5))),
      embedding = Some(Drift.CentroidBaseline("vec", Seq(1.0, 1.0))))
      .df
    def round6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = out.select("n_rows", "n_distinct_est", "dup_rate",
      "n_null", "tvd", "max_shift", "cat_tvd", "cat_max_shift",
      "emb_n_null", "emb_centroid_cos", "emb_centroid_drift")
      .head()
    // 4 rows, 3 distinct users → dup_rate .25; non-null values
    // 5,15,25 → p=(1/3,2/3) vs (.5,.5) → tvd = max_shift = 1/6,
    // n_null = 1; categories (a,b,other)=(2,1,1)/4 = (.5,.25,.25)
    // vs (.5,.5,0) → cat_tvd .25; window SUM vec = [2,2] vs
    // baseline [1,1] → cos 1.0, drift 0, one null vector
    assert(r.getLong(0) == 4 && r.getDouble(1) == 3.0 &&
      r.getDouble(2) == 0.25)
    assert(r.getLong(3) == 1 &&
      r.getDouble(4) == round6(1.0 / 6) &&
      r.getDouble(5) == round6(1.0 / 6))
    assert(r.getDouble(6) == 0.25 && r.getDouble(7) == 0.25)
    assert(r.getLong(8) == 1 && r.getDouble(9) == 1.0 &&
      r.getDouble(10) == 0.0)
    // mismatched numeric baseline refuses loudly
    val e = intercept[IllegalArgumentException] {
      DataStream(df, "ts").healthMonitor("user", Fixed("10 seconds"),
        value = Some(Drift.ValueBaseline("value", Seq(10.0),
          Seq(0.3, 0.3, 0.4))))
    }
    assert(e.getMessage.contains("B+1"))
    // empty centroid refuses
    val e2 = intercept[IllegalArgumentException] {
      DataStream(df, "ts").healthMonitor("user", Fixed("10 seconds"),
        embedding = Some(Drift.CentroidBaseline("vec", Seq.empty)))
    }
    assert(e2.getMessage.contains("empty"))
  }

  test("healthMonitor keyed (by) + from persisted indexes: per-key " +
      "rows match the unkeyed arithmetic per slice, and index-loaded " +
      "baselines reproduce the literal spelling exactly") {
    import graft.api.DataStream
    import graft.operators.DedupIndex
    val df = Seq(
      (1000L, "u1", 5.0, "a"), (2000L, "u1", 15.0, "a"),
      (3000L, "u2", 25.0, "a"),
      (4000L, "u1", 5.0, "b"), (5000L, "u3", 5.0, "b"))
      .toDF("ms", "user", "value", "cat")
      .withColumn("ts", timestamp_millis($"ms"))
    val vb = Drift.ValueBaseline("value", Seq(10.0), Seq(0.5, 0.5))
    // keyed: per (window, cat) — each key's stats are the unkeyed
    // arithmetic over its own slice
    val keyed = DataStream(df, "ts")
      .healthMonitor("user", Fixed("10 seconds"), value = Some(vb),
        by = Seq("cat"))
      .df.orderBy("cat")
      .select("cat", "n_rows", "n_distinct_est", "dup_rate", "tvd")
      .as[(String, Long, Double, Double, Double)].collect().toList
    def round6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // cat a: 3 rows, 2 users, values 5,15,25 → p=(1/3,2/3) → tvd 1/6
    // cat b: 2 rows, 2 users, values 5,5 → p=(1,0) → tvd 0.5
    assert(keyed == List(
      ("a", 3L, 2.0, round6(1.0 / 3), round6(1.0 / 6)),
      ("b", 2L, 2.0, 0.0, 0.5)))
    // from-indexes spelling ≡ literal spelling, loading all three
    // baseline kinds from their persisted artifacts
    val base = java.nio.file.Files
      .createTempDirectory("graft-hm-idx").toString
    val embDf = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("id", "vec")
    DedupIndex.writeHist(df, "value", s"$base/hist", nBuckets = 2)
    DedupIndex.writeCats(df, "cat", s"$base/cats", topN = 2)
    DedupIndex.writeVec(embDf, "vec", s"$base/vec")
    // prior-drop sketch over users u1/u2 (u3 is new this "drop")
    DedupIndex.writeKmv(Seq("u1", "u2").toDF("user"), "user",
      s"$base/kmv", k = 64)
    val (bounds, fracs) = DedupIndex.readHist(spark, s"$base/hist", 2)
    val cats = DedupIndex.readCats(spark, s"$base/cats", 2)
    val vec = DedupIndex.readVec(spark, s"$base/vec", 2).toSeq
    val sketch = DedupIndex.readKmv(spark, s"$base/kmv", 64)
      .head().getSeq[Long](0)
    val withVec = df.withColumn("vec",
      when($"user" === "u1", typedLit(Seq(1.0, 0.0)))
        .otherwise(typedLit(Seq(0.0, 1.0))))
    val viaIndexes = DataStream(withVec, "ts")
      .healthMonitor("user", Fixed("10 seconds"),
        value = Some(Drift.ValueBaseline("value", bounds, fracs)),
        category = Some(Drift.CategoryBaseline("cat",
          DedupIndex.readCats(spark, s"$base/cats", 2))),
        embedding = Some(Drift.CentroidBaseline("vec",
          DedupIndex.readVec(spark, s"$base/vec", 2).toSeq)),
        overlap = Some(Drift.OverlapBaseline(
          DedupIndex.readKmv(spark, s"$base/kmv", 64)
            .head().getSeq[Long](0))), k = 64)
      .df.collect().toSeq
    val viaLiterals = DataStream(withVec, "ts")
      .healthMonitor("user", Fixed("10 seconds"),
        value = Some(Drift.ValueBaseline("value", bounds, fracs)),
        category = Some(Drift.CategoryBaseline("cat", cats)),
        embedding = Some(Drift.CentroidBaseline("vec", vec)),
        overlap = Some(Drift.OverlapBaseline(sketch)), k = 64)
      .df.collect().toSeq
    assert(viaIndexes == viaLiterals && viaIndexes.nonEmpty)
    // overlap section exactness: window users u1,u2,u3 vs baseline
    // {u1,u2} → 2 of 3 distinct overlap (k=64 ≥ distinct → exact)
    val ov = DataStream(withVec, "ts")
      .healthMonitor("user", Fixed("10 seconds"),
        overlap = Some(Drift.OverlapBaseline(sketch)), k = 64)
      .df.select("n_distinct_est", "n_overlap_est", "overlap_frac")
      .as[(Double, Double, Double)].head()
    assert(ov == ((3.0, 2.0,
      BigDecimal(2.0 / 3).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // a sketch bigger than this monitor's k refuses
    val e = intercept[IllegalArgumentException] {
      DataStream(withVec, "ts").healthMonitor("user", Fixed("10 seconds"),
        overlap = Some(Drift.OverlapBaseline(Seq.fill(65)(1L))),
        k = 64)
    }
    assert(e.getMessage.contains("SAME k"))
  }

  test("outlierReport: median/MAD z-scores hand-computed; the " +
      "planted outlier group flags, its peers don't; all-null group " +
      "emits with null z; MAD=0 and refusal edges") {
    // 5 groups with means 10, 12, 14, 16, 1000 → median 14,
    // MAD = median(|m-14|) = median(4,2,0,2,986) = 2
    // z(g5) = (1000-14)/(1.4826*2) = 332.52…, z(g1) = -1.348846
    val rows =
      Seq(("g1", 9L), ("g1", 11L), ("g2", 12L), ("g3", 14L),
        ("g4", 16L), ("g5", 1000L)) ++
      Seq(("g6", 0L)) // placeholder for the all-null group below
    val df = rows.toDF("src", "v")
      .withColumn("v", when($"src" === "g6",
        lit(null).cast("long")).otherwise($"v"))
    val rep = Drift.outlierReport(df, Seq("src"), "v")
      .orderBy("src").collect()
    val byG = rep.map(r => r.getAs[String]("src") -> r).toMap
    assert(byG("g5").getAs[Boolean]("is_outlier"))
    Seq("g1", "g2", "g3", "g4").foreach { g =>
      assert(!byG(g).getAs[Boolean]("is_outlier"), s"$g flagged")
    }
    assert(byG("g3").getAs[Double]("z") == 0.0)
    assert(byG("g1").getAs[Double]("z") ==
      round6((10.0 - 14.0) / (1.4826 * 2.0)))
    assert(byG("g5").getAs[Double]("z") ==
      round6((1000.0 - 14.0) / (1.4826 * 2.0)))
    // the all-null group emits, with null mean/z and no flag
    val g6 = byG("g6")
    assert(g6.getAs[Long]("n_null") == 1)
    assert(g6.isNullAt(g6.fieldIndex("mean_value")) &&
      g6.isNullAt(g6.fieldIndex("z")) &&
      !g6.getAs[Boolean]("is_outlier"))

    // MAD = 0 (≥ half the groups at the median): z null everywhere,
    // nothing flags — peer comparison is meaningless at that spread
    val flat = Seq(("a", 5L), ("b", 5L), ("c", 5L), ("d", 99L))
      .toDF("src", "v")
    val flatRep = Drift.outlierReport(flat, Seq("src"), "v").collect()
    assert(flatRep.forall(r => r.isNullAt(r.fieldIndex("z")) &&
      !r.getAs[Boolean]("is_outlier")))

    intercept[IllegalArgumentException] {
      Drift.outlierReport(df, Seq.empty, "v")
    }
    intercept[IllegalArgumentException] {
      Drift.outlierReport(df, Seq("src"), "v", zThreshold = 0.0)
    }
    // a frame with NO non-null values anywhere refuses (no median)
    val allNull = Seq(("a", 1L)).toDF("src", "v")
      .withColumn("v", lit(null).cast("long"))
    val e2 = intercept[IllegalArgumentException] {
      Drift.outlierReport(allNull, Seq("src"), "v")
    }
    assert(e2.getMessage.contains("no group"))
  }

  test("outlierReport: one corpus scan — the report comes back as a " +
      "local relation (consuming it re-scans nothing), and the " +
      "driver-side median matches SQL percentile bit-for-bit") {
    val df = Seq(("a", 1L), ("a", 3L), ("b", 5L), ("c", 7L),
      ("d", 11L)).toDF("src", "v")
    val rep = Drift.outlierReport(df, Seq("src"), "v")
    val leaves = rep.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"outlierReport must return a local relation, got:\n" +
        rep.queryExecution.optimizedPlan)

    // interpolatedMedian IS percentile(x, 0.5): exact equality over
    // odd/even/singleton/duplicate-heavy and randomized arrays
    val rnd = new scala.util.Random(13)
    val arrays = Seq(
      Array(5.0), Array(1.0, 2.0), Array(3.0, 1.0, 2.0),
      Array(2.0, 2.0, 2.0, 9.0), Array(-1.5, 0.25, 0.25, 7.0, 11.0)
    ) ++ (1 to 8).map(n =>
      Array.fill(rnd.nextInt(25) + 1)(rnd.nextDouble() * 100 - 50))
    arrays.foreach { xs =>
      val sql = xs.toSeq.toDF("x")
        .agg(percentile($"x", lit(0.5))).head().getDouble(0)
      assert(Drift.interpolatedMedian(xs) == sql,
        s"median mismatch on ${xs.toSeq}")
    }
  }
}
