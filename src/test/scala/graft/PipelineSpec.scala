package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

class PipelineSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("shingles: word 3-grams, distinct; short doc = whole text") {
    val df = Seq("a b c d e", "x y").toDF("t")
      .select(Dedup.shingles($"t", 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0).toSet)
    assert(rows(0) == Set("a b c", "b c d", "c d e"))
    assert(rows(1) == Set("x y"))
  }

  test("jaccard: identical=1, disjoint=0, half=1/3") {
    val df = Seq((Seq("a", "b"), Seq("a", "b")),
      (Seq("a"), Seq("b")), (Seq("a", "b"), Seq("b", "c")))
      .toDF("x", "y").select(Dedup.jaccard($"x", $"y").as("j"))
    assert(df.collect().map(_.getDouble(0)).toSeq ==
      Seq(1.0, 0.0, 1.0 / 3.0))
  }

  test("exact dedup keeps min-id row per content group") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("id", "t")
    val groups = Dedup.exactGroups(df, "t", "id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((1L, 2L), (3L, 1L)))
    val kept = Dedup.dropExactDuplicates(df, "t", "id")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val near = base.replace("runs", "walks")
    val other = "completely different content about spark catalyst optimizer internals here now"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, other))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(df, "text", "doc_id",
        threshold = 0.4)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup must be found")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      "near dup should collide on >=1 band")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical texts hamming 0; near texts close; pairs found") {
    val df = Seq("alpha beta gamma delta epsilon zeta", "unrelated words entirely")
      .toDF("t").select(functions.simhash64(TextAnalysis.tokenize($"t")).as("s"))
    val sigs = df.collect().map(_.getLong(0))
    assert(sigs(0) != sigs(1))
    val dupDf = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "something else entirely different here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(dupDf, "text", "doc_id")
      .select("doc_id_1", "doc_id_2", "hamming")
      .as[(Long, Long, Int)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("simhash64_text equals simhash64(tokenize(text)) on real docs") {
    val docs = Graft.table(spark, sf, "documents").select($"text")
      .union(Seq("hello world\n", "\ttabbed start", "mid  gap\r\n",
        "trail \t ").toDF("text"))
    val diff = docs.select(
      functions.simhash64_text($"text").as("a"),
      functions.simhash64(TextAnalysis.tokenize($"text")).as("b"))
      .filter($"a" =!= $"b").count()
    assert(diff == 0)
  }

  test("cosine_similarity: exact value, null on mismatch/zero") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(3.0f, 2.0f, 1.0f)))
      .toDF("a", "b")
      .select(functions.cosine_similarity($"a", $"b").as("c"))
    assert(math.abs(df.head.getDouble(0) - 10.0 / 14.0) < 1e-12)
    val bad = Seq((Seq(1.0f), Seq(1.0f, 2.0f)), (Seq(0.0f), Seq(1.0f)))
      .toDF("a", "b").select(functions.cosine_similarity($"a", $"b"))
    assert(bad.collect().forall(_.isNullAt(0)))
  }

  test("rolling_hash: deterministic polynomial over bytes") {
    val got = Seq("abc").toDF("t")
      .select(functions.rolling_hash($"t")).head.getLong(0)
    val expected = ((97L * 1000003L) + 98L) * 1000003L + 99L
    assert(got == expected)
  }

  test("hyperplane LSH bucket: deterministic, respects nPlanes range") {
    val df = Seq(Seq.fill(8)(0.5f), Seq.fill(8)(-0.5f)).toDF("e")
      .select(functions.hyperplane_lsh_bucket($"e", 8, 8).as("b"))
    val b = df.collect().map(_.getInt(0))
    assert(b(0) == (~b(1) & 0xff),
      "negated vector flips every hyperplane side")
    val again = Seq(Seq.fill(8)(0.5f)).toDF("e")
      .select(functions.hyperplane_lsh_bucket($"e", 8, 8)).head.getInt(0)
    assert(again == b(0))
  }

  test("simhash64_md5 matches an independent MD5 reimplementation") {
    // reference signature computed with plain java.security MD5 —
    // catching any byte-order/vote-rule drift in the expression
    def refSig(tokens: Seq[String]): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](64)
      tokens.foreach { t =>
        md.reset()
        val d = md.digest(t.getBytes("UTF-8"))
        for (k <- 0 until 64)
          if (((d(k >> 3) >> (7 - (k & 7))) & 1) == 1) votes(k) += 1
          else votes(k) -= 1
      }
      (0 until 64).foldLeft(0L)((s, k) =>
        if (votes(k) > 0) s | (1L << (63 - k)) else s)
    }
    val docs = Seq("the quick brown fox", "the quick brown fox",
      "pack my box with five dozen jugs", "héllo wörld 中文 分词")
    val got = docs.toDF("text")
      .select(graft.functions.simhash64_md5(
        TextAnalysis.tokenize(col("text"))).as("sig"))
      .as[Long].collect()
    val want = docs.map(d => refSig(d.trim.split("\\s+").toSeq))
    assert(got.toSeq == want, "expression must equal the reference MD5 simhash")
    assert(got(0) == got(1), "identical docs → identical signatures")
  }

  test("simhashPairsFromSig finds all ≤3-hamming pairs (pigeonhole)") {
    // craft signatures at known hamming distances via direct longs
    val rows = Seq((1L, 0x0123456789abcdefL),
      (2L, 0x0123456789abcdefL ^ 0x7L), // hamming 3, one band differs
      // hamming 5 spread over all 4 bands — no band collides, and the
      // pair is over-distance anyway
      (3L, 0x0123456789abcdefL ^ 0x0001000100010003L),
      (4L, 0xfedcba9876543210L))
    val df = rows.toDF("doc_id", "sig")
    val pairs = Dedup.simhashPairsFromSig(df, col("sig"), "doc_id",
        maxHamming = 3)
      .select($"doc_id_1", $"doc_id_2", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 3)),
      "exactly the ≤3-hamming pair must surface, with exact distance")
  }

  test("simhash128_md5: hi word equals simhash64_md5, lo extends the digest") {
    // the wide signature must be a strict extension of the 64-bit one —
    // independent MD5 reimplementation over all 128 digest bits
    def refSig128(tokens: Seq[String]): (Long, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](128)
      tokens.foreach { t =>
        md.reset()
        val d = md.digest(t.getBytes("UTF-8"))
        for (k <- 0 until 128)
          if (((d(k >> 3) >> (7 - (k & 7))) & 1) == 1) votes(k) += 1
          else votes(k) -= 1
      }
      val hi = (0 until 64).foldLeft(0L)((s, k) =>
        if (votes(k) > 0) s | (1L << (63 - k)) else s)
      val lo = (64 until 128).foldLeft(0L)((s, k) =>
        if (votes(k) > 0) s | (1L << (127 - k)) else s)
      (hi, lo)
    }
    val docs = Seq("the quick brown fox", "pack my box with five dozen jugs",
      "héllo wörld 中文 分词")
    val got = docs.toDF("text")
      .select(graft.functions.simhash128_md5(
          TextAnalysis.tokenize(col("text"))).as("w"),
        graft.functions.simhash64_md5(
          TextAnalysis.tokenize(col("text"))).as("s64"))
      .as[(Seq[Long], Long)].collect()
    docs.zip(got).foreach { case (doc, (wide, s64)) =>
      val (hi, lo) = refSig128(doc.trim.split("\\s+").toSeq)
      assert(wide == Seq(hi, lo), s"wide signature mismatch for '$doc'")
      assert(wide.head == s64, "hi word must equal the 64-bit signature")
    }
  }

  test("simhashPairsFromSig128 finds all ≤3-hamming pairs (pigeonhole over 4×32)") {
    val rows = Seq(
      (1L, Seq(0x0123456789abcdefL, 0x0f1e2d3c4b5a6978L)),
      // hamming 3, all in one 32-bit band of the lo word
      (2L, Seq(0x0123456789abcdefL, 0x0f1e2d3c4b5a6978L ^ 0x7L)),
      // hamming 4 spread over all four bands — no band collides
      (3L, Seq(0x0123456789abcdefL ^ 0x0000000100000001L,
               0x0f1e2d3c4b5a6978L ^ 0x0000000100000001L)),
      (4L, Seq(0xfedcba9876543210L, 0x1020304050607080L)))
    val df = rows.toDF("doc_id", "sig")
    val pairs = Dedup.simhashPairsFromSig128(df, col("sig"), "doc_id",
        maxHamming = 3)
      .select($"doc_id_1", $"doc_id_2", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 3)),
      s"exactly the ≤3-hamming pair must surface, got $pairs")
  }

  test("32-bit bands collapse candidate volume vs 16-bit bands") {
    // N unrelated random signatures: expected spurious candidates are
    // ~4·C(N,2)/2^16 for 16-bit bands but ~4·C(N,2)/2^32 for 32-bit —
    // the reason the wide path scales past ~10M docs per scope
    val rnd = new java.util.Random(42)
    val sigs = (0 until 2000).map(i =>
      (i.toLong, Seq(rnd.nextLong(), rnd.nextLong())))
    val df = sigs.toDF("doc_id", "sig")
    val narrow = Dedup.simhashBandCandidates(df,
      array(element_at(col("sig"), 1)), "doc_id", bandBits = 16).count()
    val wide = Dedup.simhashBandCandidates(df, col("sig"), "doc_id",
      bandBits = 32).count()
    assert(narrow >= 50L,
      s"fixture too small to show 16-bit collisions (got $narrow)")
    assert(wide * 10 < narrow,
      s"32-bit bands must collapse candidate volume: narrow=$narrow wide=$wide")
  }

  test("null signatures drop from banding (both paths) instead of " +
      "aborting the job") {
    val rows = Seq((1L, Some(0x0123456789abcdefL)),
      (2L, Some(0x0123456789abcdefL ^ 0x7L)),
      (3L, Option.empty[Long])) // null text → null signature
    val df = rows.toDF("doc_id", "sig")
    val scalar = Dedup.simhashPairsFromSig(df, col("sig"), "doc_id",
        maxHamming = 3)
      .select($"doc_id_1", $"doc_id_2").as[(Long, Long)].collect().toSet
    assert(scalar == Set((1L, 2L)),
      "null signature must drop silently from the scalar path")
    val wide = Dedup.simhashPairsFromSig128(
        df.withColumn("sig2",
          when($"sig".isNotNull, array($"sig", lit(0L)))
            .otherwise(lit(null))),
        col("sig2"), "doc_id", maxHamming = 3)
      .select($"doc_id_1", $"doc_id_2").as[(Long, Long)].collect().toSet
    assert(wide == Set((1L, 2L)),
      "null signature must drop silently from the array path too " +
        "(the width guard is for MIS-SIZED arrays, not missing ones)")
  }

  test("scalar 64-bit banding equals the generic array path; " +
      "mis-sized signatures fail loudly") {
    val rnd = new java.util.Random(7)
    val sigs = (0 until 500).map(i => (i.toLong, rnd.nextLong()))
    val df = sigs.toDF("doc_id", "sig")
    val scalar = Dedup.simhashBandCandidates64(df, col("sig"), "doc_id")
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val generic = Dedup.simhashBandCandidates(df, array(col("sig")),
        "doc_id", bandBits = 16)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(scalar == generic,
      "the scalar specialization must produce identical candidate pairs")
    // a 1-word signature with 32-bit bands would silently null half the
    // band keys (dropping pairs) — must raise instead
    val ex = intercept[Throwable] {
      Dedup.simhashBandCandidates(df, array(col("sig")), "doc_id",
        bandBits = 32).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t => Option(t.getMessage)
        .exists(_.contains("2 word(s)"))),
      s"expected a signature-width error, got: ${ex.getMessage}")
  }

  test("embedding near-dup: bucketed pair join matches unbucketed, " +
      "spreads the block") {
    val emb = Graft.table(spark, sf, "embeddings")
    val bucketed = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      "label", threshold = 0.35, numBuckets = 4)
    val flat = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      "label", threshold = 0.35, numBuckets = 1)
    assert(bucketed.exceptAll(flat).isEmpty && flat.exceptAll(bucketed).isEmpty,
      "bucketing must not change the pair set")
    // scale shape: the pair join shuffles on (block, bucket, bucket),
    // not the bare block key — cardinality #blocks × B², so a 10-label
    // corpus no longer collapses to 10 tasks
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("__bl") && plan.contains("__br"),
      "join keys must include the pair buckets")
  }

  test("cross-corpus contamination: exact overlap ids, near overlap " +
      "matches brute force with single emission") {
    val docs = Graft.table(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 150)
    // reference: 100 near-mutated corpus docs + 50 exact copies,
    // re-idenitified into its own keyspace
    val refNear = docs.filter($"doc_id" < 100)
      .select(($"doc_id" + 5000L).as("rid"),
        regexp_replace($"text", "the", "thee").as("text"))
    val refExact = docs.filter($"doc_id" >= 100)
      .select(($"doc_id" + 9000L).as("rid"), $"text")
    val ref = refNear.unionByName(refExact)

    val exact = Dedup.exactOverlap(docs, ref, "text", "doc_id", "rid")
      .as[(Long, Long)].collect().toSet
    // "near" refs whose text contains no "the" mutate into EXACT
    // copies — they legitimately surface in the exact overlap too
    val unmutated = docs
      .filter($"doc_id" < 100 && !$"text".contains("the"))
      .select($"doc_id").as[Long].collect().toSet
    assert(exact == ((100L until 150L).map(i => (i, i + 9000L)).toSet ++
        unmutated.map(i => (i, i + 5000L))),
      "exact overlap must be the copies plus the no-op mutations")

    val near = Dedup.simhashOverlap(docs, ref, "text", "doc_id", "rid")
      .select($"doc_id", $"ref_rid", $"hamming")
      .as[(Long, Long, Int)].collect()
    assert(near.length == near.map(r => (r._1, r._2)).toSet.size,
      "each cross-corpus pair must emit exactly once (canonical band)")
    // brute-force cross check: all (corpus, ref) pairs with hamming<=3
    val sig = graft.functions.simhash64_md5(
      graft.operators.TextAnalysis.tokenize($"text"))
    val cs = docs.select($"doc_id", sig.as("cs")).as[(Long, Long)]
      .collect()
    val rs = ref.select($"rid", sig.as("rs")).as[(Long, Long)]
      .collect()
    val want = (for {
      (cid, csig) <- cs; (rid, rsig) <- rs
      h = java.lang.Long.bitCount(csig ^ rsig) if h <= 3
    } yield (cid, rid, h)).toSet
    assert(want.nonEmpty && near.toSet == want,
      s"near overlap must equal brute force: got ${near.length}, " +
        s"want ${want.size}")
  }

  test("ngram decontamination: substring leak flagged, 12-gram overlap " +
      "is not, short reference matches whole text only") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "x1 b c d e f g h i j k l m x2 x3 x4"),
      (3L, "totally unrelated words only here now"),
      (4L, "short exact"),
      (5L, "short exact plus tail")
    ).toDF("doc_id", "text")
    val ref = Seq(
      "b c d e f g h i j k l m n o", // 14 tokens → two 13-grams
      "short exact"                  // < n tokens → one whole-text gram
    ).toDF("text")
    val bad = Dedup.ngramOverlapIds(corpus, ref, "text", "doc_id")
      .as[Long].collect().toSet
    // doc 1 contains ref 1's first 13-gram verbatim; doc 2 shares only
    // a 12-token run (every 13-gram differs at an end); doc 4 IS ref 2;
    // doc 5 CONTAINS ref 2 but both sides gram at whole-text below n —
    // the documented short-short blind spot of the gram convention
    assert(bad == Set(1L, 4L),
      s"contaminated set wrong: $bad")
    val kept = Dedup.ngramDecontaminate(corpus, ref, "text", "doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 5L))
    // scale shape: the reference gram set must broadcast — the corpus
    // side may not shuffle for the semi-join
    val plan = Dedup.ngramOverlapIds(corpus, ref, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
      s"reference grams must broadcast:\n$plan")
  }

  test("keepNearDupRepresentativesBy keeps the max-score row per " +
      "cluster, ties to min id, singletons untouched") {
    val df = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0), // cluster {1,2,3}: tie 2/3 → 2
      (10L, 1.0),                      // singleton survives any score
      (20L, 3.0), (21L, 7.0)           // cluster {20,21} → 21
    ).toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("a", "b")
    val kept = Dedup.keepNearDupRepresentativesBy(df, pairs, "a", "b",
        "id", col("score"))
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(2L, 10L, 21L), s"keep-best wrong: $kept")
    // the min-id form keeps the opposite ends of the same clusters
    val minKept = Dedup.keepNearDupRepresentatives(df, pairs, "a", "b",
        "id")
      .select($"id").as[Long].collect().toSet
    assert(minKept == Set(1L, 10L, 20L))
  }

  test("keepNearDupRepresentativesBy: a boilerplate MEGA-CLUSTER " +
      "(one component holding nearly every row) aggregates instead " +
      "of window-ranking, null scores lose to any scored row") {
    // one star component of 3000 rows — the shape a template page
    // duplicated across a corpus collapses into; the winner must be
    // the max-score row (ties to min id) picked by aggregates, with
    // no per-component row_number window in the plan
    val n = 3000
    val df = (1L to n.toLong).map(i => (i, (i * 31 % 997).toDouble))
      .toDF("id", "score")
    val pairs = (2L to n.toLong).map(i => (1L, i)).toDF("a", "b")
    val res = Dedup.keepNearDupRepresentativesBy(df, pairs, "a", "b",
      "id", col("score"))
    val plan = res.queryExecution.optimizedPlan.toString
    assert(!plan.contains("windowspecdefinition"),
      "keep-best must pick the winner with aggregates — a " +
        "per-component window serializes a mega-cluster into one task")
    val kept = res.select($"id").as[Long].collect().toSet
    val want = (1L to n.toLong)
      .minBy(i => (-(i * 31 % 997).toDouble, i))
    assert(kept == Set(want))

    // null scores: a cluster with any scored row keeps its best
    // scored one; an all-null cluster falls back to min id
    val ndf = Seq((1L, java.lang.Double.valueOf(2.0)),
      (2L, null.asInstanceOf[java.lang.Double]),
      (10L, null.asInstanceOf[java.lang.Double]),
      (11L, null.asInstanceOf[java.lang.Double]))
      .toDF("id", "score")
    val npairs = Seq((1L, 2L), (10L, 11L)).toDF("a", "b")
    val nkept = Dedup.keepNearDupRepresentativesBy(ndf, npairs, "a",
        "b", "id", col("score"))
      .select($"id").as[Long].collect().toSet
    assert(nkept == Set(1L, 10L))
  }

  test("connectedComponents: crafted graph labels by min, long chain " +
      "converges, keeper drops non-representatives") {
    // chain of diameter 11 (stresses the iteration loop), a cyclic
    // triangle, a pair, and a disconnected pair
    val pairs = ((1L to 11L).map(i => (i, i + 1)) ++
      Seq((30L, 31L), (31L, 32L), (30L, 32L), (20L, 21L), (40L, 50L)))
      .toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    (1L to 12L).foreach(i => assert(comps(i) == 1L, s"chain node $i"))
    Seq(30L, 31L, 32L).foreach(i => assert(comps(i) == 30L))
    assert(comps(20L) == 20L && comps(21L) == 20L)
    assert(comps(40L) == 40L && comps(50L) == 40L)
    assert(comps.size == 19, "one row per id appearing in a pair")

    val rows = (1L to 60L).toDF("id")
    val kept = Dedup.keepNearDupRepresentatives(rows, pairs, "a", "b", "id")
      .as[Long].collect().toSet
    val pairIds = comps.keySet
    assert(kept == (1L to 60L).toSet -- pairIds ++ Set(1L, 20L, 30L, 40L),
      "keeper must retain component minimums and untouched rows only")
  }

  test("SRP planes hold the per-pair collision curve: banded candidate " +
      "volume stays near the true-pair count on clustered embeddings") {
    // regression pin for the Gaussian-plane draw: a plane distribution
    // that is not spherically symmetric (e.g. uniform-cube coordinates)
    // keeps the AVERAGE collision curve but grows a fat per-pair tail
    // on structured embeddings — measured ~100x-over-binomial 16-bit
    // agreements on this very fixture, which turns banded candidate
    // volume superlinear at scale. Candidates within a 20x envelope of
    // the true pair count is the healthy regime; the cube draw blew
    // through it by two orders of magnitude.
    val emb = Graft.table(spark, sf, "embeddings")
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("embedding"))
    val mutated = emb
      .withColumn("vec_id", $"vec_id" + 1000000L)
      .withColumn("embedding", concat(
        array(element_at($"embedding", 1) + lit(0.015625)),
        slice($"embedding", 2, 63)))
    val all = emb.unionByName(mutated)
    val truePairs = emb.count()
    val buckets = array((0 until 8).map { t =>
      graft.functions.hyperplane_lsh_bucket($"embedding", 16, 64,
        42L + t * 7919L)
    }: _*)
    val candidates = all
      .select(posexplode(buckets).as(Seq("__table", "__bucket")))
      .groupBy($"__table", $"__bucket").count()
      .agg(sum($"count" * ($"count" - 1) / 2)).head.getDouble(0)
    assert(candidates <= truePairs * 20,
      s"banded candidate volume $candidates exceeds 20x the " +
        s"$truePairs true pairs — per-pair SRP tail is fat again " +
        "(non-spherical plane distribution?)")
    assert(candidates >= truePairs * 0.5,
      "sanity: near-identical twins should collide in some table")
  }

  test("knnJoinLsh: symmetric ranked neighbors, threshold excludes, " +
      "k truncates, isolated vectors absent") {
    import graft.operators.Similarity
    // two tight clusters on distinct axes + one isolated vector; all
    // in-cluster cosines ≈ 1, cross-cluster ≈ 0
    def v(axis: Int, eps: Double) =
      (0 until 64).map(i => if (i == axis) 1.0 else if (i == axis + 1)
        eps else 0.0).toArray
    val rows = Seq(
      (1L, v(0, 0.0)), (2L, v(0, 0.01)), (3L, v(0, 0.03)),
      (10L, v(8, 0.0)), (11L, v(8, 0.015)),
      (99L, v(30, 0.0))).toDF("id", "emb")
    val got = Similarity.knnJoinLsh(rows, "emb", "id", k = 2,
        minCos = 0.9, nPlanes = 4, dim = 64, nTables = 8)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    // cluster {1,2,3}: each member's 2 neighbors are the other two,
    // rank 1 = higher round-6 cosine (1-2 = .99995, 2-3 = .99980,
    // 1-3 = .99955 — distinct by construction). cluster {10,11}: one
    // neighbor each. 99: absent (no ≥ 0.9 neighbor).
    assert(got == Set(
      (1L, 1, 2L), (1L, 2, 3L),
      (2L, 1, 1L), (2L, 2, 3L),
      (3L, 1, 2L), (3L, 2, 1L),
      (10L, 1, 11L), (11L, 1, 10L)), s"got $got")
    val k1 = Similarity.knnJoinLsh(rows, "emb", "id", k = 1,
        minCos = 0.9, nPlanes = 4, dim = 64, nTables = 8)
      .select($"query_id").as[Long].collect()
    assert(k1.length == 5 && k1.toSet == Set(1L, 2L, 3L, 10L, 11L),
      "k=1 keeps exactly one row per clustered vector")
  }

  test("dropSemanticDuplicates: cluster collapses to min id; KeepBest " +
      "keeps the highest-score variant; distant vectors untouched") {
    def v(axis: Int, eps: Double) =
      (0 until 64).map(i => if (i == axis) 1.0 else if (i == axis + 1)
        eps else 0.0).toArray
    val rows = Seq(
      (5L, v(0, 0.0), 10L), (2L, v(0, 0.01), 30L), (9L, v(0, 0.03), 20L),
      (7L, v(8, 0.0), 1L), (8L, v(8, 0.015), 2L),
      (99L, v(30, 0.0), 0L)).toDF("id", "emb", "score")
    val minKept = Dedup.dropSemanticDuplicates(rows, "emb", "id",
        threshold = 0.9, nPlanes = 4, dim = 64, nTables = 8)
      .select($"id").as[Long].collect().toSet
    assert(minKept == Set(2L, 7L, 99L), s"min-id reps: $minKept")
    val bestKept = Dedup.dropSemanticDuplicatesKeepBest(rows, "emb",
        "id", $"score", threshold = 0.9, nPlanes = 4, dim = 64,
        nTables = 8)
      .select($"id").as[Long].collect().toSet
    assert(bestKept == Set(2L, 8L, 99L), s"best-score reps: $bestKept")
  }

  test("connectedComponents labels identically under reliable " +
      "checkpointing") {
    // the reliable path exists for executor-loss survival on long
    // cluster runs; it must change nothing about the answer
    val pairs = ((1L to 11L).map(i => (i, i + 1)) ++
      Seq((30L, 31L), (31L, 32L), (30L, 32L), (20L, 21L), (40L, 50L)))
      .toDF("a", "b")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt").toFile
    // force the DISTRIBUTED loop: the reliable-checkpoint machinery
    // only exists on that path (the local union-find escape hatch
    // has no rounds to checkpoint)
    spark.conf.set("spark.graft.cc.localEdgeLimit", "0")
    try {
      val local = Dedup.connectedComponents(pairs, "a", "b")
        .as[(Long, Long)].collect().toMap
      val reliable = Dedup.connectedComponents(pairs, "a", "b",
          reliableCheckpointDir = Some(dir.getAbsolutePath))
        .as[(Long, Long)].collect().toMap
      assert(reliable == local,
        "reliable checkpoint must not change the labeling")
      assert(dir.listFiles != null && dir.listFiles.nonEmpty,
        "reliable path must actually write checkpoint data")
    } finally {
      spark.conf.unset("spark.graft.cc.localEdgeLimit")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("connectedComponents matches a union-find oracle on the d5 " +
      "fixture pair graph") {
    val docs = Graft.table(spark, sf, "documents").select($"doc_id", $"text")
    val mutated = docs
      .withColumn("doc_id", $"doc_id" + 1000000L)
      .withColumn("text", regexp_replace($"text", "the", "thee"))
    val all = docs.unionByName(mutated)
    val pairs = Dedup.simhashPairsFromSig(all,
      graft.functions.simhash64_md5(
        graft.operators.TextAnalysis.tokenize($"text")), "doc_id")
    val got = Dedup.connectedComponents(pairs, "doc_id_1", "doc_id_2")
      .as[(Long, Long)].collect().toMap

    // independent JVM union-find over the same pairs
    val es = pairs.select($"doc_id_1", $"doc_id_2")
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(es.nonEmpty && got == want,
      s"components diverge from union-find: ${got.size} vs ${want.size}")
  }

  test("embeddingNearDupPairsLsh: exact precision, near-1 recall on " +
      "planted near-identicals, single emission per pair") {
    val emb = Graft.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    // plant a near-identical copy of every vector (first element
    // nudged 1% → cos ≈ 0.9999): the high-threshold regime the LSH
    // form exists for
    val planted = emb
      .withColumn("vec_id", $"vec_id" + 100000L)
      .withColumn("embedding", transform($"embedding",
        (v, i) => when(i === 0, v * 1.01f).otherwise(v)))
    val all = emb.unionByName(planted)
    val got = Dedup.embeddingNearDupPairsLsh(all, "embedding", "vec_id",
      threshold = 0.99)
      .select($"vec_id_1", $"vec_id_2", $"cos")
      .as[(Long, Long, Double)].collect()

    // no duplicate emissions: the canonical-table filter must make
    // every pair surface exactly once without a dropDuplicates pass
    assert(got.length == got.map(r => (r._1, r._2)).toSet.size,
      "each pair must emit exactly once (canonical table)")
    // precision 1 by construction (exact cosine verify)
    got.foreach { case (a, b, c) =>
      assert(c >= 0.99, s"pair ($a,$b) below threshold: $c") }
    // recall on the planted pairs: each (i, i+100000) pair has
    // cos ≈ 0.9999 and collides in ≥1 of 4 tables with prob ≈ 1 —
    // the seeded draw is deterministic, so this is a fixed set; allow
    // a tiny slack for angle outliers rather than pinning 100%
    val n = emb.count()
    val found = got.map(r => (r._1, r._2)).toSet
    val plantedFound = (0L until n).count(i => found((i, i + 100000L)))
    assert(plantedFound >= (n * 0.95).toInt,
      s"LSH recall too low: $plantedFound of $n planted pairs found")
    // plan shape: the join key is (table, bucket) — content-derived
    // blocking, no bare cross product
    val plan = Dedup.embeddingNearDupPairsLsh(all, "embedding", "vec_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("__table") && plan.contains("__bucket"),
      "join keys must be the LSH (table, bucket)")
  }

  test("bruteForceTopK: correct neighbors on crafted vectors") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f))).toDF("id", "emb")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"id" === 0),
      "emb", "id", 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSeq
    assert(top == Seq((1, 1L), (2, 2L)))
  }

  test("lshTopK recall >= 0.5 vs brute force on real embeddings") {
    val emb = Graft.table(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", 10).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, "embedding", "vec_id",
      10, nPlanes = 6, dim = 64).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall too low")
  }

  test("dot_product and l2_normalize: exact values, zero-norm null") {
    val r = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(3.0f, 0.0f, 4.0f)))
      .toDF("a", "b")
      .select(functions.dot_product($"a", $"b").as("d"),
        functions.l2_normalize($"a").as("u"))
      .head
    assert(r.getDouble(0) == 11.0)
    assert(r.getSeq[Double](1) == Seq(1.0 / 3, 2.0 / 3, 2.0 / 3))
    val z = Seq(Seq(0.0f)).toDF("a")
      .select(functions.l2_normalize($"a")).head
    assert(z.isNullAt(0))
  }

  test("ivfTopK recall >= 0.5 vs brute force on real embeddings") {
    val emb = Graft.table(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", 10).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(emb, queries, "embedding", "vec_id",
      10, nCentroids = 16, nProbe = 4).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("pqTopK: full-candidate output equals exact brute force") {
    val emb = Graft.table(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", 10).collect().toSet
    val viaPq = Similarity.pqTopK(emb, queries, "embedding", "vec_id",
      10, dim = 64, m = 8, nCodes = 16, nCandidates = 100000,
      maxIter = 3).collect().toSet
    assert(viaPq == exact)
  }

  test("pqTopK: partial-candidate recall >= 0.5 vs brute force") {
    val emb = Graft.table(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", 10).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    // 50 candidates over a 500-vector corpus = 10% re-ranked
    val approx = Similarity.pqTopK(emb, queries, "embedding",
      "vec_id", 10, dim = 64, m = 8, nCodes = 16, nCandidates = 50)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall $recall too low")
  }

  test("pqEncode: zero vectors get valid codes (no null poisoning)") {
    val df = Seq((1L, Seq.fill(8)(0.0f)), (2L, Seq.tabulate(8)(_ + 1f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.collectCodebooks(
      Similarity.fitPqCodebooks(df, "embedding", dim = 8, m = 2,
        nCodes = 2, maxIter = 2), 2, 2)
    val rows = Similarity.pqEncode(df, "embedding", "vec_id", cb, 8)
      .orderBy("neighbor_id").collect()
    assert(rows.length == 2)
    // codes-only schema: (neighbor_id, __codes) — no embedding copy
    assert(rows.head.schema.fieldNames.toSeq ==
      Seq("neighbor_id", "__codes"))
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == 2 && codes.forall(c => c == 0 || c == 1))
    }
  }

  test("PQ/IVF fits survive duplicate-heavy corpora (round 17): a " +
      "copy-saturated hash-smallest sample window falls back to " +
      "corpus-distinct seeds instead of hard-erroring") {
    // 20 distinct vectors × 200 copies each: the 16-row hash-smallest
    // window holds only copies of the smallest-hash vector(s), so the
    // sample's distinct count is far below nCodes/nCentroids = 16
    // while the corpus has 20 distinct vectors — exactly the
    // dedup-workload shape the advisor flagged
    val base = (0 until 20).map(i =>
      Seq.tabulate(8)(j => (i * 8 + j).toDouble / 7.0))
    val df = (0 until 4000).map(i => (i.toLong, base(i % 20)))
      .toDF("vec_id", "embedding")
    val books = Similarity.fitPqCodebooks(df, "embedding", dim = 8,
      m = 2, nCodes = 16, maxIter = 2, maxFitRows = 16)
    assert(books.count() == 32, "2 subspaces x 16 codes")
    val (cents, indexed) = Similarity.fitIvfIndex(df, "embedding",
      "vec_id", nCentroids = 16, maxIter = 2, maxFitRows = 16)
    assert(cents.count() == 16)
    assert(indexed.count() == 4000, "every corpus row stays indexed")
  }

  test("pqTopKFromIndex large-query-batch regime: 60k queries run " +
      "the partitioned (non-broadcast) spelling and match the " +
      "broadcast path exactly") {
    val emb = Graft.table(spark, sf, "embeddings")
      .filter($"vec_id" < 100).select($"vec_id", $"embedding")
    val cb = Similarity.collectCodebooks(
      Similarity.fitPqCodebooks(emb, "embedding", dim = 64, m = 8,
        nCodes = 4, maxIter = 2), 8, 4)
    val encoded = Similarity.pqEncode(emb, "embedding", "vec_id", cb,
      64)
    // 100 base vectors × 600 replicas = 60k queries, distinct ids —
    // the shape whose per-query dist tables + candidate ids must NOT
    // ride the driver as broadcasts
    val qBig = emb.crossJoin(
        spark.range(600).select($"id".as("__rep")))
      .select(($"vec_id" + $"__rep" * 1000000L).as("vec_id"),
        $"embedding")
    val large = Similarity.pqTopKFromIndex(encoded, cb, emb, qBig,
      "embedding", "vec_id", k = 3, dim = 64, nCandidates = 10)
    // same call forced through the broadcast spelling — outputs must
    // be identical (both regimes are deterministic)
    val small = Similarity.pqTopKFromIndex(encoded, cb, emb, qBig,
      "embedding", "vec_id", k = 3, dim = 64, nCandidates = 10,
      broadcastMaxQueries = Int.MaxValue)
    assert(large.count() == 60000L * 3)
    assert(large.exceptAll(small).count() == 0)
    assert(small.exceptAll(large).count() == 0)
    // caller-supplied |Q| skips the plan-time count() and lands in
    // the same regime with identical output
    val known = Similarity.pqTopKFromIndex(encoded, cb, emb, qBig,
      "embedding", "vec_id", k = 3, dim = 64, nCandidates = 10,
      knownQueryCount = Some(60000L))
    assert(known.exceptAll(large).count() == 0)
    assert(large.exceptAll(known).count() == 0)
  }

  test("ivfTopKFromIndex large-query-batch regime: 60k queries run " +
      "the salted-shuffle (non-broadcast) spelling and match the " +
      "broadcast path exactly") {
    val emb = Graft.table(spark, sf, "embeddings")
      .filter($"vec_id" < 100).select($"vec_id", $"embedding")
    val (centroids, indexed) = Similarity.fitIvfIndex(emb,
      "embedding", "vec_id", nCentroids = 8, maxIter = 5)
    // 100 base vectors × 600 replicas = 60k queries, distinct ids —
    // the shape whose |Q|·nProbe probe rows (each carrying a full
    // query embedding) must NOT ride the driver as a broadcast; and
    // the shuffled alternative must not collapse onto nCentroids
    // tasks, hence the salt
    val qBig = emb.crossJoin(
        spark.range(600).select($"id".as("__rep")))
      .select(($"vec_id" + $"__rep" * 1000000L).as("vec_id"),
        $"embedding")
    val large = Similarity.ivfTopKFromIndex(centroids, indexed, qBig,
      "embedding", "vec_id", k = 3, nProbe = 8)
    val small = Similarity.ivfTopKFromIndex(centroids, indexed, qBig,
      "embedding", "vec_id", k = 3, nProbe = 8,
      broadcastMaxQueries = Int.MaxValue)
    assert(large.count() == 60000L * 3)
    assert(large.exceptAll(small).count() == 0)
    assert(small.exceptAll(large).count() == 0)
    // the salt factor is capped at MaxSaltFactor: under a cluster-
    // scale shuffle-partition setting (128 > the 64 cap) the salted
    // regime still matches exactly, with caller-supplied |Q| skipping
    // the plan-time count
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      val capped = Similarity.ivfTopKFromIndex(centroids, indexed,
        qBig, "embedding", "vec_id", k = 3, nProbe = 8,
        knownQueryCount = Some(60000L))
      assert(capped.exceptAll(small).count() == 0)
      assert(small.exceptAll(capped).count() == 0)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("ivfPqTopK (residual IVF-PQ): full probe + full candidate " +
      "budget EQUALS exact brute-force top-k; deterministic; partial " +
      "budgets keep precision exact (every returned cos is the true " +
      "cosine) while recall degrades") {
    val emb = Graft.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    val q = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, q, "embedding",
      "vec_id", k = 5)
    def run(nProbe: Int, nCand: Int) =
      Similarity.ivfPqTopK(emb, q, "embedding", "vec_id", k = 5,
        dim = 64, nCentroids = 4, m = 8, nCodes = 8, nProbe = nProbe,
        nCandidates = nCand, maxIter = 3)
    val full = run(nProbe = 4, nCand = 1000000)
    assert(full.exceptAll(exact).count() == 0 &&
      exact.exceptAll(full).count() == 0,
      "full-budget IVF-PQ must equal exact top-k")
    val again = run(nProbe = 4, nCand = 1000000)
    assert(again.exceptAll(full).count() == 0 &&
      full.exceptAll(again).count() == 0, "nondeterministic output")
    // partial budgets: k rows per query unless a probe emptied the
    // candidate set; every returned cosine must be the TRUE cosine
    // (re-rank precision is exact even when recall is partial)
    val part = run(nProbe = 1, nCand = 10)
    val allPairs = Similarity.bruteForceTopK(emb, q, "embedding",
      "vec_id", k = 1000000)
      .select($"query_id", $"neighbor_id", $"cos".as("true_cos"))
    val joined = part.join(allPairs, Seq("query_id", "neighbor_id"))
    assert(joined.count() == part.count(),
      "partial results contain a pair outside the corpus")
    assert(joined.filter($"cos" =!= $"true_cos").count() == 0,
      "partial results must carry exact cosines")
  }

  test("ivfPqTopKFromIndex large-query-batch regime: 60k queries run " +
      "the salted-shuffle (non-broadcast) spelling — dist tables " +
      "join back by (query, cell), never replicating across salts — " +
      "and match the broadcast path exactly") {
    val emb = Graft.table(spark, sf, "embeddings")
      .filter($"vec_id" < 100).select($"vec_id", $"embedding")
    val (centroids, codebooks, encoded) = Similarity.fitIvfPq(emb,
      "embedding", "vec_id", dim = 64, nCentroids = 8, m = 8,
      nCodes = 4, maxIter = 2)
    val cb = Similarity.collectCodebooks(codebooks, 8, 4)
    val qBig = emb.crossJoin(
        spark.range(600).select($"id".as("__rep")))
      .select(($"vec_id" + $"__rep" * 1000000L).as("vec_id"),
        $"embedding")
    val large = Similarity.ivfPqTopKFromIndex(centroids, cb, encoded,
      emb, qBig, "embedding", "vec_id", k = 3, dim = 64, nProbe = 8,
      nCandidates = 10)
    val small = Similarity.ivfPqTopKFromIndex(centroids, cb, encoded,
      emb, qBig, "embedding", "vec_id", k = 3, dim = 64, nProbe = 8,
      nCandidates = 10, broadcastMaxQueries = Int.MaxValue)
    assert(large.count() == 60000L * 3)
    assert(large.exceptAll(small).count() == 0)
    assert(small.exceptAll(large).count() == 0)
    // caller-supplied |Q| under a cluster-scale partition setting
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      val capped = Similarity.ivfPqTopKFromIndex(centroids, cb,
        encoded, emb, qBig, "embedding", "vec_id", k = 3, dim = 64,
        nProbe = 8, nCandidates = 10,
        knownQueryCount = Some(60000L))
      assert(capped.exceptAll(small).count() == 0)
      assert(small.exceptAll(capped).count() == 0)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("bm25Scores: hand-computed scores on a tiny corpus (tf " +
      "saturation, dl normalization, smooth idf), non-matching docs " +
      "excluded, fixed term-order summation; refusals") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "cat dog cat"),      // dl 3, tf(cat)=2, tf(dog)=1
      (2L, "cat"),              // dl 1, tf(cat)=1
      (3L, "bird bird bird bird") // no match
    ).toDF("id", "text")
    val got = TextAnalysis.bm25Scores(docs, "id", "text",
      Seq("cat", "dog"), k1 = 1.2, b = 0.75)
      .orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "doc 3 matches nothing and must be excluded")
    // independent replay: N=3, avgdl=8/3; df(cat)=2, df(dog)=1
    val n = 3.0
    val avgdl = 8.0 / 3
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def contrib(tf: Double, dfT: Double, dl: Double) =
      idf(dfT) * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val d1 = got(0)
    assert(d1.getAs[Long]("dl") == 3 &&
      d1.getAs[Int]("n_matched") == 2)
    assert(d1.getAs[Double]("score") ==
      r6(contrib(2, 2, 3) + contrib(1, 1, 3)))
    val d2 = got(1)
    assert(d2.getAs[Long]("dl") == 1 &&
      d2.getAs[Int]("n_matched") == 1)
    assert(d2.getAs[Double]("score") ==
      r6(contrib(1, 2, 1) + contrib(0, 1, 1)))
    // tf saturation: the same idf with tf→∞ approaches idf·(k1+1) —
    // doc 1's cat contribution must stay below that ceiling
    assert(contrib(2, 2, 3) < idf(2) * 2.2)

    intercept[IllegalArgumentException] {
      TextAnalysis.bm25Scores(docs, "id", "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25Scores(docs, "id", "text", Seq("a", "a"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25Scores(docs, "id", "text", Seq("a"), b = 1.5)
    }
  }

  test("bm25ScoresMany: agrees with the single-query form per query " +
      "(same docs, matched counts, scores to 1e-9); bm25TopK ranks " +
      "on rounded score with id ties; deterministic across " +
      "partitionings") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "cat dog cat"), (2L, "cat"), (3L, "dog dog fish"),
      (4L, "fish fish fish cat"), (5L, "bird")
    ).toDF("id", "text")
    val qs = Seq((10L, "cat dog"), (20L, "fish"))
      .toDF("qid", "qtext")
    val many = TextAnalysis.bm25ScoresMany(docs, "id", "text", qs,
      "qid", "qtext").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_matched"), r.getAs[Double]("score"))).toMap
    for ((qid, terms) <- Seq(10L -> Seq("cat", "dog"),
        20L -> Seq("fish"))) {
      val single = TextAnalysis.bm25Scores(docs, "id", "text", terms)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Int]("n_matched").toLong,
            r.getAs[Double]("score"))).toMap
      val manyQ = many.collect { case ((q, d), v) if q == qid =>
        d -> v }
      assert(manyQ.keySet == single.keySet,
        s"query $qid doc sets differ")
      manyQ.foreach { case (d, (nm, sc)) =>
        assert(nm == single(d)._1)
        assert(math.abs(sc - single(d)._2) < 1e-9,
          s"query $qid doc $d: $sc vs ${single(d)._2}")
      }
    }
    val top = TextAnalysis.bm25TopK(docs, "id", "text", qs, "qid",
      "qtext", k = 2).orderBy($"query_id", $"rank")
      .select($"query_id", $"rank", $"id")
      .as[(Long, Int, Long)].collect().toList
    assert(top.map(_._1).toSet == Set(10L, 20L))
    assert(top.count(_._1 == 10L) == 2 && top.count(_._1 == 20L) == 2)
    val again = TextAnalysis.bm25TopK(docs.repartition(7), "id",
      "text", qs, "qid", "qtext", k = 2)
      .orderBy($"query_id", $"rank")
      .select($"query_id", $"rank", $"id")
      .as[(Long, Int, Long)].collect().toList
    assert(again == top, "partitioning changed the ranking")
  }

  test("bm25ScoresMany maxDf hot-term cap: an injected stop word is " +
      "pruned before the scoring join — capped output equals the " +
      "uncapped run on the stripped query; all-hot queries vanish") {
    import graft.operators.TextAnalysis
    // 'the' is in EVERY doc (df = 5) — the classic hot term
    val docs = Seq(
      (1L, "the cat dog cat"), (2L, "the cat"),
      (3L, "the dog dog fish"), (4L, "the fish fish fish cat"),
      (5L, "the bird")
    ).toDF("id", "text")
    val qs = Seq((10L, "the cat dog"), (20L, "the fish"),
      (30L, "the")).toDF("qid", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id", $"id", $"n_matched", $"score")
      .as[(Long, Long, Long, Double)].collect().toSet
    val capped = rows(TextAnalysis.bm25ScoresMany(docs, "id",
      "text", qs, "qid", "qtext", maxDf = Some(4L)))
    // stripped-query replay: same corpus (df/avgdl unchanged),
    // queries minus the hot term
    val stripped = rows(TextAnalysis.bm25ScoresMany(docs, "id",
      "text",
      Seq((10L, "cat dog"), (20L, "fish")).toDF("qid", "qtext"),
      "qid", "qtext"))
    assert(capped == stripped,
      "capped spelling must equal the query minus its hot terms")
    assert(!capped.exists(_._1 == 30L),
      "a query of ONLY hot terms matches nothing")
    // a cap no term exceeds is a bit-exact no-op
    val uncapped = rows(TextAnalysis.bm25ScoresMany(docs, "id",
      "text", qs, "qid", "qtext"))
    val loose = rows(TextAnalysis.bm25ScoresMany(docs, "id",
      "text", qs, "qid", "qtext", maxDf = Some(5L)))
    assert(loose == uncapped)
    // topK passes the cap through
    val top = TextAnalysis.bm25TopK(docs, "id", "text", qs, "qid",
      "qtext", k = 3, maxDf = Some(4L))
      .select($"query_id").distinct()
      .as[Long].collect().toSet
    assert(top == Set(10L, 20L))
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25ScoresMany(docs, "id", "text", qs, "qid",
        "qtext", maxDf = Some(0L))
    }
  }

  test("OPQ: mat_vec exact; fitOpqRotation returns a deterministic " +
      "orthogonal matrix; full budget ≡ brute force; partial budget " +
      "recall improves on subspace-misaligned data; artifact " +
      "round-trips") {
    import graft.operators.{Similarity, DedupIndex}
    // mat_vec: hand example + zero-pad of short input
    val mv = Seq(Seq(1.0, 2.0)).toDF("v")
      .select(graft.functions.mat_vec($"v",
        Array(Array(1.0, 1.0), Array(0.5, -1.0), Array(2.0, 0.0)))
        .as("o"))
      .as[Seq[Double]].collect().head
    assert(mv == Seq(3.0, -1.5, 2.0))
    val short = Seq(Seq(3.0)).toDF("v")
      .select(graft.functions.mat_vec($"v",
        Array(Array(1.0, 5.0), Array(0.0, 7.0))).as("o"))
      .as[Seq[Double]].collect().head
    assert(short == Seq(3.0, 0.0), "missing trailing dims read 0")

    // subspace-misaligned fixture: dim=16, m=4 — each vector is a
    // random mix of 3 latent directions that deliberately straddle
    // every subspace boundary (a fixed non-axis-aligned basis), plus
    // small noise: plain PQ quantizes 4 dims at a time and wastes
    // its budget on correlated coordinates; the learned rotation
    // re-aligns the basis with the subspace grid
    val dim = 16
    val rnd = new scala.util.Random(17)
    val basis = Array.fill(3)(Array.fill(dim)(rnd.nextGaussian()))
    val corpus = (0 until 400).map { i =>
      val coef = Array.fill(3)(rnd.nextGaussian())
      val v = Array.tabulate(dim)(d =>
        (0 until 3).map(b => coef(b) * basis(b)(d)).sum +
          0.05 * rnd.nextGaussian())
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 8)

    val rot = Similarity.fitOpqRotation(corpus, "embedding", dim,
      m = 4, nCodes = 8, iters = 8, maxFitRows = 400)
    // orthogonality: R·Rᵀ = I to float roundoff
    (0 until dim).foreach { i =>
      (0 until dim).foreach { j =>
        val dot = (0 until dim).map(k => rot(i)(k) * rot(j)(k)).sum
        assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
          s"R·Rᵀ deviates at ($i,$j): $dot")
      }
    }
    // determinism: same inputs, same matrix
    val rot2 = Similarity.fitOpqRotation(corpus, "embedding", dim,
      m = 4, nCodes = 8, iters = 8, maxFitRows = 400)
    assert(rot.map(_.toSeq).toSeq == rot2.map(_.toSeq).toSeq)

    // FULL candidate budget: OPQ output ≡ exact brute force (the
    // re-rank never sees the rotation)
    val exact = Similarity.bruteForceTopK(corpus, queries,
      "embedding", "vec_id", k = 10)
    val opqFull = Similarity.opqPqTopK(corpus, queries, "embedding",
      "vec_id", k = 10, dim, rot, m = 4, nCodes = 8,
      nCandidates = 400)
    assert(opqFull.orderBy($"query_id", $"rank").collect().toSeq ==
      exact.orderBy($"query_id", $"rank").collect().toSeq,
      "full-budget OPQ must equal exact brute force")

    // PARTIAL budget: rotated quantization recalls more of the true
    // top-10 than axis-aligned PQ at the same (m, nCodes, budget)
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallReport(approx, exact)
        .filter($"query_id".isNull).select($"recall")
        .as[Double].head()
    val pqPart = Similarity.pqTopK(corpus, queries, "embedding",
      "vec_id", k = 10, dim, m = 4, nCodes = 8, nCandidates = 20)
    val opqPart = Similarity.opqPqTopK(corpus, queries, "embedding",
      "vec_id", k = 10, dim, rot, m = 4, nCodes = 8,
      nCandidates = 20)
    val (rPq, rOpq) = (meanRecall(pqPart), meanRecall(opqPart))
    info(s"partial-budget mean recall: pq=$rPq opq=$rOpq")
    assert(rOpq > rPq,
      s"OPQ must beat plain PQ at partial budget on misaligned " +
        s"data: opq=$rOpq pq=$rPq")

    // persisted lifecycle: round trip + geometry/kind refusals
    val dir = java.nio.file.Files
      .createTempDirectory("graft-opq").toString + "/rot"
    DedupIndex.writeRotation(spark, rot, dir)
    val back = DedupIndex.readRotation(spark, dir, dim)
    assert(back.map(_.toSeq).toSeq == rot.map(_.toSeq).toSeq)
    intercept[IllegalArgumentException] {
      DedupIndex.readRotation(spark, dir, dim + 1)
    }
    intercept[Exception] {
      DedupIndex.writeRotation(spark, rot, dir) // frozen artifact
    }

    // IVF-PQ composition: the whole model space rotates (coarse
    // centroids, residuals, codebooks), queries rotate at probe
    // time, re-rank stays original — full probe + full budget is
    // STILL the exact answer, and an index appended THROUGH the
    // same rotation keeps that contract
    val ivfFull = Similarity.ivfPqTopK(corpus, queries, "embedding",
      "vec_id", k = 10, dim, nCentroids = 4, m = 4, nCodes = 8,
      nProbe = 4, nCandidates = 400, rotation = Some(back))
    assert(ivfFull.orderBy($"query_id", $"rank").collect().toSeq ==
      exact.orderBy($"query_id", $"rank").collect().toSeq,
      "full-budget rotated IVF-PQ must equal exact brute force")
    val half = corpus.filter($"vec_id" % 2 === 0)
    val rest = corpus.filter($"vec_id" % 2 === 1)
    val idxDir2 = java.nio.file.Files
      .createTempDirectory("graft-opq-ivf2").toString + "/idx"
    DedupIndex.writeIvfPq(half, "embedding", "vec_id",
      idxDir2, dim, nCentroids = 4, m = 4, nCodes = 8,
      rotation = Some(back))
    DedupIndex.appendIvfPq(rest, "embedding", "vec_id", idxDir2,
      dim, nCentroids = 4, m = 4, nCodes = 8,
      rotation = Some(back))
    val (cents, cbIdx, codes) = DedupIndex.readIvfPq(spark, idxDir2,
      dim, nCentroids = 4, m = 4, nCodes = 8, expectRotated = true)
    val appended = Similarity.ivfPqTopKFromIndex(cents, cbIdx, codes,
      corpus, queries, "embedding", "vec_id", k = 10, dim,
      nProbe = 4, nCandidates = 400, rotation = Some(back))
    assert(appended.orderBy($"query_id", $"rank").collect().toSeq ==
      exact.orderBy($"query_id", $"rank").collect().toSeq,
      "append-through-rotation must keep the full-budget contract")

    // sidecar OPQ discipline: a rotated index refuses an unrotated
    // read/append and vice versa — mixed geometry scores garbage
    // with no error, which is exactly what the flag prevents
    val e1 = intercept[IllegalArgumentException] {
      DedupIndex.readIvfPq(spark, idxDir2, dim, nCentroids = 4,
        m = 4, nCodes = 8) // rotated index, unrotated read
    }
    assert(e1.getMessage.contains("OPQ-ROTATED"))
    intercept[IllegalArgumentException] {
      DedupIndex.appendIvfPq(rest, "embedding", "vec_id", idxDir2,
        dim, nCentroids = 4, m = 4, nCodes = 8) // missing rotation
    }
    val plainDir = java.nio.file.Files
      .createTempDirectory("graft-opq-plain").toString + "/idx"
    DedupIndex.writeIvfPq(half, "embedding", "vec_id", plainDir,
      dim, nCentroids = 4, m = 4, nCodes = 8)
    val e2 = intercept[IllegalArgumentException] {
      DedupIndex.readIvfPq(spark, plainDir, dim, nCentroids = 4,
        m = 4, nCodes = 8, expectRotated = true)
    }
    assert(e2.getMessage.contains("WITHOUT an OPQ rotation"))
    intercept[IllegalArgumentException] {
      DedupIndex.appendIvfPq(rest, "embedding", "vec_id", plainDir,
        dim, nCentroids = 4, m = 4, nCodes = 8,
        rotation = Some(back))
    }
  }

  test("recallReport: hand-built frames — per-query hit fractions, " +
      "zero-overlap query, the mean summary row; full-budget IVF-PQ " +
      "reads recall 1.0 everywhere; refusal on a shapeless frame") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 30L), (3L, 31L), (3L, 32L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 99L), // 2/3
      (2L, 20L), (2L, 21L), (2L, 22L),                // 3/3
      (3L, 98L), (3L, 97L), (3L, 96L))                // 0/3
      .toDF("query_id", "neighbor_id")
    val rep = Similarity.recallReport(approx, exact)
      .orderBy($"query_id".asc_nulls_last).collect()
    assert(rep.map(r => (
      if (r.isNullAt(0)) -1L else r.getLong(0),
      r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"),
      r.getAs[Double]("recall"))).toSeq == Seq(
      (1L, 3L, 2L, 0.666667), (2L, 3L, 3L, 1.0), (3L, 3L, 0L, 0.0),
      (-1L, 9L, 5L, 0.555556)))

    val emb = Graft.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    val q = emb.filter($"vec_id" < 3)
    val full = Similarity.ivfPqTopK(emb, q, "embedding", "vec_id",
      k = 5, dim = 64, nCentroids = 4, m = 8, nCodes = 8, nProbe = 4,
      nCandidates = 1000000, maxIter = 2)
    val exactTop = Similarity.bruteForceTopK(emb, q, "embedding",
      "vec_id", k = 5)
    val recalls = Similarity.recallReport(full, exactTop)
      .select($"recall").as[Double].collect()
    assert(recalls.forall(_ == 1.0),
      "full-budget IVF-PQ must have recall 1.0 everywhere")

    intercept[IllegalArgumentException] {
      Similarity.recallReport(exact.select($"query_id"), exact)
    }
  }

  test("IVF-PQ index lifecycle: write/read round trip queries " +
      "identically to the in-memory fit; append is idempotent; " +
      "geometry and kind mismatches refuse") {
    import graft.operators.DedupIndex
    val emb = Graft.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    val q = emb.filter($"vec_id" < 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfpq").toString
    DedupIndex.writeIvfPq(emb, "embedding", "vec_id", s"$dir/idx",
      dim = 64, nCentroids = 4, m = 8, nCodes = 8, maxIter = 3)
    val (cents, cb, codes) = DedupIndex.readIvfPq(spark, s"$dir/idx",
      dim = 64, nCentroids = 4, m = 8, nCodes = 8)
    val fromIndex = Similarity.ivfPqTopKFromIndex(cents, cb, codes,
      emb, q, "embedding", "vec_id", k = 5, dim = 64, nProbe = 4,
      nCandidates = 1000000)
    val exact = Similarity.bruteForceTopK(emb, q, "embedding",
      "vec_id", k = 5)
    assert(fromIndex.exceptAll(exact).count() == 0 &&
      exact.exceptAll(fromIndex).count() == 0)
    // re-appending the same drop is a no-op (distinct merge)
    val before = codes.count()
    DedupIndex.appendIvfPq(emb.filter($"vec_id" < 10), "embedding",
      "vec_id", s"$dir/idx", dim = 64, nCentroids = 4, m = 8,
      nCodes = 8)
    DedupIndex.appendIvfPq(emb.filter($"vec_id" < 10), "embedding",
      "vec_id", s"$dir/idx", dim = 64, nCentroids = 4, m = 8,
      nCodes = 8)
    val (_, _, codes2) = DedupIndex.readIvfPq(spark, s"$dir/idx",
      dim = 64, nCentroids = 4, m = 8, nCodes = 8)
    assert(codes2.count() == before,
      "re-appending an already-indexed drop must not grow the codes")
    // geometry mismatch refuses on read AND append
    intercept[IllegalArgumentException] {
      DedupIndex.readIvfPq(spark, s"$dir/idx", dim = 64,
        nCentroids = 8, m = 8, nCodes = 8)
    }
    intercept[IllegalArgumentException] {
      DedupIndex.appendIvfPq(emb, "embedding", "vec_id", s"$dir/idx",
        dim = 64, nCentroids = 4, m = 4, nCodes = 8)
    }
    // a foreign index kind refuses
    DedupIndex.writeIvf(emb, "embedding", "vec_id", s"$dir/ivf",
      nCentroids = 4, maxIter = 2)
    intercept[IllegalArgumentException] {
      DedupIndex.readIvfPq(spark, s"$dir/ivf", dim = 64,
        nCentroids = 4, m = 8, nCodes = 8)
    }
  }

  test("similarity adversarial shapes: all-identical corpus (every " +
      "candidate ties / one mega LSH bucket), zero-vector queries, " +
      "degenerate PQ value space — deterministic id-ordered output " +
      "or a loud refusal, never arbitrary results") {
    val n = 40
    val vec = Seq.fill(64)(0.5)
    val ident = spark.range(n).select($"id".as("vec_id"),
      typedLit(vec).as("embedding"))
    val q3 = ident.filter($"vec_id" < 3)

    // all-identical corpus: every candidate ties on cos — the rank
    // order must fall through to neighbor_id, so query q's top-3 is
    // exactly the three smallest ids excluding q, twice over (two
    // runs → identical rows: no partitioning-dependent tie outcomes)
    def expect3(qid: Long): Seq[(Long, Int, Long)] =
      (0L until n).filter(_ != qid).sorted.take(3)
        .zipWithIndex.map { case (nb, i) => (qid, i + 1, nb) }
    val wantTies = (0L until 3L).flatMap(expect3)
    def runBrute(): Seq[(Long, Int, Long)] =
      Similarity.bruteForceTopK(ident, q3, "embedding", "vec_id", 3)
        .select($"query_id", $"rank", $"neighbor_id")
        .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(runBrute() == wantTies)
    assert(runBrute() == wantTies)

    // the same corpus puts EVERY row in one bucket per LSH table (the
    // mega-bucket shape): candidates = everything, output must equal
    // brute force, not depend on which duplicate bucket row survives
    val lsh = Similarity.lshTopK(ident, q3, "embedding", "vec_id", 3,
        nPlanes = 6, dim = 64, nTables = 2, probeHamming = 0)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(lsh == wantTies)

    // zero-vector queries: cosine is undefined (NULL), so ranking
    // falls through to neighbor_id — deterministic, never a crash;
    // embeddingStats is the documented upstream quarantine
    val zeroQ = spark.range(2).select(($"id" + 1000L).as("vec_id"),
      typedLit(Seq.fill(64)(0.0)).as("embedding"))
    val zr = Similarity.bruteForceTopK(ident, zeroQ, "embedding",
        "vec_id", 2)
      .select($"query_id", $"rank", $"neighbor_id", $"cos")
      .collect()
    assert(zr.length == 4)
    assert(zr.forall(_.isNullAt(3)), "zero-query cosine must be NULL")
    assert(zr.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq ==
      Seq((1000L, 1, 0L), (1000L, 2, 1L), (1001L, 1, 0L),
        (1001L, 2, 1L)))

    // PQ on a value space smaller than the codebook (the all-identical
    // extreme): the fit REFUSES loudly instead of minting degenerate
    // duplicate codewords
    val e = intercept[IllegalArgumentException] {
      Similarity.fitPqCodebooks(ident, "embedding", dim = 64, m = 2,
        nCodes = 2, maxIter = 1) }
    assert(e.getMessage.contains("lower nCodes"))

    // PQ on the mega-DUPLICATE shape (two distinct vectors, 20 copies
    // each): codebook fills, every within-group candidate ties, and
    // full-candidate output equals brute force exactly
    val two = spark.range(n).select($"id".as("vec_id"),
      when(pmod($"id", lit(2)) === 0, typedLit(vec))
        .otherwise(typedLit(Seq.fill(32)(0.25) ++ Seq.fill(32)(0.75)))
        .as("embedding"))
    val qt = two.filter($"vec_id" < 3)
    val wantTwo = Similarity.bruteForceTopK(two, qt, "embedding",
        "vec_id", 3)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val gotTwo = Similarity.pqTopK(two, qt, "embedding", "vec_id", 3,
        dim = 64, m = 2, nCodes = 2, nCandidates = n + 1, maxIter = 2)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(gotTwo == wantTwo)
  }

  test("readPq refuses a parameter-mismatched index") {
    val emb = Graft.table(spark, sf, "embeddings").limit(50)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pq-idx").toString + "/idx"
    operators.DedupIndex.writePq(emb, "embedding", "vec_id", dir,
      dim = 64, m = 8, nCodes = 4, maxIter = 2)
    // right params: round trips; persisted codes are CODES-ONLY
    val (codes, cb) = operators.DedupIndex.readPq(spark, dir,
      dim = 64, m = 8, nCodes = 4)
    assert(codes.count() == 50 && cb.length == 8 && cb(0).length == 4)
    assert(codes.columns.toSeq == Seq("neighbor_id", "__codes"),
      "the PQ index must not persist the float vectors")
    // wrong m and wrong nCodes: refused with the rebuild message
    val e1 = intercept[IllegalArgumentException] {
      operators.DedupIndex.readPq(spark, dir, dim = 64, m = 4,
        nCodes = 4) }
    assert(e1.getMessage.contains("rebuild"))
    val e2 = intercept[IllegalArgumentException] {
      operators.DedupIndex.readPq(spark, dir, dim = 64, m = 8,
        nCodes = 16) }
    assert(e2.getMessage.contains("rebuild"))
  }

  test("text analysis: tokens, ratios, quality bounds") {
    val df = Seq("The quick brown fox, it jumps; really!?").toDF("t")
      .select(TextAnalysis.tokenCount($"t").as("n"),
        round(TextAnalysis.punctRatio($"t"), 6).as("pr"),
        TextAnalysis.qualityScore($"t").as("q"))
    val r = df.head
    assert(r.getAs[Int]("n") == 7)
    assert(r.getAs[Double]("pr") > 0 && r.getAs[Double]("pr") < 0.2)
    assert(r.getAs[Double]("q") >= 0 && r.getAs[Double]("q") <= 1)
  }

  test("gopherRules: each rule fails on its own crafted doc; clean " +
      "doc keeps") {
    val good = ("the words and sentences flow along nicely that " +
      "people have written with care ") * 5  // 65 words, all rules ok
    val docs = Seq(
      (1L, good),
      (2L, "too short to have the required count of and that"),
      (3L, good + " " + ("x" * 800)),            // mean word len > 10
      (4L, good + " " + ("#" * 20)),             // symbol ratio > 0.1
      (5L, good + ("\n- b" * 40)),               // bullet lines > 90%
      (6L, good + "\nfoo...\nbar...\nbaz..."),   // ellipsis > 30%
      (7L, good + " " + (1 to 30).map(_.toString).mkString(" ")),
      (8L, ("zzz qqq www vvv kkk " * 13))        // no required words
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
    def flags(i: Int) = Map(
      "r_words" -> out(i).getAs[Long]("r_words"),
      "r_mean_len" -> out(i).getAs[Long]("r_mean_len"),
      "r_symbol" -> out(i).getAs[Long]("r_symbol"),
      "r_bullet" -> out(i).getAs[Long]("r_bullet"),
      "r_ellipsis" -> out(i).getAs[Long]("r_ellipsis"),
      "r_alpha" -> out(i).getAs[Long]("r_alpha"),
      "r_required" -> out(i).getAs[Long]("r_required"),
      "keep" -> out(i).getAs[Long]("keep"))
    assert(flags(0).values.forall(_ == 1L), s"doc1 all-pass: ${flags(0)}")
    assert(flags(1)("r_words") == 0L && flags(1)("keep") == 0L)
    assert(flags(2)("r_mean_len") == 0L && flags(2)("keep") == 0L)
    assert(flags(3)("r_symbol") == 0L)
    assert(flags(4)("r_bullet") == 0L)
    assert(flags(5)("r_ellipsis") == 0L)
    assert(flags(6)("r_alpha") == 0L,
      s"30 of 95 numeric tokens -> alpha < 0.8: ${flags(6)}")
    assert(flags(7)("r_required") == 0L && flags(7)("r_words") == 1L)
  }

  test("langId picks the profile language; und on no match") {
    val df = Seq(
      "the cat and the dog of a house is here",
      "el gato y la casa de un perro que corre en madrid",
      "le chat et le chien de la maison les des",
      "der hund und die katze ist von ein haus",
      "我 的 是 不 了 在 有",
      "zzz qqq www").toDF("t")
      .select(TextAnalysis.langId($"t").as("l"))
    assert(df.as[String].collect().toSeq ==
      Seq("en", "es", "fr", "de", "zh", "und"))
  }

  test("fingerprint invariant to spacing/punct/case") {
    val df = Seq("Hello, World!", "hello   world", "HELLO-WORLD")
      .toDF("t").select(TextAnalysis.fingerprint($"t").as("f"))
    assert(df.as[String].collect().toSet.size == 1)
  }

  test("multimodal pipeline: schema + deterministic real fields") {
    val docs = Graft.table(spark, sf, "documents").limit(10)
    val media = Multimodal.mediaPipeline(docs, "text", "doc_id")
    val schema = media.schema
    assert(schema("bytes").dataType.typeName == "binary")
    assert(schema("features").dataType.typeName == "array")
    assert(schema("meta").dataType.typeName == "struct")
    val r = media.head
    assert(r.getAs[Int]("n_bytes") > 0)
    assert(r.getAs[String]("sha256").length == 64)
    val feats = r.getSeq[Float](media.columns.indexOf("features"))
    assert(feats.length == 16)
    assert(math.abs(feats.sum - 1.0f) < 1e-3, "histogram L1-normalized")
    // deterministic across runs
    val again = Multimodal.mediaPipeline(docs, "text", "doc_id").head
    assert(again.getAs[String]("sha256") == r.getAs[String]("sha256"))
  }

  test("BPE-ish tokenizer splits on class boundaries") {
    val toks = Seq("don't stop-me now2day").toDF("t")
      .select(TextAnalysis.tokenizeBpeish($"t")).head.getSeq[String](0)
    assert(toks == Seq("don", "'", "t", "stop", "-", "me", "now2day"))
  }

  test("quarantined plumbing fixtures still exercise the schema shapes") {
    val r = Graft.table(spark, sf, "documents").limit(5)
      .select(Multimodal.plumbingFixture.resizeStub(
        Multimodal.asBlob($"text"), maxDim = 32).as("r"))
      .select($"r.width", $"r.height", $"r.bytes").collect()
    assert(r.forall(x => x.getInt(0) <= 32 && x.getInt(1) <= 32))
    assert(r.forall(_.getAs[Array[Byte]](2).nonEmpty))
    val m = Graft.table(spark, sf, "documents").limit(5)
      .select(Multimodal.plumbingFixture.decodeStub(
        Multimodal.asBlob($"text")).as("m"))
      .select($"m.format").as[String].collect()
    assert(m.forall(Set("png", "jpeg", "wav", "mp4")))
  }

  test("decodePartitions and the imageMeta column form agree and are " +
      "honestly unknown for non-image bytes") {
    val docs = Graft.table(spark, sf, "documents").limit(50)
    val viaPartitions = Multimodal.decodePartitions(
      docs.withColumn("blob", Multimodal.asBlob($"text")), "blob", "doc_id")
      .select($"doc_id", $"format", $"width")
      .as[(Long, String, Int)].collect().toSet
    assert(viaPartitions.forall { case (_, f, w) =>
      f == "unknown" && w == 0 },
      "text bytes must decode as unknown, not a fake mapping")
    val viaExpr = docs.select($"doc_id",
        Multimodal.imageMeta(Multimodal.asBlob($"text")).as("m"))
      .select($"doc_id", $"m.format", $"m.width")
      .as[(Long, String, Int)].collect().toSet
    assert(viaPartitions == viaExpr)
    // and a real image is claimed with real dims by both forms
    val img = Seq((1L, "png")).toDF("id", "fmt").select($"id",
      Multimodal.encodeTestImage($"fmt", lit(11), lit(7), lit(40))
        .as("blob"))
    val pm = Multimodal.decodePartitions(img, "blob", "id").head
    assert(pm.getAs[String]("format") == "png" &&
      pm.getAs[Int]("width") == 11)
    val em = img.select(Multimodal.imageMeta($"blob").as("m"))
      .select($"m.format", $"m.width").as[(String, Int)].head()
    assert(em == (("png", 11)))
  }

  test("real image resize: integer-exact dims, solid content " +
      "preserved, pass-through inside the box") {
    import Multimodal._
    val fixtures = Seq((1L, "png", 40, 20, 77), (2L, "jpeg", 20, 36, 200),
      (3L, "bmp", 10, 9, 5)) // (3) already inside the box
    val blobs = fixtures.toDF("id", "fmt", "w", "h", "gray")
      .select($"id", encodeTestImage($"fmt", $"w", $"h", $"gray")
        .as("blob"))
    val out = decodeImagePartitions(
      resizeImagePartitions(blobs, "blob", "id", maxDim = 24),
      "png", "id")
      .select($"id", $"format", $"width", $"height", $"mean_gray")
      .as[(Long, String, Int, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    fixtures.foreach { case (id, _, w, h, gray) =>
      val mx = math.max(w, h)
      val (rw, rh) = if (mx <= 24) (w, h)
        else (math.max(w * 24 / mx, 1), math.max(h * 24 / mx, 1))
      assert(out(id) == (("png", rw, rh, gray.toDouble)))
    }
    // non-image bytes: unknown row with null payload
    val junk = Seq((9L, "nope")).toDF("id", "t")
      .select($"id", asBlob($"t").as("blob"))
    val j = resizeImagePartitions(junk, "blob", "id", 24).head
    assert(j.getAs[Int]("width") == 0 && j.isNullAt(j.fieldIndex("png")))
  }

  test("real video frame sampling: container-only walk fans sampled " +
      "JPEG payloads out as rows that compose with the image decoder") {
    import Multimodal._
    val blobs = Seq((1L, 9), (2L, 3)).toDF("id", "nf")
      .select($"id", encodeTestVideoAvi(lit(16), lit(16), $"nf",
        lit(50), lit(10)).as("blob"))
    val sampled = videoFrameSamplePartitions(blobs, "blob", "id",
      stride = 4)
    val idx = sampled.select($"id", $"frame_idx")
      .as[(Long, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(idx(1L) == Seq(0, 4, 8))
    assert(idx(2L) == Seq(0))
    // sampled payloads are decodable JPEG with the right solid mean
    val dec = decodeImagePartitions(
      sampled.filter($"id" === 1).withColumn("fid", $"frame_idx"),
      "frame", "fid")
      .select($"fid", $"format", $"mean_gray")
      .as[(Long, String, Double)].collect()
    assert(dec.forall(_._2 == "jpeg"))
    assert(dec.map(d => d._1 -> d._3).toMap ==
      Map(0L -> 50.0, 4L -> 78.0, 8L -> 106.0)) // (50 + 7·idx) % 256
    // non-AVI bytes contribute no frame rows
    val junk = Seq((9L, "nope")).toDF("id", "t")
      .select($"id", asBlob($"t").as("blob"))
    assert(videoFrameSamplePartitions(junk, "blob", "id").count() == 0)
  }

  test("real image codec beats the stub: encode→decodePartitions " +
      "returns actual format/dims, full decode returns exact pixels") {
    val fixtures = Seq((1L, "png", 13, 9, 200), (2L, "jpeg", 31, 7, 77),
      (3L, "bmp", 8, 25, 0), (4L, "gif", 24, 24, 255))
    val blobs = fixtures.toDF("id", "fmt", "w", "h", "gray")
      .select($"id", Multimodal.encodeTestImage(
        $"fmt", $"w", $"h", $"gray").as("blob"))
    // header path (decodePartitions): real reader claims the bytes —
    // actual format name and pixel dims, not the byte-derived stub
    val viaHeader = Multimodal.decodePartitions(blobs, "blob", "id")
      .select($"id", $"format", $"width", $"height")
      .as[(Long, String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    fixtures.foreach { case (id, fmt, w, h, _) =>
      assert(viaHeader(id) == ((fmt, w, h)))
    }
    // full-raster path: mean gray exact for every format (verified
    // exhaustively for all 256 levels at build time — JPEG included,
    // uniform blocks are DC-only)
    val viaFull = Multimodal.decodeImagePartitions(blobs, "blob", "id")
      .select($"id", $"mean_gray").as[(Long, Double)].collect().toMap
    fixtures.foreach { case (id, _, _, _, gray) =>
      assert(viaFull(id) == gray.toDouble)
    }
    // non-image bytes stay honest: "unknown", no dims, null mean
    val junk = Seq((9L, "definitely not an image")).toDF("id", "t")
      .select($"id", Multimodal.asBlob($"t").as("blob"))
    val u = Multimodal.decodeImagePartitions(junk, "blob", "id").head
    assert(u.getAs[String]("format") == "unknown")
    assert(u.getAs[Int]("width") == 0 && u.isNullAt(
      u.fieldIndex("mean_gray")))
  }

  test("perceptual dHash: identical images collide across containers, " +
      "uniform brightness shift is invariant, patterns differ, junk null") {
    import Multimodal._
    val rows = Seq((1L, "png", 40), (2L, "bmp", 40), (4L, "png", 91))
      .toDF("id", "fmt", "seed")
      .select($"id", encodeTestImagePattern(
        $"fmt", lit(20), lit(16), $"seed").as("blob"))
    val h = imageDHashPartitions(rows, "blob", "id")
      .as[(Long, Option[Long])].collect().toMap
    assert(h(1L).isDefined)
    assert(h(1L) == h(2L), "same pixels, different container")
    assert(h(1L) != h(4L), "different pattern")
    // brightness invariance: the same half-range pattern with and
    // without a uniform +25 gray lift (wrap-free by construction)
    // must hash identically — gradient DIRECTION, not level
    val shifted = Seq((5L, 0), (6L, 25)).toDF("id", "off")
      .select($"id", shiftPatternBlob(lit(40), $"off").as("blob"))
    val h5 = imageDHashPartitions(shifted, "blob", "id")
      .as[(Long, Option[Long])].collect().toMap
    assert(h5(5L).isDefined)
    assert(h5(5L) == h5(6L), "uniform brightness shift preserves dHash")
    // junk bytes and too-small images → null
    val junk = Seq((7L, "tiny")).toDF("id", "t")
      .select($"id", asBlob($"t").as("blob"))
    assert(imageDHashPartitions(junk, "blob", "id").head.isNullAt(1))
    val tiny = Seq((8L, "png")).toDF("id", "fmt")
      .select($"id", encodeTestImage($"fmt", lit(4), lit(4), lit(0))
        .as("blob"))
    assert(imageDHashPartitions(tiny, "blob", "id").head.isNullAt(1))
  }

  /** Encode a half-range (≤127) 20×16 fixture pattern lifted by a
    * uniform `off` gray levels (wrap-free for off ≤ 128): identical
    * pairwise mean orderings at every offset, for the dHash
    * brightness-invariance assertion.
    */
  private val shiftPatternBlob =
    org.apache.spark.sql.functions.udf { (seed: Int, off: Int) =>
      val img = new java.awt.image.BufferedImage(20, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 20) {
        val base = (seed + 53 * x * x + 31 * y * y + 97 * x * y) % 256
        val g = base / 2 + off
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

  test("real audio codec: encode→decodeAudioPartitions returns actual " +
      "container/rate/channels/frames and exact mean amplitude") {
    val fixtures = Seq((1L, "wave", 8000, 1, 50, -500),
      (2L, "aiff", 22050, 2, 149, 499), (3L, "au", 44100, 1, 80, 0))
    val blobs = fixtures.toDF("id", "ft", "rate", "ch", "nf", "v")
      .select($"id", Multimodal.encodeTestAudio(
        $"ft", $"rate", $"ch", $"nf", $"v").as("blob"))
    val got = Multimodal.decodeAudioPartitions(blobs, "blob", "id")
      .select($"id", $"audio_format", $"sample_rate", $"channels",
        $"n_frames", $"mean_sample")
      .as[(Long, String, Int, Int, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    fixtures.foreach { case (id, ft, rate, ch, nf, v) =>
      assert(got(id) == ((ft, rate, ch, nf.toLong, v.toDouble)))
    }
    // non-audio bytes: "unknown" with null stats
    val junk = Seq((9L, "not audio either")).toDF("id", "t")
      .select($"id", Multimodal.asBlob($"t").as("blob"))
    val u = Multimodal.decodeAudioPartitions(junk, "blob", "id").head
    assert(u.getAs[String]("audio_format") == "unknown")
    assert(u.isNullAt(u.fieldIndex("mean_sample")))
  }

  test("DedupIndex.replaceWith: a build killed mid-flight leaves the " +
      "live index complete; a finished build swaps in atomically") {
    val docs = Graft.table(spark, sf, "documents").limit(60)
      .select($"doc_id", $"text")
    val refA = docs.filter($"doc_id" % 2 === 0)
    val refB = docs.filter($"doc_id" % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-repl")
      .toString
    val path = s"$dir/exact"
    operators.DedupIndex.writeExact(refA, "text", path)
    val before = operators.DedupIndex.readExact(spark, path)
      .collect().map(_.getString(0)).toSet
    assert(before.nonEmpty)

    // kill the build mid-flight: parquet lands but the run dies
    // BEFORE the sidecar (the exact window a crashed executor/driver
    // leaves) — the live index must stay the old complete one
    val boom = intercept[RuntimeException] {
      operators.DedupIndex.replaceWith(spark, path) { tmp =>
        refB.limit(1).write.parquet(tmp)
        throw new RuntimeException("killed mid-build")
      }
    }
    assert(boom.getMessage.contains("killed") ||
      boom.getMessage.contains("complete index"))
    val afterCrash = operators.DedupIndex.readExact(spark, path)
      .collect().map(_.getString(0)).toSet
    assert(afterCrash == before, "crashed replace must not touch the " +
      "live index")

    // a build that only writes parquet (no sidecar) is refused even
    // if it returns normally — completeness is checked before swap
    intercept[IllegalArgumentException] {
      operators.DedupIndex.replaceWith(spark, path) { tmp =>
        refB.limit(1).write.mode("overwrite").parquet(tmp)
      }
    }
    assert(operators.DedupIndex.readExact(spark, path)
      .collect().map(_.getString(0)).toSet == before)

    // completed build swaps in: readers now see refB's digests, no
    // temp/old siblings remain
    operators.DedupIndex.replaceWith(spark, path)(
      operators.DedupIndex.writeExact(refB, "text", _))
    val after = operators.DedupIndex.readExact(spark, path)
      .collect().map(_.getString(0)).toSet
    val wantB = operators.Dedup.exactReferenceIndex(refB, "text")
      .collect().map(_.getString(0)).toSet
    assert(after == wantB && after != before)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      path + "__replace_tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      path + "__replace_old")))

    // replace also CREATES when no index exists yet (first drop)
    val fresh = s"$dir/fresh"
    operators.DedupIndex.replaceWith(spark, fresh)(
      operators.DedupIndex.writeExact(refA, "text", _))
    assert(operators.DedupIndex.readExact(spark, fresh)
      .collect().map(_.getString(0)).toSet == before)
  }

  test("DedupIndex.append*: incremental drop equals the full rebuild; " +
      "params pinned; a failed append leaves the live index intact") {
    val docs = Graft.table(spark, sf, "documents").limit(80)
      .select($"doc_id", $"text")
    val drop1 = docs.filter($"doc_id" % 2 === 0)
    val drop2 = docs.filter($"doc_id" % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-app")
      .toString

    // exact: build on drop1, append drop2 == one build on everything
    val ep = s"$dir/exact"
    operators.DedupIndex.writeExact(drop1, "text", ep)
    operators.DedupIndex.appendExact(drop2, "text", ep)
    val appended = operators.DedupIndex.readExact(spark, ep)
      .collect().map(_.getString(0)).toSet
    val full = operators.Dedup.exactReferenceIndex(docs, "text")
      .collect().map(_.getString(0)).toSet
    assert(appended == full)
    // re-appending the same drop is idempotent (distinct)
    operators.DedupIndex.appendExact(drop2, "text", ep)
    assert(operators.DedupIndex.readExact(spark, ep)
      .collect().map(_.getString(0)).toSet == full)

    // winnow: geometry pinned by the LIVE sidecar — mismatched
    // append refused before any work, index untouched
    val wp = s"$dir/winnow"
    operators.DedupIndex.writeWinnow(drop1, "text", wp, n = 5,
      window = 4)
    val beforeW = operators.DedupIndex.readWinnow(spark, wp, 5, 4)
      .count()
    val e = intercept[IllegalArgumentException] {
      operators.DedupIndex.appendWinnow(drop2, "text", wp, n = 7,
        window = 4) }
    assert(e.getMessage.contains("rebuild"))
    assert(operators.DedupIndex.readWinnow(spark, wp, 5, 4)
      .count() == beforeW)
    operators.DedupIndex.appendWinnow(drop2, "text", wp, n = 5,
      window = 4)
    val wantW = operators.Dedup.winnowReferenceIndex(docs, "text", 5, 4)
      .collect().map(_.get(0)).toSet
    assert(operators.DedupIndex.readWinnow(spark, wp, 5, 4)
      .collect().map(_.get(0)).toSet == wantW)

    // kmv: merged sketch == sketch of the union, only drop2 scanned
    val kp = s"$dir/kmv"
    operators.DedupIndex.writeKmv(drop1, "text", kp, k = 64)
    operators.DedupIndex.appendKmv(drop2, "text", kp, k = 64)
    val mergedSk = operators.DedupIndex.readKmv(spark, kp, k = 64)
      .head().getSeq[Long](0)
    val fullSk = docs.agg(operators.Sketches.kmvSketch($"text", 64))
      .head().getSeq[Long](0)
    assert(mergedSk == fullSk)
  }

  test("DedupIndex.appendIvf/appendPq: frozen-fit append equals the " +
      "full rebuild at full probe/candidates; geometry pinned; " +
      "idempotent") {
    val emb = Graft.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 =!= 0)
    val queries = emb.filter($"vec_id" < 3)
    val nAll = emb.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-annapp")
      .toString
    // full probing / full candidates make the result set exact for
    // ANY centroid/codebook placement, so the appended index must
    // reproduce brute force over the WHOLE corpus — an append that
    // loses, duplicates, or mis-assigns the new drop cannot pass
    val want = Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", 5).collect().map(_.toString).sorted.toSeq

    // IVF: build on the even half, append the odd half — only the new
    // drop is scanned, assigned with the FROZEN centroids
    val ip = s"$dir/ivf"
    operators.DedupIndex.writeIvf(even, "embedding", "vec_id", ip,
      nCentroids = 4, maxIter = 2)
    operators.DedupIndex.appendIvf(odd, "embedding", "vec_id", ip,
      nCentroids = 4)
    val (cents, assigned) = operators.DedupIndex.readIvf(spark, ip,
      nCentroids = 4)
    assert(assigned.count() == nAll)
    val gotIvf = Similarity.ivfTopKFromIndex(cents, assigned, queries,
        "embedding", "vec_id", 5, nProbe = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(gotIvf == want)
    // re-appending the same drop is idempotent (distinct)
    operators.DedupIndex.appendIvf(odd, "embedding", "vec_id", ip,
      nCentroids = 4)
    assert(operators.DedupIndex.readIvf(spark, ip, nCentroids = 4)
      ._2.count() == nAll)
    // mismatched geometry refused by the LIVE sidecar, before any work
    val e1 = intercept[IllegalArgumentException] {
      operators.DedupIndex.appendIvf(odd, "embedding", "vec_id", ip,
        nCentroids = 8) }
    assert(e1.getMessage.contains("rebuild"))

    // PQ: codebooks stay frozen from the even-half fit; the append
    // encodes the odd drop in one codes-only scan
    val pp = s"$dir/pq"
    operators.DedupIndex.writePq(even, "embedding", "vec_id", pp,
      dim = 64, m = 8, nCodes = 4, maxIter = 2)
    operators.DedupIndex.appendPq(odd, "embedding", "vec_id", pp,
      dim = 64, m = 8, nCodes = 4)
    val (codes, cb) = operators.DedupIndex.readPq(spark, pp, dim = 64,
      m = 8, nCodes = 4)
    assert(codes.count() == nAll)
    assert(codes.columns.toSeq == Seq("neighbor_id", "__codes"),
      "append must preserve the codes-only schema")
    val gotPq = Similarity.pqTopKFromIndex(codes, cb, emb, queries,
        "embedding", "vec_id", 5, dim = 64, nCandidates = 100000)
      .collect().map(_.toString).sorted.toSeq
    assert(gotPq == want)
    operators.DedupIndex.appendPq(odd, "embedding", "vec_id", pp,
      dim = 64, m = 8, nCodes = 4)
    assert(operators.DedupIndex.readPq(spark, pp, dim = 64, m = 8,
      nCodes = 4)._1.count() == nAll)
    val e2 = intercept[IllegalArgumentException] {
      operators.DedupIndex.appendPq(odd, "embedding", "vec_id", pp,
        dim = 64, m = 4, nCodes = 4) }
    assert(e2.getMessage.contains("rebuild"))
  }

  test("DedupIndex reads race replaceWith's rename gap: old-or-new, " +
      "never file-not-found") {
    val docs = Graft.table(spark, sf, "documents").limit(40)
      .select($"doc_id", $"text")
    val refA = docs.filter($"doc_id" % 2 === 0)
    val refB = docs.filter($"doc_id" % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-race")
      .toString
    val path = s"$dir/exact"
    operators.DedupIndex.writeExact(refA, "text", path)
    val setA = operators.DedupIndex.readExact(spark, path)
      .collect().map(_.getString(0)).toSet
    val setB = Dedup.exactReferenceIndex(refB, "text")
      .collect().map(_.getString(0)).toSet

    // deterministic gap: hold the index path ABSENT (the exact
    // between-renames window of replaceWith, stretched to ~200 ms)
    // while a reader opens — the bounded retry must ride it out and
    // return the complete old index, not file-not-found
    val p = new org.apache.hadoop.fs.Path(path)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(path + "__race_aside")
    val reader = new java.util.concurrent.FutureTask(() =>
      operators.DedupIndex.readExact(spark, path)
        .collect().map(_.getString(0)).toSet)
    assert(fsys.rename(p, aside))
    new Thread(reader).start()
    Thread.sleep(200)
    assert(fsys.rename(aside, p))
    assert(reader.get(30, java.util.concurrent.TimeUnit.SECONDS)
      == setA)

    // racing loop: a writer swaps A↔B back-to-back while a reader
    // polls the open path continuously — every open must land on a
    // complete index generation, zero failures. (Opens resolve the
    // sidecar + parquet schema; an execution pinned to one
    // generation across a LATER swap is the documented out-of-scope
    // caveat, so content equality is asserted in the deterministic
    // half above where the file set is stable.)
    @volatile var writerDone = false
    @volatile var writerErr: Throwable = null
    val writer = new Thread(() => {
      try (1 to 4).foreach { i =>
        val r = if (i % 2 == 1) refB else refA
        operators.DedupIndex.replaceWith(spark, path)(
          operators.DedupIndex.writeExact(r, "text", _))
      } catch { case e: Throwable => writerErr = e }
      finally writerDone = true
    })
    writer.start()
    var reads = 0
    var failures = List.empty[Throwable]
    while (!writerDone) {
      try {
        operators.DedupIndex.readExact(spark, path)
        reads += 1
      } catch { case scala.util.control.NonFatal(e) => failures ::= e }
    }
    writer.join()
    assert(writerErr == null, s"writer failed: $writerErr")
    assert(failures.isEmpty,
      s"reader failed ${failures.size}x: ${failures.headOption}")
    assert(reads > 0)
    assert(operators.DedupIndex.readExact(spark, path)
      .collect().map(_.getString(0)).toSet == setA)
  }

  test("DedupIndex: persisted indexes round-trip bit-identical and " +
      "refuse mismatched parameters or incomplete builds") {
    val docs = Graft.table(spark, sf, "documents").limit(100)
    val ref = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id", $"text")
    val dir = java.nio.file.Files.createTempDirectory("graft-idx")
      .toString
    // winnow round trip == inline
    operators.DedupIndex.writeWinnow(ref, "text", s"$dir/w", 5, 4)
    val viaIdx = Dedup.winnowOverlapStatsFromIndex(docs,
        operators.DedupIndex.readWinnow(spark, s"$dir/w", 5, 4),
        "text", "doc_id", 5, 4)
      .collect().map(_.toString).toSet
    val inline = Dedup.winnowOverlapStats(docs, ref, "text", "doc_id",
      5, 4).collect().map(_.toString).toSet
    assert(viaIdx == inline)
    // minhash round trip == inline
    operators.DedupIndex.writeMinhash(ref, "text", s"$dir/m", 3)
    val viaIdxM = Dedup.minhashOverlapFromIndex(docs,
        operators.DedupIndex.readMinhash(spark, s"$dir/m", 3),
        "text", "doc_id").collect().map(_.toString).toSet
    val inlineM = Dedup.minhashOverlap(docs, ref, "text", "doc_id")
      .collect().map(_.toString).toSet
    assert(viaIdxM == inlineM)
    // parameter mismatch refused with a pointed message
    val e1 = intercept[IllegalArgumentException] {
      operators.DedupIndex.readWinnow(spark, s"$dir/w", n = 7)
    }
    assert(e1.getMessage.contains("n=5") &&
      e1.getMessage.contains("n=7"))
    // wrong kind refused
    val e2 = intercept[IllegalArgumentException] {
      operators.DedupIndex.readMinhash(spark, s"$dir/w")
    }
    assert(e2.getMessage.contains("winnow"))
    // a directory without the sidecar (incomplete build) refused
    ref.limit(1).write.parquet(s"$dir/broken")
    val e3 = intercept[IllegalArgumentException] {
      operators.DedupIndex.readWinnow(spark, s"$dir/broken")
    }
    assert(e3.getMessage.contains("_graft_index.json"))
    // IVF: persisted fit queries identically to the in-session fit
    // at full probe (result set = exact top-k either way)
    val emb = Graft.table(spark, sf, "embeddings").limit(300)
    operators.DedupIndex.writeIvf(emb, "embedding", "vec_id",
      s"$dir/ivf", nCentroids = 4, maxIter = 3)
    val (cents, assigned) =
      operators.DedupIndex.readIvf(spark, s"$dir/ivf", nCentroids = 4)
    val q = emb.filter($"vec_id" < 2)
    val viaIvf = Similarity.ivfTopKFromIndex(cents, assigned, q,
        "embedding", "vec_id", 5, nProbe = 4)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(emb, q, "embedding",
        "vec_id", 5)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(viaIvf == exact,
      "full-probe persisted IVF must reproduce exact top-k")
    val e4 = intercept[IllegalArgumentException] {
      operators.DedupIndex.readIvf(spark, s"$dir/ivf", nCentroids = 8)
    }
    assert(e4.getMessage.contains("n_centroids"))
  }

  test("perceptual audio fingerprint: container- and gain-invariant, " +
      "null for junk and too-short clips") {
    import Multimodal._
    val rows = Seq(
      (1L, "wave", 1), (2L, "aiff", 1), (3L, "au", 1), // same content
      (4L, "wave", 3),   // same pattern, 3× gain
      (5L, "wave", 1))   // different pattern (other seed below)
      .toDF("id", "ft", "gain")
      .select($"id", encodeTestAudioPattern($"ft", lit(8000), lit(2),
        when($"id" === 5, 99).otherwise(42), $"gain").as("blob"))
    val fp = audioFingerprintPartitions(rows, "blob", "id")
      .as[(Long, Option[Long])].collect().toMap
    assert(fp(1L).isDefined)
    assert(fp(1L) == fp(2L) && fp(1L) == fp(3L),
      "same recording, different container → same fingerprint")
    assert(fp(1L) == fp(4L),
      "uniform gain scales every segment energy by gain² — ordering, " +
        "hence every bit, is invariant")
    assert(fp(1L) != fp(5L), "different pattern → different fingerprint")
    // junk bytes and too-short clips → null
    val junk = Seq((9L, "not audio")).toDF("id", "t")
      .select($"id", asBlob($"t").as("blob"))
    assert(audioFingerprintPartitions(junk, "blob", "id").head.isNullAt(1))
    val short = Seq((8L, "wave")).toDF("id", "ft")
      .select($"id", encodeTestAudio($"ft", lit(8000), lit(1), lit(10),
        lit(5)).as("blob")) // 10 frames < 65 samples
    assert(audioFingerprintPartitions(short, "blob", "id").head
      .isNullAt(1))
  }

  test("perceptual video fingerprint: resolution/fps-invariant " +
      "temporal envelope, null for non-AVI bytes") {
    import Multimodal._
    val rows = Seq(
      (1L, 12, 8, 15),   // original
      (2L, 20, 14, 30),  // same frame sequence, other dims + fps
      (3L, 12, 8, 15))   // different pattern (other seed below)
      .toDF("id", "w", "h", "fps")
      .select($"id", encodeTestVideoAviPattern($"w", $"h", lit(70),
        when($"id" === 3, 77).otherwise(31), $"fps").as("blob"))
    val fp = videoFingerprintPartitions(rows, "blob", "id")
      .as[(Long, Option[Long])].collect().toMap
    assert(fp(1L).isDefined)
    assert(fp(1L) == fp(2L),
      "re-encode at different resolution/fps → same temporal fingerprint")
    assert(fp(1L) != fp(3L), "different frame sequence → different bits")
    val junk = Seq((9L, "not a video")).toDF("id", "t")
      .select($"id", asBlob($"t").as("blob"))
    assert(videoFingerprintPartitions(junk, "blob", "id").head.isNullAt(1))
  }

  test("autoBands derives the band split from the Jaccard threshold " +
      "and the auto default finds the same pairs as the explicit split") {
    // the hand-picked geometries fall out of the rule
    assert(Dedup.autoBands(16, 0.5) == 8)
    assert(Dedup.autoBands(32, 0.5) == 16)
    // looser thresholds need fewer bands; tighter need more
    assert(Dedup.autoBands(16, 0.8) == 4)
    assert(Dedup.autoBands(16, 0.95) == 2)
    assert(Dedup.autoBands(16, 1.0) == 1)
    // unreachable knee: every split's knee > t → max recall = all bands
    assert(Dedup.autoBands(16, 0.01) == 16)
    // returned value always divides the signature, knee always covers
    // the threshold when coverable, and more threshold never means
    // more bands
    for (k <- Seq(8, 16, 32, 64); t <- Seq(0.2, 0.5, 0.7, 0.9)) {
      val bnd = Dedup.autoBands(k, t)
      assert(k % bnd == 0, s"k=$k t=$t b=$bnd")
      if (math.pow(1.0 / k, 1.0) <= t)
        assert(math.pow(1.0 / bnd, bnd.toDouble / k) <= t)
    }
    assert(Dedup.autoBands(16, 0.3) >= Dedup.autoBands(16, 0.6))
    // e2e: the auto default (bands = 0, threshold 0.5 over 16 hashes
    // → 8×2) equals the explicit split on the mutated-copy fixture
    val docs = Graft.table(spark, sf, "documents").limit(200)
    val mutated = docs
      .withColumn("doc_id", $"doc_id" + 1000000L)
      .withColumn("text", regexp_replace($"text", "the", "thee"))
    val input = docs.unionByName(mutated)
    def mhPairs(bands: Int) = Dedup.minhashNearDupPairs(input, "text",
        "doc_id", numHashes = 16, bands = bands, threshold = 0.5)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    assert(mhPairs(0) == mhPairs(8))

    // the cross-corpus spellings derive the same geometry: auto
    // (bands = 0) equals the explicit autoBands split at two
    // thresholds — 0.5 → 16 bands and 0.9 → 4 bands over 32 hashes
    val ref = docs.limit(40).select($"doc_id", $"text")
    for (t <- Seq(0.5, 0.9)) {
      val b = Dedup.autoBands(32, t)
      assert(if (t == 0.5) b == 16 else b == 4)
      def ov(bands: Int) = Dedup.minhashOverlap(input, ref, "text",
          "doc_id", numHashes = 32, bands = bands, threshold = t)
        .as[(Long, Double)].collect().toMap
      assert(ov(0) == ov(b), s"threshold $t")
      def deco(bands: Int) = Dedup.minhashDecontaminate(input, ref,
          "text", "doc_id", numHashes = 32, bands = bands,
          threshold = t)
        .select("doc_id").as[Long].collect().toSet
      assert(deco(0) == deco(b), s"threshold $t")
    }
  }

  test("autoPlanes sizes the SRP grid to the measured curve and the " +
      "auto default finds the same pairs as an explicit grid") {
    // anchor points of the measured sf10 scaling curve: 16 planes is
    // right at 40k clustered vectors, 24 at 400k; clamps at [8, 28]
    assert(Dedup.autoPlanes(40000L) == 16)
    assert(Dedup.autoPlanes(400000L) == 24)
    assert(Dedup.autoPlanes(100L) == 8, "small corpora clamp low")
    assert(Dedup.autoPlanes(100000000L) == 28, "huge corpora clamp high")
    // monotone: more data never gets a coarser grid
    val pts = Seq(1000L, 10000L, 100000L, 1000000L, 10000000L)
      .map(Dedup.autoPlanes)
    assert(pts == pts.sorted)
    // e2e: the auto-sized default (nPlanes = 0) must find the same
    // near-dup pairs as the explicit d11-style grid on the
    // perturbed-copy fixture (recall 1 at cos ≈ 0.9999 either way)
    val emb = Graft.table(spark, sf, "embeddings")
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("embedding"))
    val mutated = emb
      .withColumn("vec_id", $"vec_id" + 1000000L)
      .withColumn("embedding", concat(
        array(element_at($"embedding", 1) + lit(0.015625)),
        slice($"embedding", 2, 63)))
    val input = emb.unionByName(mutated)
    def pairs(planes: Int) = Dedup.embeddingNearDupPairsLsh(input,
        "embedding", "vec_id", threshold = 0.9, nPlanes = planes,
        dim = 64, nTables = 8)
      .select("vec_id_1", "vec_id_2").as[(Long, Long)].collect().toSet
    assert(pairs(0) == pairs(16),
      "auto-sized grid must match the explicit grid's pair set")
  }

  test("adversarial media blobs degrade to unknown rows, not task death") {
    import Multimodal._
    // 1) A PNG whose header DECLARES 60000×60000 (a ~14 GB raster if
    // decoded) but carries no pixel data: the dimension gate must
    // refuse the full-raster allocation and return the unknown row —
    // OutOfMemoryError is a VirtualMachineError NonFatal won't catch.
    val hugePng: Array[Byte] = {
      val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a,
        0x1a, 0x0a)
      val ihdrBody = java.nio.ByteBuffer.allocate(13)
        .putInt(60000).putInt(60000)
        .put(8.toByte).put(2.toByte) // bit depth 8, truecolor
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      val crc = new java.util.zip.CRC32()
      crc.update("IHDR".getBytes("US-ASCII")); crc.update(ihdrBody)
      sig ++ java.nio.ByteBuffer.allocate(8 + 13 + 4)
        .putInt(13).put("IHDR".getBytes("US-ASCII")).put(ihdrBody)
        .putInt(crc.getValue.toInt).array()
    }
    val img = Seq((1L, hugePng)).toDF("id", "blob")
    val r = Multimodal.decodeImagePartitions(img, "blob", "id").head
    assert(r.getAs[String]("format") == "unknown",
      "oversized declared dims must yield the unknown row")
    assert(imageDHashPartitions(img, "blob", "id").head.isNullAt(1))
    // 2) A RIFF AVI of ~60k nested 8-byte LIST headers: the chunk
    // walk must run on heap, not JVM stack — a recursive walk
    // StackOverflowErrors here (VirtualMachineError again).
    val depth = 60000
    val bomb = new java.io.ByteArrayOutputStream()
    bomb.write("RIFF".getBytes("US-ASCII"))
    val total = 4 + depth * 12
    def le(v: Int): Array[Byte] = Array((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 24) & 0xff).toByte)
    bomb.write(le(total))
    bomb.write("AVI ".getBytes("US-ASCII"))
    var remaining = depth * 12
    while (remaining > 0) {
      bomb.write("LIST".getBytes("US-ASCII"))
      bomb.write(le(remaining - 8))
      bomb.write("hdrl".getBytes("US-ASCII"))
      remaining -= 12
    }
    val vid = Seq((1L, bomb.toByteArray)).toDF("id", "blob")
    val v = Multimodal.decodeVideoPartitions(vid, "blob", "id").head
    assert(v.getAs[String]("codec") == "unknown",
      "a LIST-nesting bomb must yield the unknown row, not kill the task")
    // 3) An audio payload over the container cap is refused before
    // any decode allocation (cap lowered per-JVM is not testable
    // without reinitializing the object; assert the documented
    // default refuses nothing real — a normal fixture still decodes).
    val ok = Seq((1L, "wave", 8000, 1, 10, 5)).toDF(
        "id", "ft", "rate", "ch", "nf", "v")
      .select($"id", encodeTestAudio($"ft", $"rate", $"ch", $"nf", $"v")
        .as("blob"))
    assert(Multimodal.decodeAudioPartitions(ok, "blob", "id").head
      .getAs[String]("audio_format") == "wave")
  }

  test("d4 oracle precondition: banded-LSH recall is exactly 1 on the fixture") {
    // The d4 gate equates the (probabilistic) banded pair set with the
    // exact all-pairs jaccard>=0.5 set. That equality only holds while
    // recall is 1 on the fixture — assert the precondition here so a
    // future fixture/SF change fails THIS test diagnosably instead of
    // flaking the driver gate. Same parameters as d4 (32 hashes, 16
    // bands, threshold 0.5, docs ∪ one-word-mutated copies).
    val docs = Graft.table(spark, sf, "documents")
    val mutated = docs
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", regexp_replace(col("text"), "the", "thee"))
    val input = docs.unionByName(mutated)
    val banded = Dedup.minhashNearDupPairs(input, "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.5)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    // exact all-pairs set via the inverted-index join (no LSH stage)
    val exact = Dedup.jaccardPairsWithinBlock(
        input.withColumn("__blk", lit(1)), "text", "doc_id", "__blk",
        shingleN = 3, threshold = 0.5)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    val missed = exact -- banded
    assert(missed.isEmpty,
      s"banded LSH lost ${missed.size} exact pairs (recall < 1): " +
        s"${missed.take(5)} — re-verify the d4 oracle before trusting the gate")
    assert(banded.subsetOf(exact),
      "verified banded output must never exceed the exact set")
  }

  test("s2 oracle precondition: multi-probe LSH top-k equals exact top-k") {
    // Same reasoning as the d4 precondition: the s2 gate uses the exact
    // top-k oracle, valid only while the candidate set contains the
    // true neighbors on the fixture (8 tables × hamming<=2 probes).
    val emb = Graft.table(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 3)
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding",
        "vec_id", 5).select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val ann = Similarity.lshTopK(emb, queries, "embedding", "vec_id", 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(ann == exact,
      "LSH top-k diverged from exact top-k — the s2 oracle precondition " +
        "(candidate set ⊇ true top-k) no longer holds on this fixture")
  }

  test("q26 oracle precondition: approx_count_distinct exact at this cardinality") {
    // q26 pairs Spark's HLL++ against DuckDB's exact COUNT(DISTINCT) —
    // equality holds only while per-group cardinality stays far below
    // the sketch's error regime. Assert both the cardinality bound and
    // the exactness itself so growth fails here first.
    val li = Graft.table(spark, sf, "lineitem")
    val rows = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_linestatus").as("exact"),
        expr("approx_count_distinct(l_linestatus)").as("approx"))
      .select($"exact", $"approx").as[(Long, Long)].collect()
    assert(rows.forall(_._1 <= 16),
      "l_linestatus cardinality grew beyond the provably-exact HLL range — " +
        "restructure the q26 oracle before trusting the gate")
    assert(rows.forall(r => r._1 == r._2),
      s"approx_count_distinct != exact on fixture: ${rows.toSeq}")
  }

  test("q31 oracle precondition: percentile sketch is rank-exact at gate scale") {
    // q31's oracle equality needs rank error n/accuracy < 1 per group
    // AND agreement with the ceil(p·n) discrete-quantile convention —
    // assert both directly so data growth fails here, not at the gate
    val li = Graft.table(spark, sf, "lineitem")
    val counts = li.groupBy($"l_returnflag").count()
      .select($"count").as[Long].collect()
    assert(counts.forall(_ < 1000000L / 2),
      "group size approaching sketch accuracy — q31 oracle no longer exact")
    // check all three quartiles on BOTH columns — l_quantity's heavy
    // ties (~50 distinct values) would mask a one-rank convention
    // divergence at p=0.25/0.75, the near-unique l_extendedprice
    // cannot (ADVICE r3)
    for (valueCol <- Seq("l_quantity", "l_extendedprice");
         p <- Seq(0.25, 0.5, 0.75)) {
      val groups = li.groupBy($"l_returnflag")
        .agg(expr(s"percentile_approx($valueCol, ${p}D, 1000000)").as("pv"))
        .select($"l_returnflag", $"pv").as[(String, Double)].collect()
      groups.foreach { case (flag, pv) =>
        val vals = li.filter($"l_returnflag" === flag)
          .select(col(valueCol)).as[Double].collect().sorted
        val exact = vals(math.ceil(p * vals.length).toInt - 1)
        assert(pv == exact,
          s"sketch p$p($valueCol) $pv != exact ceil-rank quantile " +
            s"$exact for $flag")
      }
    }
  }

  test("s3 oracle precondition: full-probe IVF equals exact top-k") {
    // the s3 gate oracles the IVF path against exact cosine top-k in
    // DuckDB — sound only because nProbe == nCentroids makes the
    // candidate set the whole corpus regardless of centroid placement.
    // Assert that equivalence directly (same parameters as the gate)
    // so a partial-probe edit to s3 fails here diagnosably first.
    val emb = Graft.table(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 3)
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding",
        "vec_id", 5).select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, "embedding", "vec_id", 5,
        nCentroids = 8, nProbe = 8, maxIter = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(ivf == exact,
      "full-probe IVF must equal exact top-k — the s3 oracle " +
        "precondition (candidates = whole corpus) no longer holds")
  }

  test("ivfTopK sampled fit: full-probe invariant, partial-probe recall holds") {
    val emb = Graft.table(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    // full probe: result set is invariant to centroid placement, so a
    // 0.5-sample fit must return exactly the unsampled result
    val full = Similarity.ivfTopK(emb, queries, "embedding", "vec_id", 10,
        nCentroids = 8, nProbe = 8, maxIter = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val sampledFit = Similarity.ivfTopK(emb, queries, "embedding", "vec_id",
        10, nCentroids = 8, nProbe = 8, maxIter = 3,
        fitSampleFraction = 0.5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(sampledFit == full,
      "full-probe IVF must be invariant to the fit sample")
    // partial probe: sampled centroids still give useful recall
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding",
        "vec_id", 10).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val partial = Similarity.ivfTopK(emb, queries, "embedding", "vec_id",
        10, nCentroids = 16, nProbe = 4, fitSampleFraction = 0.5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & partial).size.toDouble / exact.size
    assert(recall >= 0.5, s"sampled-fit IVF recall $recall too low")
  }

  test("frame sampling fixture slices blobs into 16-byte frames") {
    val df = Seq("0123456789abcdef" * 8).toDF("t")
      .select(Multimodal.plumbingFixture.frameSampleStub(
        Multimodal.asBlob($"t"), stride = 2).as("frames"))
    val frames = df.head.getSeq[Array[Byte]](0)
    assert(frames.nonEmpty)
    assert(frames.head.length == 16)
  }

  test("decontaminateBloom == decontaminate even with an undersized, " +
      "high-fpp filter") {
    val corpus = (1L to 200L)
      .map(i => (i, if (i % 3 == 0) s"dup $i" else s"text $i"))
      .toDF("id", "t")
    val ref = corpus.filter($"id" % 3 === 0).select($"t")
    val exact = Dedup.decontaminate(corpus, ref, "t")
      .select("id").as[Long].collect().toSet
    // deliberately terrible sizing: ~every row gets flagged, so the
    // exact re-check is doing all the work — result must not change
    val bloomed = Dedup.decontaminateBloom(corpus, ref, "t",
        expectedRefItems = 4L, fpp = 0.5)
      .select("id").as[Long].collect().toSet
    assert(bloomed == exact)
    assert(exact == (1L to 200L).filterNot(_ % 3 == 0).toSet)
  }

  test("ngramOverlapStats counts distinct-gram hits per document") {
    val corpus = Seq((1L, "a b c d"), (2L, "x y z w"), (3L, "a b"))
      .toDF("id", "t")
    val ref = Seq("a b c").toDF("t")
    // n=3: doc1 grams {a b c, b c d} → 1 of 2 hit; doc2 none of 2;
    // doc3 is short → whole text "a b" is its one gram, no hit
    val out = Dedup.ngramOverlapStats(corpus, ref, "t", "id", n = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(out == Set((1L, 2L, 1L, 0.5), (2L, 2L, 0L, 0.0),
      (3L, 1L, 0L, 0.0)))
  }

  test("nearDupClusterStats histogram includes singletons and sums " +
      "to the corpus size") {
    val df = (1L to 10L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    // clusters {1,2,3}, {4,5}, five singletons
    val out = Dedup.nearDupClusterStats(df, pairs, "a", "b", "id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 5L, 5L), (2L, 1L, 2L), (3L, 1L, 3L)))
  }

  test("tfidfTopTerms ranks distinctive terms above ubiquitous ones") {
    val df = Seq((1L, "apple apple banana shared"),
      (2L, "cherry shared"), (3L, "durian shared shared")).toDF("id", "t")
    val out = TextAnalysis.tfidfTopTerms(df, "id", "t", k = 2)
    // 'shared' appears in every doc → idf = ln(1) = 0, never ranks
    // over a distinctive term
    val doc1 = out.filter($"id" === 1).orderBy($"rank")
      .select("term").as[String].collect().toSeq
    assert(doc1 == Seq("apple", "banana"))
    val v = out.filter($"id" === 1 && $"term" === "apple")
      .select("tfidf").as[Double].head()
    assert(math.abs(v - math.round(2 * math.log(3) * 1e6) / 1e6) < 1e-9)
  }

  test("corpusReport slices cover the corpus exactly") {
    val df = Seq((1L, "en", "a", "x y"), (2L, "en", "b", "z"),
      (3L, "de", "a", "w w w")).toDF("id", "lang", "source", "text")
    val r = TextAnalysis.corpusReport(df, "text", Seq("lang", "source"))
      .collect()
    assert(r.length == 3)
    assert(r.map(_.getAs[Long]("n_docs")).sum == 3)
    assert(r.map(_.getAs[Long]("total_tokens")).sum == 6)
    assert(math.abs(r.map(_.getAs[Double]("share_docs")).sum - 1.0) < 2e-6)
    assert(math.abs(r.map(_.getAs[Double]("share_tokens")).sum - 1.0) < 2e-6)
    val de = r.find(_.getAs[String]("lang") == "de").get
    assert(de.getAs[Long]("total_tokens") == 3 &&
      de.getAs[Long]("total_chars") == 5)
  }

  test("semanticOverlapIds flags exactly the planted paraphrases and " +
      "semanticDecontaminate drops them; reference side broadcasts") {
    val emb = Graft.table(spark, sf, "embeddings")
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("embedding"))
    // reference = every 5th vector, first coordinate nudged 2^-6:
    // cos ≈ 0.9999 to its original, ≤ ~0.61 to everything else (the
    // d11 angle-gap argument) — so threshold 0.9 must flag exactly
    // the multiples of 5, at 16 planes x 8 tables (recall ≈ 1)
    val ref = emb.filter(pmod($"vec_id", lit(5)) === 0)
      .select(concat(
        array(element_at($"embedding", 1) + lit(0.015625)),
        slice($"embedding", 2, 63)).as("embedding"))
    val flagged = Dedup.semanticOverlapIds(emb, ref, "embedding",
        "vec_id", threshold = 0.9, nPlanes = 16, dim = 64, nTables = 8)
      .as[(Long, Double)].collect()
    val want = emb.filter(pmod($"vec_id", lit(5)) === 0)
      .select("vec_id").as[Long].collect().toSet
    assert(flagged.map(_._1).toSet == want,
      "flag exactly the contaminated ids: recall 1, zero false flags")
    flagged.foreach { case (id, c) =>
      assert(c >= 0.999, s"max_cos for $id unexpectedly low: $c") }
    val kept = Dedup.semanticDecontaminate(emb, ref, "embedding",
        "vec_id", threshold = 0.9, nPlanes = 16, dim = 64, nTables = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == emb.select("vec_id").as[Long].collect().toSet -- want)
    // scale shape: the eval-set side rides a broadcast — the corpus
    // never shuffles before the map-side cosine verify
    val plan = Dedup.semanticOverlapIds(emb, ref, "embedding", "vec_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      "reference buckets must broadcast")
  }

  test("dropRepeatedLines keeps first occurrences and empty lines") {
    val df = Seq((1L, "nav\nbody one\nnav\n\n\nbody two\nnav"))
      .toDF("id", "t")
    val (clean, kept, total) = TextAnalysis
      .dropRepeatedLines(df, "id", "t")
      .as[(Long, String, Int, Int)].collect().head match {
        case (_, c, k, n) => (c, k, n)
      }
    assert(clean == "nav\nbody one\n\n\nbody two")
    assert(kept == 5 && total == 7)
  }

  test("topNgrams counts occurrences with deterministic ties") {
    val df = Seq("a b c a b c x", "a b c d", "zz").toDF("t")
    val got = TextAnalysis.topNgrams(df, "t", n = 3, k = 3)
      .as[(String, Long)].collect().toSeq
    // "a b c" occurs 3x (twice in doc1, once in doc2); the four
    // 1x grams tie and break alphabetically; "zz" is too short
    assert(got == Seq(("a b c", 3L), ("b c a", 1L), ("b c d", 1L)))
  }

  test("corpusDiff reports per-slice removal exactly") {
    val before = Seq(("en", "one two three"), ("en", "four five"),
      ("de", "sechs sieben acht")).toDF("lang", "t")
    val after = before.filter(length($"t") > 10)
    val got = TextAnalysis.corpusDiff(before, after, "t", Seq("lang"))
      .orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long, Long, Double)]
      .collect().toSeq
    assert(got == Seq(
      ("de", 1L, 3L, 1L, 3L, 0L, 0L, 0.0),
      ("en", 2L, 5L, 1L, 3L, 1L, 2L, 0.5)))
  }

  test("minhashOverlap flags exactly the contaminated docs, broadcast") {
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (1L, "pack my box with five dozen liquor jugs for the long trip north now"),
      (2L, "how vexingly quick daft zebras jump while the band plays on stage"),
      (3L, "sphinx of black quartz judge my vow said the old man by the sea"))
    val corpus = base.toDF("doc_id", "text")
    // reference = near-copies of docs 0 and 2 (one word swapped)
    val ref = Seq(
      base(0)._2.replace("runs", "walks"),
      base(2)._2.replace("plays", "played")).toDF("text")
    val flagged = Dedup.minhashOverlap(corpus, ref, "text", "doc_id",
        threshold = 0.5)
      .as[(Long, Double)].collect().toMap
    assert(flagged.keySet == Set(0L, 2L),
      s"flag the contaminated docs only: $flagged")
    flagged.values.foreach(j => assert(j > 0.5 && j < 1.0))
    val kept = Dedup.minhashDecontaminate(corpus, ref, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    // scale shape: the eval-set side broadcasts; corpus shingles
    // never shuffle before the map-side verify
    val plan = Dedup.minhashOverlap(corpus, ref, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"))
  }

  test("d23 precondition: banding recall 1 on the the→thee fixture") {
    // same recipe as the gate at sf0.001: every ≥-threshold
    // (corpus, ref) pair must survive the 16-band×2-row collision
    // filter, i.e. the flagged id set equals the exact-Jaccard one
    val spark2 = spark
    import spark2.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(pmod($"doc_id", lit(5)) === 0)
      .withColumn("text", regexp_replace($"text", "the", "thee"))
    val got = Dedup.minhashOverlap(docs, ref, "text", "doc_id",
      threshold = 0.5).select("doc_id").as[Long].collect().toSet
    // exact: inverted-index cross jaccard without any banding
    val csh = docs.select($"doc_id",
      Dedup.shingleHashes($"text").as("sh"))
    val rsh = ref.select($"doc_id".as("rid"),
      Dedup.shingleHashes($"text").as("rsh"))
    val exact = csh.crossJoin(rsh)
      .withColumn("j", Dedup.jaccard($"sh", $"rsh"))
      .filter($"j" >= 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(got == exact, "banding must lose no ≥-threshold pair here")
    assert(exact.nonEmpty)
  }

  test("normalizeUrl: case, ports, www, tracking params, fragment") {
    val cases = Seq(
      ("HTTPS://WWW.Site.Example.COM:443/A/b?utm_source=x&id=7&fbclid=z#top",
        "https://site.example.com/A/b?id=7"),
      ("http://host.example.org:80", "http://host.example.org/"),
      ("https://News.Example.net/en/story?ref=home&q=a+b",
        "https://news.example.net/en/story?q=a+b"),
      ("ftp://Files.example.com:21/pub/x.bin",
        "ftp://files.example.com:21/pub/x.bin"),
      ("http://h.example.com/p?utm_campaign=c&utm_medium=m",
        "http://h.example.com/p"),
      ("http://h.example.com:8080/p", "http://h.example.com:8080/p"),
      ("not a url", "not a url"))
    val out = cases.map(_._1).toDF("u")
      .select(operators.Urls.normalizeUrl($"u")).as[String].collect()
    assert(out.toSeq == cases.map(_._2))
    val host = Seq("https://WWW.Example.com:443/x").toDF("u")
      .select(operators.Urls.urlHost($"u")).as[String].collect().head
    assert(host == "example.com")
  }

  test("c4Clean: line rules + document rules") {
    val page = Seq(
      "This is a good sentence with enough words.", // keep
      "too short.",                                 // < 3 words
      "Please enable JavaScript to view this site.", // policy word
      "We use cookies to improve your experience!",  // policy word
      "no terminal punctuation on this line",        // bad ending
      "Another perfectly fine sentence right here?"  // keep
    ).mkString("\n")
    val df = Seq(
      (1L, page),
      (2L, page + "\nlorem ipsum dolor."),  // doc-level drop
      (3L, "code template {\nGood line here."), // doc-level drop
      (4L, "only\nbad lines\nhere")          // nothing survives
    ).toDF("id", "t")
    val out = TextAnalysis.c4Clean(df, "id", "t")
      .as[(Long, String, Int, Int)].collect()
    assert(out.map(_._1).toSeq == Seq(1L))
    val (_, clean, kept, total) = out.head
    assert(kept == 2 && total == 6)
    assert(clean == "This is a good sentence with enough words.\n" +
      "Another perfectly fine sentence right here?")
  }

  test("hashedLinearScore: exact md5-derived integer sum") {
    val df = Seq((1L, "alpha beta alpha")).toDF("id", "t")
    val out = TextAnalysis.hashedLinearScore(df, "id", "t", dim = 64)
      .as[(Long, Int, Long, Double, Boolean)].collect().head
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(md.digest(s.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    }
    def w(tok: String): Long =
      java.math.BigInteger.valueOf(h32("w" + (h32(tok) % 64)))
        .mod(java.math.BigInteger.valueOf(2001)).longValue - 1000
    val want = 2 * w("alpha") + w("beta")
    assert(out._2 == 3 && out._3 == want)
    assert(out._4 == want.toDouble / 3000.0)
    assert(out._5 == (out._4 > 0))
  }

  test("learnHashedLinear: hand-worked separable example — exact " +
      "final integer weights after two pinned GD iterations") {
    // dim=2, tokens chosen for known buckets: h32('aa')%2 = 0,
    // h32('dd')%2 = 1. Doc A = 'aa aa' (y=1, both occurrences in
    // bucket 0), doc B = 'dd dd' (y=0, bucket 1). N=2, lr=10.
    // Iteration 1 (w = [0,0]): every margin m=0, rational sigmoid
    //   sg = 0.5, residuals rA=-0.5 / rB=+0.5; per-occurrence
    //   contribution c = floor(r*1e6/2 + 0.5) = -250000 / +250000;
    //   two occurrences each: G = [-500000, +500000]; update
    //   floor(10*G/2 + 0.5) => w_micro = [2500000, -2500000].
    // Iteration 2: mA = 2*2500000/(1e6*2) = 2.5,
    //   sg = 0.5 + 0.5*(2.5/3.5) = 0.857142857..., rA = -0.142857...
    //   c = floor(-71428.57... + 0.5) = -71429, G0 = -142858,
    //   delta = floor(-714290 + 0.5) = -714290
    //   => w_micro = [3214290, -3214290] (bucket 1 mirror-symmetric)
    // Milli quantization floor(micro/1000 + 0.5) => [3214, -3214].
    val df = Seq((1L, "aa aa", 1), (2L, "dd dd", 0))
      .toDF("id", "t", "y")
    val w = TextAnalysis.learnHashedLinear(df, "t", "y", dim = 2,
      iters = 2, lr = 10.0)
    assert(w.toSeq == Seq(3214L, -3214L))
    // with one doc per class the balanced class weights are exactly
    // N/(2*N+) = N/(2*N-) = 1.0 — a bit-exact no-op on the pinned
    // arithmetic
    val wb = TextAnalysis.learnHashedLinear(df, "t", "y", dim = 2,
      iters = 2, lr = 10.0, balanced = true)
    assert(wb.toSeq == w.toSeq)
    // the trained model, applied through the production scorer,
    // separates the training docs
    val scored = TextAnalysis
      .hashedLinearScoreWith(df, "id", "t", w.toSeq)
      .orderBy("id")
      .as[(Long, Int, Long, Double, Boolean)].collect()
    assert(scored(0) == ((1L, 2, 6428L, 3.214, true)))
    assert(scored(1) == ((2L, 2, -6428L, -3.214, false)))
  }

  test("learnHashedLinear: bit-identical weights across " +
      "partitionings, and the trained model separates a synthetic " +
      "two-vocabulary corpus end-to-end") {
    val rng = new scala.util.Random(42)
    val posVocab = (0 until 40).map(i => s"good$i")
    val negVocab = (0 until 40).map(i => s"bad$i")
    def doc(v: Seq[String]) =
      (0 until (5 + rng.nextInt(10)))
        .map(_ => v(rng.nextInt(v.size))).mkString(" ")
    val docs = (0 until 60).map { i =>
      if (i % 2 == 0) (i.toLong, doc(posVocab), 1)
      else (i.toLong, doc(negVocab), 0)
    }
    val df = docs.toDF("id", "t", "y")
    val w1 = TextAnalysis.learnHashedLinear(df.repartition(1),
      "t", "y", dim = 256, iters = 5, lr = 10.0)
    val w13 = TextAnalysis.learnHashedLinear(
      df.repartition(13, col("id")), "t", "y",
      dim = 256, iters = 5, lr = 10.0)
    val wDefault = TextAnalysis.learnHashedLinear(df, "t", "y",
      dim = 256, iters = 5, lr = 10.0)
    assert(w1.toSeq == w13.toSeq && w13.toSeq == wDefault.toSeq,
      "gradient accumulation must be partition-order-free")
    assert(w1.exists(_ != 0L), "training must move the weights")
    // perfect separation on the (bucket-disjoint-by-construction
    // unless md5 collides, which dim=256 makes rare) vocabularies
    val scored = TextAnalysis
      .hashedLinearScoreWith(df, "id", "t", w1.toSeq)
      .join(df.select(col("id"), col("y")), Seq("id"))
      .select(col("y"), col("keep")).as[(Int, Boolean)].collect()
    assert(scored.forall { case (y, keep) => keep == (y == 1) },
      "trained scorer must separate the separable corpus")
    // refusal edges
    intercept[IllegalArgumentException] {
      TextAnalysis.learnHashedLinear(df, "t", "y", dim = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.learnHashedLinear(df.filter(lit(false)), "t", "y",
        dim = 8, iters = 1)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.hashedLinearScoreWith(df, "id", "t", Seq.empty)
    }
  }

  test("learnHashedLinear balanced: a rare marker class the " +
      "unbalanced trainer collapses on is learned with class " +
      "weights; single-class refusal") {
    val rng = new scala.util.Random(7)
    val common = (0 until 30).map(i => s"w$i")
    // 100 docs, 8 positives marked by one 'marker' occurrence in
    // otherwise-identical vocabulary
    val docs = (0 until 100).map { i =>
      val base = (0 until 12).map(_ =>
        common(rng.nextInt(common.size)))
      if (i < 8) (i.toLong, (base :+ "marker").mkString(" "), 1)
      else (i.toLong, base.mkString(" "), 0)
    }
    val df = docs.toDF("id", "t", "y")
    val wUnbal = TextAnalysis.learnHashedLinear(df, "t", "y",
      dim = 128, iters = 5, lr = 10.0)
    val keepsUnbal = TextAnalysis
      .hashedLinearScoreWith(df, "id", "t", wUnbal.toSeq)
      .filter(col("keep")).count()
    assert(keepsUnbal == 0,
      "the unbalanced trainer collapses to the majority prior " +
        "on an 8% class — that is the failure balanced= fixes")
    val wBal = TextAnalysis.learnHashedLinear(df, "t", "y",
      dim = 128, iters = 5, lr = 10.0, balanced = true)
    val scored = TextAnalysis
      .hashedLinearScoreWith(df, "id", "t", wBal.toSeq)
      .join(df.select(col("id"), col("y")), Seq("id"))
      .select(col("y"), col("keep")).as[(Int, Boolean)].collect()
    val tp = scored.count { case (y, k) => y == 1 && k }
    val fp = scored.count { case (y, k) => y == 0 && k }
    assert(tp >= 6, s"balanced training must recover most of the " +
      s"marker class, got tp=$tp fp=$fp")
    // determinism holds on the balanced path too
    val wBal13 = TextAnalysis.learnHashedLinear(
      df.repartition(13, col("id")), "t", "y",
      dim = 128, iters = 5, lr = 10.0, balanced = true)
    assert(wBal.toSeq == wBal13.toSeq)
    val onlyPos = df.filter(col("y") === 1)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.learnHashedLinear(onlyPos, "t", "y", dim = 8,
        iters = 1, balanced = true)
    }
    assert(e.getMessage.contains("both classes"))
  }

  test("calibrateLogits: hand-worked two-iteration fit — exact " +
      "integer (a, b); symmetric scores keep b at 0 and steepen a; " +
      "deterministic across partitionings; calibrated boundary " +
      "matches the sign of a*x+b; refusals") {
    // symmetric fixture: scores ±1, ±2 with matching labels — the
    // intercept gradient cancels exactly (b stays 0) while the slope
    // steepens. Hand-worked (same arithmetic as the scaladoc):
    // iter 1: per-row r = sg((a x + b)/1e6) - y with a=1e6, b=0 →
    //   ga = Σ floor(r·x·1e6 + .5) = -1666666 (x=±2 rows contribute
    //   floor(-333333.33..+.5)·sym, x=±1 rows floor(-250000+.5));
    //   Δa = floor(10·ga/4 + .5) = -2916665 → a = 3916665, b = 0.
    // iter 2: a = 4991180, b = 0 (exact — asserted).
    val df = Seq((2.0, 1), (1.0, 1), (-1.0, 0), (-2.0, 0))
      .toDF("s", "y")
    val (a, b) = TextAnalysis.calibrateLogits(df, "y", "s",
      iters = 2, lr = 10.0)
    assert((a, b) == ((4991180L, 0L)))
    val (a13, b13) = TextAnalysis.calibrateLogits(
      df.repartition(13, col("s")), "y", "s", iters = 2, lr = 10.0)
    assert((a13, b13) == ((a, b)),
      "fixed-point gradient sums must be partition-order-free")
    // probabilities: monotone in score, boundary at a*x+b = 0,
    // steeper than the identity calibration
    val probs = df.select(col("s"),
        TextAnalysis.calibratedProb(col("s"), a, b).as("p"))
      .orderBy(col("s")).as[(Double, Double)].collect()
    assert(probs.map(_._2).toSeq == probs.map(_._2).sorted.toSeq)
    assert(probs.forall { case (s, p) => (p > 0.5) == (s > 0) })
    val ident = df.select(TextAnalysis
        .calibratedProb(col("s"), 1000000L, 0L).as("p"))
      .orderBy(col("p")).as[Double].collect()
    assert(probs.map(_._2).max > ident.max,
      "fitting must steepen the curve on confidently-separable data")
    intercept[IllegalArgumentException] {
      TextAnalysis.calibrateLogits(df.filter(lit(false)), "y", "s")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.calibrateLogits(df, "y", "s", iters = 0)
    }
  }

  test("thresholdSweep: exact per-threshold confusion from one " +
      "scan; recall monotone non-increasing, precision reaches 1.0 " +
      "past the clean margin; unknowns counted apart; refusals") {
    // scores: positives at 0.9/0.6/0.2, negatives at 0.4/-0.3; one
    // null-score row
    val df = Seq((Some(1), Some(0.9)), (Some(1), Some(0.6)),
      (Some(1), Some(0.2)), (Some(0), Some(0.4)),
      (Some(0), Some(-0.3)), (Some(1), Option.empty[Double]))
      .toDF("y", "s")
    val sweep = TextAnalysis.thresholdSweep(df, "y", "s",
        Seq(0.5, -0.5, 0.0)) // unsorted on purpose
      .collect().map(r => r.getDouble(0) ->
        (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
          r.getAs[Long]("fn"), r.getAs[Long]("tn"),
          r.getAs[Long]("n_unknown"))).toList
    // output sorted ascending regardless of input order
    assert(sweep.map(_._1) == List(-0.5, 0.0, 0.5))
    assert(sweep(0)._2 == ((3L, 2L, 0L, 0L, 1L))) // t=-0.5 keeps all
    assert(sweep(1)._2 == ((3L, 1L, 0L, 1L, 1L))) // t=0: -0.3 dropped
    assert(sweep(2)._2 == ((2L, 0L, 1L, 2L, 1L))) // t=0.5: clean
    val rows = TextAnalysis.thresholdSweep(df, "y", "s",
        Seq(-1.0, -0.5, 0.0, 0.3, 0.5, 1.0)).collect()
    val recalls = rows.map(_.getAs[Double]("recall")).toSeq
    assert(recalls == recalls.sorted.reverse,
      s"recall must be monotone non-increasing in threshold: $recalls")
    assert(rows.find(_.getDouble(0) == 0.5).get
      .getAs[Double]("precision") == 1.0)
    // a threshold above every score: no predictions → precision NULL
    val top = rows.find(_.getDouble(0) == 1.0).get
    assert(top.isNullAt(top.fieldIndex("precision")))
    intercept[IllegalArgumentException] {
      TextAnalysis.thresholdSweep(df, "y", "s", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.thresholdSweep(df, "y", "s", Seq(0.1, 0.1))
    }
  }

  test("classifierReport: exact hand-built confusion counts and " +
      "single-division metrics; null rows count apart as unknown; " +
      "degenerate slices read NULL, not NaN; per-group twin") {
    val rows = Seq(
      // (src, y, keep): a = 2tp 1fp 1fn 1tn, b = all-negative preds
      ("a", Some(1), Some(true)), ("a", Some(1), Some(true)),
      ("a", Some(0), Some(true)), ("a", Some(1), Some(false)),
      ("a", Some(0), Some(false)),
      ("b", Some(1), Some(false)), ("b", Some(0), Some(false)),
      // unknowns: null label / null prediction
      ("b", None, Some(true)), ("b", Some(1), None))
    val df = rows.toDF("src", "y", "keep")
    val global = TextAnalysis.classifierReport(df, "y", "keep")
      .collect().head
    assert((global.getAs[Long]("n_rows"),
      global.getAs[Long]("n_unknown"), global.getAs[Long]("tp"),
      global.getAs[Long]("fp"), global.getAs[Long]("fn"),
      global.getAs[Long]("tn")) == ((9L, 2L, 2L, 1L, 2L, 2L)))
    assert(global.getAs[Double]("accuracy") == 4.0 / 7)
    assert(global.getAs[Double]("precision") == 2.0 / 3)
    assert(global.getAs[Double]("recall") == 0.5)
    assert(global.getAs[Double]("f1") == 4.0 / 7) // 2*2/(4+1+2)
    val per = TextAnalysis.classifierReport(df, "y", "keep",
        by = Seq("src")).orderBy("src").collect()
    val b = per(1)
    assert(b.getAs[Long]("n_unknown") == 2 &&
      b.getAs[Long]("tp") == 0)
    assert(b.isNullAt(b.fieldIndex("precision")),
      "no positive predictions → precision NULL, not NaN")
    assert(b.getAs[Double]("recall") == 0.0)
    assert(b.getAs[Double]("f1") == 0.0)
    // a slice that is ALL unknown → every metric null
    val allU = Seq(("x", Option.empty[Int], Option.empty[Boolean]))
      .toDF("src", "y", "keep")
    val u = TextAnalysis.classifierReport(allU, "y", "keep")
      .collect().head
    assert(u.getAs[Long]("n_unknown") == 1 &&
      u.isNullAt(u.fieldIndex("accuracy")) &&
      u.isNullAt(u.fieldIndex("f1")))
    // boolean 0/1 label spelling also accepted
    val bl = Seq((true, true), (false, true)).toDF("y", "keep")
    val r2 = TextAnalysis.classifierReport(bl, "y", "keep")
      .collect().head
    assert(r2.getAs[Long]("tp") == 1 && r2.getAs[Long]("fp") == 1)
  }

  test("editDistancePairs == brute-force levenshtein (recall 1)") {
    // deterministic fixture: base strings over a small alphabet plus
    // seeded 1- and 2-edit mutants (substitution / deletion /
    // insertion), lengths straddling the k+1 segment boundaries
    val rng = new scala.util.Random(7)
    val alpha = "abcd"
    def rand(n: Int) =
      (1 to n).map(_ => alpha(rng.nextInt(alpha.length))).mkString
    val bases = (0 until 25).map(i => rand(6 + rng.nextInt(30)))
    def mutate(s: String): String = rng.nextInt(3) match {
      case 0 => // substitution
        val p = rng.nextInt(s.length)
        s.updated(p, alpha(rng.nextInt(alpha.length)))
      case 1 => s.patch(rng.nextInt(s.length), Nil, 1) // deletion
      case _ => // insertion
        s.patch(rng.nextInt(s.length + 1),
          Seq(alpha(rng.nextInt(alpha.length))), 0)
    }
    val docs = bases.zipWithIndex.flatMap { case (s, i) =>
      Seq((i.toLong, s), (i + 1000L, mutate(s)),
        (i + 2000L, mutate(mutate(s))))
    }
    val df = docs.toDF("id", "t")
    val got = Dedup.editDistancePairs(df, "t", "id", maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (i1, t1) <- docs; (i2, t2) <- docs if i1 < i2
      d = lev(t1, t2) if d <= 2
    } yield (i1, i2, d)).toSet
    assert(want.nonEmpty && want.exists(_._3 == 1) &&
      want.exists(_._3 == 2), "fixture must exercise dist 1 and 2")
    assert(got == want, "PassJoin blocking must lose no pair")
    // shape: candidate generation is an equi-join on segment keys,
    // never a cartesian product
    val plan = Dedup.editDistancePairs(df, "t", "id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), "no all-pairs scan")
  }

  test("stripHtml: block strip, tag strip, single-pass entity decode " +
      "with &amp; last") {
    val html = "<p>a&nbsp;b</p><script>if(x<y){z(\"</div>\")}</script>" +
      "<!-- c\nd -->&amp;lt;e&amp;gt; &quot;q&quot; &apos;s&#39;"
    val got = Seq(html).toDF("t")
      .select(TextAnalysis.stripHtml($"t")).as[String].head()
    assert(got == "a b &lt;e&gt; \"q\" 's'",
      s"script body (with fake close tag), comment across lines, " +
        s"tags, nbsp, and one-level entity decode; got: $got")
  }

  test("dropRepeatedSpans: later occurrence loses exactly the run; " +
      "first kept byte-identical; short docs untouched") {
    val shared = (1 to 6).map(i => s"s$i").mkString(" ") // 6 shared tokens
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),     // first occurrence — keeps
      (2L, s"delta epsilon $shared zeta"),   // later — loses the run
      (3L, "tiny doc"),                      // < L tokens, untouched
      (4L, "nothing shared here at all six") // no dup grams, untouched
    ).toDF("id", "t")
    val m = Dedup.dropRepeatedSpans(docs, "t", "id", spanTokens = 6)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
      .toMap
    assert(m(1L) == (s"alpha beta $shared gamma", 0L),
      "globally-first occurrence byte-identical")
    assert(m(2L) == (s"delta epsilon zeta", 6L),
      "later occurrence loses exactly the 6-token repeated run")
    assert(m(3L) == ("tiny doc", 0L))
    assert(m(4L) == ("nothing shared here at all six", 0L))
  }

  test("dropRepeatedSpans: within-doc self-repeat drops the later copy") {
    val run = (1 to 5).map(i => s"r$i").mkString(" ")
    val docs = Seq((7L, s"$run x $run y")).toDF("id", "t")
    val m = Dedup.dropRepeatedSpans(docs, "t", "id", spanTokens = 5)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
      .toMap
    assert(m(7L) == (s"$run x y", 5L),
      "second in-doc occurrence of the 5-token run removed")
  }

  test("dropRepeatedSpans: overlapping marked spans union (full-dup " +
      "doc empties, M>L run loses M tokens)") {
    val run = (1 to 8).map(i => s"w$i").mkString(" ") // M=8 > L=5
    val docs = Seq(
      (1L, s"head $run tail"),
      (2L, s"other prefix $run other suffix"),
      (3L, "a b c d e f"), (4L, "a b c d e f") // exact dup, 6 toks
    ).toDF("id", "t")
    val m = Dedup.dropRepeatedSpans(docs, "t", "id", spanTokens = 5)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
      .toMap
    assert(m(2L) == ("other prefix other suffix", 8L),
      "M-token repeated run (M > L) fully removed via 4 marked grams")
    assert(m(4L) == ("", 6L), "full-duplicate doc empties")
    assert(m(3L) == ("a b c d e f", 0L), "first full copy kept")
  }

  test("dedupParagraphs: keep-first across docs and within doc; " +
      "empty paragraphs exempt; untouched docs byte-identical") {
    val docs = Seq(
      (1L, "own one\nfooter text\n\nbody a"),   // first footer — keeps
      (2L, "own two\nfooter text\nbody b"),     // later doc — drops
      (3L, "own three\nfooter text\nfooter text"), // both later — drop
      (4L, "solo paragraph")                    // untouched
    ).toDF("id", "t")
    val m = Dedup.dedupParagraphs(docs, "t", "id")
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
      .toMap
    assert(m(1L) == ("own one\nfooter text\n\nbody a", 0L),
      "first occurrence doc untouched, empty para survives")
    assert(m(2L) == ("own two\nbody b", 1L))
    assert(m(3L) == ("own three", 2L),
      "both later occurrences drop, incl. the within-doc second")
    assert(m(4L) == ("solo paragraph", 0L))
  }

  test("dedupParagraphs: empty paragraphs never dedup against each " +
      "other; plans stay join+agg (no cartesian)") {
    val docs = Seq(
      (1L, "a\n\n\nb"), (2L, "c\n\n\nd")).toDF("id", "t")
    val out = Dedup.dedupParagraphs(docs, "t", "id")
    val m = out.collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(m(1L) == ("a\n\n\nb", 0L) && m(2L) == ("c\n\n\nd", 0L),
      "repeated empty paragraphs are structure, not content")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), "no all-pairs scan")
    val planSpans = Dedup.dropRepeatedSpans(docs, "t", "id", 5)
      .queryExecution.executedPlan.toString
    assert(!planSpans.contains("Cartesian"), "no all-pairs scan")
  }

  test("winnowingFingerprints: shared-run guarantee, rightmost ties, " +
      "short docs") {
    // n=5, w=4: any shared run of >= w+n-1 = 8 tokens must share a
    // fingerprint VALUE between the two docs (the Schleimer guarantee)
    val shared = "q1 q2 q3 q4 q5 q6 q7 q8"
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared a4 a5"),
      (2L, s"b1 $shared b2 b3 b4 b5"),
      (3L, "x x x x x x x x x"), // 9 tokens, 5 identical gram hashes
      (4L, "s1 s2 s3 s4 s5 s6"), // 2 grams < w → single min-of-all
      (5L, "t1 t2 t3")           // < n tokens → no fingerprints
    ).toDF("id", "t")
    val fp = Dedup.winnowingFingerprints(docs, "t", "id", 5, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def of(id: Long) = fp.filter(_._1 == id)
    assert(of(1L).map(_._3).toSet.intersect(of(2L).map(_._3).toSet)
      .nonEmpty, "8-token shared run must collide on a fingerprint")
    // all-equal hashes: every window picks its RIGHTMOST position —
    // starts 0 and 1 select positions 3 and 4, nothing else
    assert(of(3L).map(_._2).toSet == Set(3L, 4L))
    assert(of(3L).map(_._3).distinct.length == 1)
    assert(of(4L).length == 1, "short doc = one min-of-all selection")
    assert(of(5L).isEmpty, "sub-n doc has no grams")
    // fingerprint density ~2/(w+1): never more selections than windows
    val n1 = of(1L).length
    assert(n1 >= 1 && n1 <= 9, s"density out of range: $n1")
  }

  test("winnowOverlapStats/winnowDecontaminate: partial-overlap " +
      "contamination, broadcast reference") {
    // 10-token eval passage: >= w+n-1 = 8 tokens, so any doc quoting
    // it must share a fingerprint with the reference (MOSS guarantee)
    val passage = "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"
    val corpus = Seq(
      (1L, s"c1 c2 c3 $passage c4 c5"), // quotes the passage → hit
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), // novel → clean
      (3L, passage) // verbatim copy → every fingerprint shared
    ).toDF("id", "t")
    val ref = Seq((100L, passage)).toDF("id", "t")
    val stats = Dedup.winnowOverlapStats(corpus, ref, "t", "id", 5, 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(stats.keySet == Set(1L, 3L), "quoting docs hit, novel doc clean")
    assert(stats(1L)._2 >= 1, "shared-run guarantee: at least one shared fp")
    assert(stats(3L)._1 == stats(3L)._2 && stats(3L)._3 == 1.0,
      "verbatim copy shares its entire fingerprint set")
    val kept = Dedup.winnowDecontaminate(corpus, ref, "t", "id", 5, 4, 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
    val plan = Dedup.winnowOverlapStats(corpus, ref, "t", "id", 5, 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "reference side broadcasts")
    assert(!plan.contains("Cartesian"), "no all-pairs scan")
  }

  test("exciseContamination: cuts exactly the shared run, clean docs " +
      "byte-identical, full coverage empties") {
    val evalq = "e1 e2 e3 e4 e5 e6 e7 e8" // the 8-token eval passage
    val corpus = Seq(
      (1L, s"a1 a2 $evalq a3 a4"), // quotes it mid-doc
      (2L, "b1 b2  b3\tb4"), // clean, odd whitespace preserved
      (3L, evalq) // is only the passage
    ).toDF("id", "t")
    val ref = Seq(s"x1 $evalq x2").toDF("t")
    val out = Dedup.exciseContamination(corpus, ref, "t", "id", n = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // hits at pos 2..5 cover [2,10) — exactly e1..e8, boundary grams
    // straddle novel context and never match
    assert(out(1L) == (("a1 a2 a3 a4", 8L)))
    assert(out(2L) == (("b1 b2  b3\tb4", 0L)), "clean doc byte-identical")
    assert(out(3L) == (("", 8L)), "wholly-covered doc empties")
    val plan = Dedup.exciseContamination(corpus, ref, "t", "id", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "reference gram set broadcasts")
    assert(!plan.contains("Cartesian"), "no all-pairs scan")
  }

  test("winnowClusters: quote chains connect, minShared damps, " +
      "stop-fingerprint cap") {
    val p1 = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    val p2 = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    val docs = Seq(
      (1L, s"x1 x2 $p1 x3"), // quotes p1
      (2L, s"$p1 y1 y2 $p2"), // bridges: quotes p1 AND p2
      (3L, s"z1 $p2 z2 z3"), // quotes p2 — linked to 1 only via 2
      (4L, "q1 q2 q3 q4 q5 q6 q7 q8 q9") // unrelated
    ).toDF("id", "t")
    val comps = Dedup.winnowClusters(docs, "t", "id", 5, 4,
        minShared = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.keySet == Set(1L, 2L, 3L), "unrelated doc absent")
    assert(comps.values.toSet.size == 1,
      "the quote chain closes into ONE component")
    assert(comps(1L) == 1L && comps(3L) == 1L, "min-id component label")
    // a high minShared breaks the weakest link first
    val strict = Dedup.winnowClusters(docs, "t", "id", 5, 4,
        minShared = 100)
      .collect()
    assert(strict.isEmpty, "no pair shares 100 fingerprints")
    // stop-fingerprint cap: every fp here occurs in <= 3 docs, so
    // maxDf = 3 changes nothing; maxDf = 1 kills all shared fps
    val capped = Dedup.winnowClusters(docs, "t", "id", 5, 4,
        minShared = 1, maxDf = 1).collect()
    assert(capped.isEmpty, "df cap drops every shared fingerprint")
  }

  test("containmentOverlap: reference-denominator fraction, argmax " +
      "ties, Jaccard-invisible quote caught") {
    // a 40-token page fully quoting a 6-token eval doc: containment
    // 1.0, Jaccard ~0.1 — the asymmetric metric is the point
    val evalq = "e1 e2 e3 e4 e5 e6"
    val filler = (1 to 34).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$filler $evalq"), // quotes ref 100 fully
      (2L, "u1 u2 u3 u4 u5"), // clean
      (3L, evalq) // verbatim: ties refs 100 and 101 → min ref id wins
    ).toDF("id", "t")
    val ref = Seq((100L, evalq), (101L, evalq)).toDF("rid", "t")
    val got = Dedup.containmentOverlap(corpus, ref, "t", "id", "rid",
        shingleN = 3, threshold = 0.9)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // evalq has 4 distinct trigram shingles, all inside doc 1 and 3
    assert(got.keySet == Set(1L, 3L))
    assert(got(1L) == ((100L, 4L, 1.0)))
    assert(got(3L) == ((100L, 4L, 1.0)), "tie resolves to min ref id")
    val plan = Dedup.containmentOverlap(corpus, ref, "t", "id", "rid",
        shingleN = 3, threshold = 0.9)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "reference index broadcasts")
    assert(!plan.contains("Cartesian"), "no all-pairs scan")
    intercept[IllegalArgumentException] {
      Dedup.containmentOverlap(corpus, ref, "t", "id", "id")
    }
  }

  test("containmentPairs: catches the contained half Jaccard misses") {
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val half = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, long, "en"), (2L, half, "en"),
      (3L, long, "de") // other block: never pairs with 1/2
    ).toDF("id", "t", "blk")
    val got = Dedup.containmentPairs(docs, "t", "id", "blk",
      shingleN = 3, threshold = 0.9).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // half has 18 trigram shingles, all inside long's 38
    assert(r.getLong(2) == 18L)
    assert(math.abs(r.getDouble(3) - 18.0 / 38) < 1e-12)
    assert(r.getDouble(4) == 1.0)
    // the same pair is invisible to Jaccard at the same threshold
    val jac = Dedup.jaccardPairsWithinBlock(docs, "t", "id", "blk",
      shingleN = 3, threshold = 0.9).collect()
    assert(jac.isEmpty, "Jaccard 18/38 < 0.9 — containment-only pair")
  }

  test("learnHashedLinear ngrams=2: word-order corpus unigrams " +
      "cannot separate, bigrams do; feature count = 2n-1; " +
      "deterministic across partitionings; ngrams refusal") {
    // every doc is the SAME bag of words — only the order differs:
    // positives 'up down up down ...', negatives 'down up down up
    // ...'. Unigram features are identical across classes by
    // construction, so no linear model on them can separate;
    // bigram features ('up down' vs 'down up') separate trivially.
    val docs = (0 until 40).map { i =>
      val words = if (i % 2 == 0) Seq("up", "down") else Seq("down", "up")
      (i.toLong, Seq.fill(6)(words).flatten.mkString(" "), i % 2 ^ 1)
    }
    val df = docs.toDF("id", "t", "y")
    val wUni = TextAnalysis.learnHashedLinear(df, "t", "y", dim = 64,
      iters = 5, lr = 10.0)
    val uniScored = TextAnalysis
      .hashedLinearScoreWith(df, "id", "t", wUni.toSeq)
      .join(df.select($"id", $"y"), Seq("id"))
      .select($"y", $"keep").as[(Int, Boolean)].collect()
    assert(!uniScored.forall { case (y, k) => k == (y == 1) },
      "unigram features see identical bags — separation impossible")
    val wBi = TextAnalysis.learnHashedLinear(df, "t", "y", dim = 64,
      iters = 5, lr = 10.0, ngrams = 2)
    val biScored = TextAnalysis
      .hashedLinearScoreWith(df, "id", "t", wBi.toSeq, ngrams = 2)
      .join(df.select($"id", $"y"), Seq("id"))
      .select($"y", $"keep").as[(Int, Boolean)].collect()
    assert(biScored.forall { case (y, k) => k == (y == 1) },
      "bigram features must separate the word-order corpus")
    // n_tokens counts FEATURES under ngrams=2: 12 tokens -> 23
    val nf = TextAnalysis
      .hashedLinearScoreWith(df.limit(1), "id", "t", wBi.toSeq,
        ngrams = 2)
      .select($"n_tokens").as[Int].head()
    assert(nf == 23, s"12 tokens -> 12 + 11 features, got $nf")
    // single-token doc: no bigrams, feature count 1, still scores
    val one = Seq((9L, "solo")).toDF("id", "t")
    assert(TextAnalysis
      .hashedLinearScoreWith(one, "id", "t", wBi.toSeq, ngrams = 2)
      .select($"n_tokens").as[Int].head() == 1)
    // integer-gradient determinism holds on the bigram path
    val wBi13 = TextAnalysis.learnHashedLinear(
      df.repartition(13, $"id"), "t", "y", dim = 64, iters = 5,
      lr = 10.0, ngrams = 2)
    assert(wBi.toSeq == wBi13.toSeq)
    intercept[IllegalArgumentException] {
      TextAnalysis.learnHashedLinear(df, "t", "y", dim = 8, ngrams = 3)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.hashedLinearScoreWith(df, "id", "t", wBi.toSeq,
        ngrams = 0)
    }
  }

  test("DedupIndex.writeLinear/readLinear: trained weights (+ " +
      "calibration) round-trip; frozen artifact scores identically; " +
      "dim/ngrams/kind refusals; errorifexists") {
    import graft.operators.DedupIndex
    val df = (0 until 30).map { i =>
      if (i % 3 == 0) (i.toLong, "good tokens here marker", 1)
      else (i.toLong, "plain filler words only", 0)
    }.toDF("id", "t", "y")
    val w = TextAnalysis.learnHashedLinear(df, "t", "y", dim = 32,
      iters = 3, lr = 10.0, balanced = true)
    val scored = TextAnalysis.hashedLinearScoreWith(df, "id", "t",
        w.toSeq)
      .join(df.select($"id", $"y"), Seq("id"))
    val (a, b) = TextAnalysis.calibrateLogits(scored, "y", "logit",
      iters = 3, lr = 10.0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-linear").toString
    // calibrated artifact round trip
    val cp = s"$dir/cal"
    DedupIndex.writeLinear(spark, w.toSeq, cp,
      calibration = Some((a, b)))
    val (wBack, calBack) = DedupIndex.readLinear(spark, cp, dim = 32)
    assert(wBack.toSeq == w.toSeq)
    assert(calBack.contains((a, b)))
    // frozen-model contract: the read-back artifact scores (and
    // calibrates) EXACTLY like the in-memory model
    val before = TextAnalysis.hashedLinearScoreWith(df, "id", "t",
        w.toSeq)
      .withColumn("p", TextAnalysis.calibratedProb($"logit", a, b))
      .orderBy($"id").collect().toSeq
    val after = TextAnalysis.hashedLinearScoreWith(df, "id", "t",
        wBack.toSeq)
      .withColumn("p", TextAnalysis.calibratedProb($"logit",
        calBack.get._1, calBack.get._2))
      .orderBy($"id").collect().toSeq
    assert(before == after)
    // uncalibrated artifact reads back None
    val up = s"$dir/uncal"
    DedupIndex.writeLinear(spark, w.toSeq, up)
    assert(DedupIndex.readLinear(spark, up, dim = 32)._2.isEmpty)
    // ngrams pins the FEATURE SPACE: a bigram model read as unigram
    // (or vice versa) would score garbage silently
    val bp = s"$dir/bi"
    DedupIndex.writeLinear(spark, w.toSeq, bp, ngrams = 2)
    intercept[IllegalArgumentException] {
      DedupIndex.readLinear(spark, bp, dim = 32) // default ngrams=1
    }
    assert(DedupIndex.readLinear(spark, bp, dim = 32, ngrams = 2)
      ._1.toSeq == w.toSeq)
    // geometry + kind refusals
    intercept[IllegalArgumentException] {
      DedupIndex.readLinear(spark, cp, dim = 64)
    }
    intercept[IllegalArgumentException] {
      DedupIndex.readExact(spark, cp) // wrong kind
    }
    // frozen artifact: double write refused
    intercept[Exception] {
      DedupIndex.writeLinear(spark, w.toSeq, cp)
    }
    // empty / bad-ngrams writes refused
    intercept[IllegalArgumentException] {
      DedupIndex.writeLinear(spark, Seq.empty, s"$dir/e")
    }
    intercept[IllegalArgumentException] {
      DedupIndex.writeLinear(spark, w.toSeq, s"$dir/n", ngrams = 3)
    }
  }

  test("DedupIndex.writePq(rotation=): OPQ flag pinned in the PQ " +
      "sidecar — full lifecycle through the artifact pair, rotated " +
      "append, rotated/unrotated refusals both ways") {
    import graft.operators.DedupIndex
    val emb = Graft.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 =!= 0)
    val queries = emb.filter($"vec_id" < 3)
    val rot = Similarity.fitOpqRotation(emb, "embedding", dim = 64,
      m = 8, nCodes = 4, iters = 2, maxFitRows = 512)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pqopq").toString
    val rp = s"$dir/rot"
    DedupIndex.writeRotation(spark, rot, rp)
    val r = DedupIndex.readRotation(spark, rp, 64)

    // rotated build on the even half + rotated append of the odd
    // half; full-candidate query through the artifact pair must
    // equal exact brute force over the WHOLE corpus (the re-rank
    // never sees the rotation)
    val pp = s"$dir/pq"
    DedupIndex.writePq(even, "embedding", "vec_id", pp, dim = 64,
      m = 8, nCodes = 4, maxIter = 2, rotation = Some(r))
    DedupIndex.appendPq(odd, "embedding", "vec_id", pp, dim = 64,
      m = 8, nCodes = 4, rotation = Some(r))
    val (codes, cb) = DedupIndex.readPq(spark, pp, dim = 64, m = 8,
      nCodes = 4, expectRotated = true)
    assert(codes.count() == emb.count())
    val got = Similarity.pqTopKFromIndex(codes, cb, emb, queries,
        "embedding", "vec_id", 5, dim = 64, nCandidates = 100000,
        rotation = Some(r))
      .collect().map(_.toString).sorted.toSeq
    val want = Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", 5).collect().map(_.toString).sorted.toSeq
    assert(got == want,
      "full-budget rotated PQ through the artifacts must be exact")

    // the silent-garbage paths are now refusals, both directions
    val e1 = intercept[IllegalArgumentException] {
      DedupIndex.readPq(spark, pp, dim = 64, m = 8, nCodes = 4)
    }
    assert(e1.getMessage.contains("OPQ-ROTATED"))
    intercept[IllegalArgumentException] {
      DedupIndex.appendPq(odd, "embedding", "vec_id", pp, dim = 64,
        m = 8, nCodes = 4) // rotated index, no rotation passed
    }
    val up = s"$dir/plain"
    DedupIndex.writePq(even, "embedding", "vec_id", up, dim = 64,
      m = 8, nCodes = 4, maxIter = 2)
    val e2 = intercept[IllegalArgumentException] {
      DedupIndex.readPq(spark, up, dim = 64, m = 8, nCodes = 4,
        expectRotated = true)
    }
    assert(e2.getMessage.contains("WITHOUT"))
    intercept[IllegalArgumentException] {
      DedupIndex.appendPq(odd, "embedding", "vec_id", up, dim = 64,
        m = 8, nCodes = 4, rotation = Some(r))
    }
  }

  test("thresholdSweep by=: per-group confusion equals each group's " +
      "standalone sweep — group isolation, one scan") {
    val rows = Seq(
      // group a: clean separation at 0.5
      ("a", 1, 0.9), ("a", 1, 0.7), ("a", 0, 0.3), ("a", 0, 0.1),
      // group b: noisier — a positive below 0.5, a negative above
      ("b", 1, 0.8), ("b", 1, 0.2), ("b", 0, 0.6), ("b", 0, 0.1))
    val df = rows.toDF("src", "y", "s")
    val ts = Seq(0.0, 0.5)
    val keyed = TextAnalysis.thresholdSweep(df, "y", "s", ts,
        by = Seq("src"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
          r.getAs[Long]("fn"), r.getAs[Long]("tn"))).toMap
    for (g <- Seq("a", "b")) {
      val solo = TextAnalysis.thresholdSweep(
          df.filter($"src" === g), "y", "s", ts)
        .collect()
        .map(r => r.getDouble(0) ->
          (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
            r.getAs[Long]("fn"), r.getAs[Long]("tn"))).toMap
      for (t <- ts) assert(keyed((g, t)) == solo(t),
        s"group $g at $t must match its standalone sweep")
    }
    assert(keyed(("a", 0.5)) == ((2L, 0L, 0L, 2L)))
    assert(keyed(("b", 0.5)) == ((1L, 1L, 1L, 1L)))
  }

  test("corpusDelta: added/removed/changed/unchanged by content " +
      "digest; null text classifies correctly; summary via groupBy") {
    val before = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
      (4L, Option.empty[String].orNull), (5L, "eps"))
      .toDF("id", "t")
    val after = Seq((1L, "alpha"), (2L, "beta CHANGED"),
      (4L, Option.empty[String].orNull), (5L, "eps2"),
      (6L, "new"), (7L, Option.empty[String].orNull))
      .toDF("id", "t")
    val got = Dedup.corpusDelta(before, after, "id", "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", // null text both sides: null <=> null
      5L -> "changed", 6L -> "added", 7L -> "added"))
    // null → text counts as changed, not a null-digest artifact
    val after2 = Seq((4L, "now present")).toDF("id", "t")
    assert(Dedup.corpusDelta(before.filter($"id" === 4), after2,
      "id", "t").collect().head.getString(1) == "changed")
    // the summary is one groupBy away
    val sum = Dedup.corpusDelta(before, after, "id", "t")
      .groupBy($"status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum == Map("unchanged" -> 2L, "changed" -> 2L,
      "removed" -> 1L, "added" -> 2L))
  }

  test("aucReport: hand-worked tie-handling (5/6), perfect=1, " +
      "reversed=0, unknowns apart, single-class NULL, per-group " +
      "isolation, partitioning determinism") {
    // pos scores 0.9, 0.5, 0.5; neg scores 0.5, 0.1 → of the 6
    // (pos, neg) pairs: 4 wins + 2 half-credit ties = 5 → AUC 5/6
    val df = Seq((1, 0.9), (1, 0.5), (1, 0.5), (0, 0.5), (0, 0.1))
      .toDF("y", "s")
    val r = TextAnalysis.aucReport(df, "y", "s").collect().head
    assert((r.getAs[Long]("n_rows"), r.getAs[Long]("n_unknown"),
      r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg")) ==
      ((5L, 0L, 3L, 2L)))
    assert(r.getAs[Double]("auc") == 5.0 / 6.0)
    // determinism across partitionings (rank prefix sums are exact)
    val r13 = TextAnalysis.aucReport(df.repartition(13, $"s"),
      "y", "s").collect().head
    assert(r13.getAs[Double]("auc") == 5.0 / 6.0)
    // perfect / reversed / coin-flip
    val sep = Seq((1, 2.0), (1, 1.5), (0, 1.0), (0, 0.5)).toDF("y", "s")
    assert(TextAnalysis.aucReport(sep, "y", "s")
      .collect().head.getAs[Double]("auc") == 1.0)
    val rev = sep.withColumn("s", -$"s")
    assert(TextAnalysis.aucReport(rev, "y", "s")
      .collect().head.getAs[Double]("auc") == 0.0)
    val flat = Seq((1, 0.7), (0, 0.7)).toDF("y", "s")
    assert(TextAnalysis.aucReport(flat, "y", "s")
      .collect().head.getAs[Double]("auc") == 0.5)
    // null score / null label / non-0-1 label count apart
    val withU = Seq((Some(1), Some(0.9)), (Some(0), Some(0.1)),
      (None, Some(0.5)), (Some(1), Option.empty[Double]),
      (Some(7), Some(0.5)))
      .toDF("y", "s")
    val u = TextAnalysis.aucReport(withU, "y", "s").collect().head
    assert((u.getAs[Long]("n_rows"), u.getAs[Long]("n_unknown"),
      u.getAs[Long]("n_pos"), u.getAs[Long]("n_neg")) ==
      ((5L, 3L, 1L, 1L)))
    assert(u.getAs[Double]("auc") == 1.0)
    // single-class group reads NULL, never NaN
    val onePos = Seq((1, 0.3), (1, 0.8)).toDF("y", "s")
    val n1 = TextAnalysis.aucReport(onePos, "y", "s").collect().head
    assert(n1.isNullAt(n1.fieldIndex("auc")))
    // per-group twin: each group equals its standalone report
    val grouped = Seq(("a", 1, 0.9), ("a", 0, 0.1), ("b", 1, 0.2),
      ("b", 0, 0.8)).toDF("src", "y", "s")
    val byRows = TextAnalysis.aucReport(grouped, "y", "s",
        by = Seq("src")).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("auc")).toMap
    assert(byRows == Map("a" -> 1.0, "b" -> 0.0))
    // a NULL group key is a legitimate group: its stats/offsets must
    // null-safe-join back (a plain equality would silently corrupt
    // the prefix sums), with unknown rows counted apart as usual
    val nullKeyed = Seq(
      (Option.empty[String], Some(1), Some(0.5)),
      (Option.empty[String], Some(0), Some(0.2)),
      (Option.empty[String], Option.empty[Int], Some(0.1)),
      (Some("a"), Some(1), Some(0.9)), (Some("a"), Some(0), Some(0.95)))
      .toDF("src", "y", "s")
    val nk = TextAnalysis.aucReport(nullKeyed, "y", "s",
        by = Seq("src")).collect()
      .map(r => Option(r.getString(0)) ->
        (r.getAs[Long]("n_unknown"), r.getAs[Double]("auc"))).toMap
    assert(nk(None) == ((1L, 1.0)),
      s"null group must equal its standalone report, got ${nk(None)}")
    assert(nk(Some("a")) == ((0L, 0.0)))
    val nkp = TextAnalysis.prAucReport(nullKeyed, "y", "s",
        by = Seq("src")).collect()
      .map(r => Option(r.getString(0)) ->
        r.getAs[Double]("pr_auc")).toMap
    assert(nkp(None) == 1.0 && nkp(Some("a")) == 0.5)
    // the quantize knob ≡ pre-rounding the score column yourself
    // (here it also merges two near-ties into one block, so the
    // knob demonstrably changes the rank table, not just the plan)
    val fine = Seq((1, 0.123456), (0, 0.123004), (1, 0.987654),
      (0, 0.4)).toDF("y", "s")
    assert(TextAnalysis.aucReport(fine, "y", "s",
        quantizeDecimals = Some(2)).collect().head.toSeq ==
      TextAnalysis.aucReport(fine.withColumn("s", round($"s", 2)),
        "y", "s").collect().head.toSeq)
    assert(TextAnalysis.prAucReport(fine, "y", "s",
        quantizeDecimals = Some(2)).collect().head.toSeq ==
      TextAnalysis.prAucReport(fine.withColumn("s", round($"s", 2)),
        "y", "s").collect().head.toSeq)
    intercept[IllegalArgumentException] {
      TextAnalysis.aucReport(fine, "y", "s",
        quantizeDecimals = Some(-1))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.prAucReport(fine, "y", "s",
        quantizeDecimals = Some(-1))
    }
  }

  test("prAucReport: hand-worked average precision with ties, " +
      "perfect=1, all-positive=1, no-positive NULL, unknowns apart, " +
      "per-group isolation, partitioning determinism") {
    // nano-unit term exactly as the operator computes it: the
    // expected values below are hand-worked through the SAME integer
    // quantization (floor at 1e-9 per term), so every assert stays ==
    def tu(pos: Long, cpos: Long, ccnt: Long): Long =
      (pos * cpos / ccnt) * 1000000000L +
        (pos * cpos % ccnt) * 1000000000L / ccnt
    def ap(nPos: Long, terms: Long*): Double =
      terms.sum.toDouble / (1.0e9 * nPos)
    // desc blocks: 0.9 (1 pos of 1) → P=1/1; 0.8 (neg); 0.7 (pos) →
    // P=2/3; 0.1 (neg). AP = (1·1/1 + 1·2/3)/2 ≈ 5/6 (nano-quantized)
    val df = Seq((1, 0.9), (0, 0.8), (1, 0.7), (0, 0.1))
      .toDF("y", "s")
    val r = TextAnalysis.prAucReport(df, "y", "s").collect().head
    assert((r.getAs[Long]("n_rows"), r.getAs[Long]("n_unknown"),
      r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg")) ==
      ((4L, 0L, 2L, 2L)))
    assert(r.getAs[Double]("pr_auc") == ap(2, tu(1, 1, 1), tu(1, 2, 3)))
    assert(math.abs(r.getAs[Double]("pr_auc") - 5.0 / 6.0) < 1e-9)
    val r13 = TextAnalysis.prAucReport(df.repartition(13, $"s"),
      "y", "s").collect().head
    assert(r13.getAs[Double]("pr_auc") == r.getAs[Double]("pr_auc"))
    // a tie block shares its precision: pos and neg at 0.5 → 1·1/2
    val tied = Seq((1, 0.5), (0, 0.5)).toDF("y", "s")
    assert(TextAnalysis.prAucReport(tied, "y", "s")
      .collect().head.getAs[Double]("pr_auc") == 0.5)
    // perfect ranking and the all-positive degenerate both read 1.0
    val sep = Seq((1, 2.0), (1, 1.5), (0, 1.0)).toDF("y", "s")
    assert(TextAnalysis.prAucReport(sep, "y", "s")
      .collect().head.getAs[Double]("pr_auc") == 1.0)
    val allPos = Seq((1, 0.4), (1, 0.9)).toDF("y", "s")
    assert(TextAnalysis.prAucReport(allPos, "y", "s")
      .collect().head.getAs[Double]("pr_auc") == 1.0)
    // no positives → NULL, never NaN; unknowns counted apart
    val noPos = Seq((Some(0), Some(0.4)), (None, Some(0.2)),
      (Some(0), Option.empty[Double])).toDF("y", "s")
    val n0 = TextAnalysis.prAucReport(noPos, "y", "s").collect().head
    assert((n0.getAs[Long]("n_rows"), n0.getAs[Long]("n_unknown")) ==
      ((3L, 2L)))
    assert(n0.isNullAt(n0.fieldIndex("pr_auc")))
    // per-group: each group equals its standalone report
    val grouped = Seq(("a", 1, 0.9), ("a", 0, 0.8), ("a", 1, 0.7),
      ("a", 0, 0.1), ("b", 0, 0.9), ("b", 1, 0.1))
      .toDF("src", "y", "s")
    val byRows = TextAnalysis.prAucReport(grouped, "y", "s",
        by = Seq("src")).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("pr_auc")).toMap
    assert(byRows("a") == ap(2, tu(1, 1, 1), tu(1, 2, 3)))
    assert(byRows("b") == 0.5) // the one positive ranks 2nd of 2
  }

  test("hashedLinearLogit: the composable column form is " +
      "bit-identical to the scorer frame's logit, unigram and " +
      "bigram, and keeps the caller's columns") {
    val df = (0 until 30).map(i =>
      (i.toLong, s"tok$i alpha beta tok${i % 7}", s"extra$i"))
      .toDF("id", "t", "other")
    val w = (1 to 32).map(i => (i * 37 % 100) - 50L)
    for (ng <- Seq(1, 2)) {
      val viaCol = df.withColumn("logit",
          TextAnalysis.hashedLinearLogit($"t", w, ngrams = ng))
        .select($"id", $"other", $"logit")
      assert(viaCol.columns.toSeq == Seq("id", "other", "logit"),
        "withColumn composition keeps the caller's columns")
      val viaFrame = TextAnalysis
        .hashedLinearScoreWith(df, "id", "t", w, ngrams = ng)
        .select($"id", $"logit".as("flogit"))
      val joined = viaCol.join(viaFrame, Seq("id"))
        .select($"logit", $"flogit").collect()
      assert(joined.forall(r => r.getDouble(0) == r.getDouble(1)),
        s"column and frame logits must match bit-for-bit (ngrams=$ng)")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.hashedLinearLogit($"t", Seq.empty)
    }
  }

  test("calibrationReport + ece: exact bin counts, micro-summed " +
      "mean probability, signed gap; 1.0 folds into the top bin; " +
      "out-of-range and null rows count apart; hand ECE") {
    val rows = Seq(
      (Some(0), Some(0.05)), (Some(0), Some(0.05)), // bin 0
      (Some(1), Some(0.95)), (Some(1), Some(1.0)),  // bin 9 (1.0 folds)
      (Some(1), Some(1.5)),                          // out of range
      (None, Some(0.5)), (Some(0), Option.empty[Double]))
    val df = rows.toDF("y", "p")
    val rep = TextAnalysis.calibrationReport(df, "y", "p", nBins = 10)
    val got = rep.collect()
    val known = got.filter(!_.isNullAt(0))
      .map(r => r.getInt(0) -> (r.getAs[Long]("n"),
        r.getAs[Long]("n_pos"), r.getAs[Double]("frac_pos"),
        r.getAs[Double]("mean_prob"), r.getAs[Double]("gap"))).toMap
    assert(known.keySet == Set(0, 9))
    assert(known(0) == ((2L, 0L, 0.0, 0.05, 0.05)))
    assert(known(9)._1 == 2L && known(9)._2 == 2L &&
      known(9)._3 == 1.0 && known(9)._4 == 0.975 &&
      known(9)._5 == 0.975 - 1.0)
    // the unknown row: out-of-range + null label + null prob = 3
    val unk = got.filter(_.isNullAt(0))
    assert(unk.length == 1 && unk.head.getAs[Long]("n") == 3L)
    assert(unk.head.isNullAt(unk.head.fieldIndex("frac_pos")))
    // hand ECE over the 4 known rows: .5·|.05-0| + .5·|.975-1|
    assert(math.abs(TextAnalysis.ece(rep) - 0.0375) < 1e-12)
    // empty-known edge: ece = 0, no NaN
    assert(TextAnalysis.ece(TextAnalysis.calibrationReport(
      df.filter(lit(false)), "y", "p")) == 0.0)
    intercept[IllegalArgumentException] {
      TextAnalysis.calibrationReport(df, "y", "p", nBins = 0)
    }
  }

  test("chooseThreshold: precision floor picks max recall, recall " +
      "floor picks max precision; infeasible and misuse refused") {
    // hand sweep: (threshold, precision, recall)
    val sweep = Seq(
      (-0.5, 0.50, 1.00),
      (0.0, 0.80, 0.90),
      (0.5, 0.95, 0.60),
      (1.0, 1.00, 0.20),
      (2.0, Option.empty[Double], Option.empty[Double]) // no preds
    ).map { case (t, p, r) => (t, p, r) match {
        case (t, p: Double, r: Double) => (t, Some(p), Some(r))
        case _ => (t, Option.empty[Double], Option.empty[Double])
      }}
      .toDF("threshold", "precision", "recall")
    // precision >= 0.9: feasible {0.5, 1.0}; max recall -> 0.5
    assert(TextAnalysis.chooseThreshold(sweep,
      minPrecision = Some(0.9)) == 0.5)
    // recall >= 0.6: feasible {-0.5, 0.0, 0.5}; max precision -> 0.5
    assert(TextAnalysis.chooseThreshold(sweep,
      minRecall = Some(0.6)) == 0.5)
    // precision >= 0.5 keeps everything scored: max recall -> -0.5
    assert(TextAnalysis.chooseThreshold(sweep,
      minPrecision = Some(0.5)) == -0.5)
    // genuinely infeasible in-range target throws (never silently
    // returns the least-bad point)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.chooseThreshold(
        sweep.filter($"threshold" < 1.0), minPrecision = Some(0.99))
    }
    assert(e.getMessage.contains("no swept threshold"))
    // out-of-range target refused up front
    intercept[IllegalArgumentException] {
      TextAnalysis.chooseThreshold(sweep, minRecall = Some(1.5))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chooseThreshold(sweep) // neither target
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chooseThreshold(sweep, minPrecision = Some(0.9),
        minRecall = Some(0.5)) // both targets
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chooseThreshold(sweep.filter(lit(false)),
        minPrecision = Some(0.5))
    }
    // an unfiltered KEYED sweep (duplicate thresholds across groups)
    // must refuse, not silently pick one group's point off another
    // group's counts
    val keyedish = sweep.unionByName(sweep)
    val dup = intercept[IllegalArgumentException] {
      TextAnalysis.chooseThreshold(keyedish, minPrecision = Some(0.5))
    }
    assert(dup.getMessage.contains("keyed"))
  }

  test("chooseThresholds (keyed): per-group pick ≡ each group's " +
      "standalone chooseThreshold, infeasible groups surface as " +
      "NULL rows, duplicates/empty/misuse refused") {
    // two sources with opposite score quality: a real keyed sweep
    val scored = Seq(
      ("a", 1, 0.9), ("a", 1, 0.6), ("a", 0, 0.4), ("a", 0, 0.2),
      ("b", 1, 0.3), ("b", 0, 0.8), ("b", 0, 0.6), ("b", 1, 0.7))
      .toDF("src", "y", "s")
    val ts = Seq(0.1, 0.35, 0.5, 0.65)
    val sweep = TextAnalysis.thresholdSweep(scored, "y", "s", ts,
      by = Seq("src"))
    for ((mp, mr) <- Seq((Some(0.6), None),
        (None, Some(0.5)), (Some(0.4), None))) {
      val got = TextAnalysis.chooseThresholds(sweep, Seq("src"),
          minPrecision = mp, minRecall = mr).collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      for (g <- Seq("a", "b")) {
        val solo = sweep.filter($"src" === g).drop("src")
        val want =
          try Some(TextAnalysis.chooseThreshold(solo,
            minPrecision = mp, minRecall = mr))
          catch { case _: IllegalArgumentException => None }
        assert(got(g) == want,
          s"group $g (mp=$mp mr=$mr): got ${got(g)} want $want")
      }
    }
    // a group NO swept threshold can satisfy reads NULL, the healthy
    // group still gets its pick (no blanket throw, no cross-group pick)
    val hard = TextAnalysis.chooseThresholds(sweep, Seq("src"),
        minPrecision = Some(0.99)).collect()
      .map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(hard("b"), "infeasible group must read NULL")
    // misuse refusals
    intercept[IllegalArgumentException] {
      TextAnalysis.chooseThresholds(sweep, Seq.empty,
        minPrecision = Some(0.5))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chooseThresholds(sweep, Seq("src"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chooseThresholds(sweep.filter(lit(false)),
        Seq("src"), minPrecision = Some(0.5))
    }
    // duplicate thresholds WITHIN a group (re-unioned sweep) raise
    // at execution
    val e = intercept[Exception] {
      TextAnalysis.chooseThresholds(sweep.unionByName(sweep),
        Seq("src"), minPrecision = Some(0.5)).collect()
    }
    assert(e.getMessage.contains("duplicate thresholds"))
    // a NULL threshold (malformed sweep) refuses too (round 16):
    // count(t) would skip it in the duplicate check, and a feasible
    // NULL-threshold row would be indistinguishable from "no
    // feasible pick" in the output
    val nulled = sweep.unionByName(sweep.limit(1)
      .withColumn("threshold", lit(null).cast("double")))
    val en = intercept[Exception] {
      TextAnalysis.chooseThresholds(nulled, Seq("src"),
        minPrecision = Some(0.5)).collect()
    }
    assert(en.getMessage.contains("NULL threshold"))
  }

  test("calibrationReport by= / eceBy: per-group rows and ECE are " +
      "bit-identical to each group's standalone report, groups " +
      "never mix, misuse refused") {
    val rows = Seq(
      ("a", Some(0), Some(0.05)), ("a", Some(0), Some(0.15)),
      ("a", Some(1), Some(0.95)), ("a", Some(1), Some(1.0)),
      ("a", None, Some(0.5)),
      ("b", Some(1), Some(0.05)), ("b", Some(0), Some(0.95)),
      ("b", Some(1), Some(0.55)), ("b", Some(0), Option.empty[Double]))
    val df = rows.toDF("src", "y", "p")
    val keyed = TextAnalysis.calibrationReport(df, "y", "p",
      nBins = 10, by = Seq("src"))
    assert(keyed.columns.take(2).toSeq == Seq("src", "bin"))
    val eces = TextAnalysis.eceBy(keyed, Seq("src")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (g <- Seq("a", "b")) {
      val solo = TextAnalysis.calibrationReport(
        df.filter($"src" === g), "y", "p", nBins = 10)
      val soloRows = solo.collect().map(r =>
        (if (r.isNullAt(0)) -1 else r.getInt(0)) -> r.toSeq.toList)
        .toMap
      val keyedRows = keyed.filter($"src" === g).drop("src")
        .collect().map(r =>
          (if (r.isNullAt(0)) -1 else r.getInt(0)) -> r.toSeq.toList)
        .toMap
      assert(keyedRows == soloRows, s"group $g bins differ")
      assert(eces(g) == TextAnalysis.ece(solo),
        s"group $g: eceBy must be bit-identical to standalone ece")
    }
    // a group with no known rows reads ece 0.0, like the scalar form
    val blank = Seq(("c", Option.empty[Int], Some(0.5)))
      .toDF("src", "y", "p")
    val blankRep = TextAnalysis.calibrationReport(blank, "y", "p",
      nBins = 10, by = Seq("src"))
    assert(TextAnalysis.eceBy(blankRep, Seq("src"))
      .collect().head.getDouble(1) == 0.0)
    intercept[IllegalArgumentException] {
      TextAnalysis.eceBy(keyed, Seq.empty)
    }
  }

  test("calibrateLogitsBy: each group's (a, b) is bit-identical to " +
      "its standalone calibrateLogits fit; NULL group keys train; " +
      "deterministic across partitionings; calibratedProbBy applies " +
      "the group's pair and reads NULL for unfitted groups; " +
      "refusals") {
    // three groups with different score/label shapes (one keyed by
    // NULL — a legitimate group), so the three fits genuinely differ
    val df = Seq(
      (Some("a"), Some(1), Some(2.0)), (Some("a"), Some(1), Some(1.0)),
      (Some("a"), Some(0), Some(-1.0)), (Some("a"), Some(0), Some(-2.0)),
      (Some("b"), Some(1), Some(0.5)), (Some("b"), Some(0), Some(0.25)),
      (Some("b"), Some(0), Some(-0.75)), (Some("b"), Some(1), Some(3.0)),
      (Option.empty[String], Some(1), Some(1.5)),
      (Option.empty[String], Some(0), Some(-0.5)),
      // unknown rows: excluded from the fit, like the standalone
      (Some("a"), Option.empty[Int], Some(9.9)),
      (Some("b"), Some(1), Option.empty[Double]),
      // a group with NO labeled scored rows: nothing to fit
      (Some("c"), Option.empty[Int], Some(0.1)))
      .toDF("src", "y", "s")
    val calib = TextAnalysis.calibrateLogitsBy(df, "y", "s",
      Seq("src"), iters = 3, lr = 10.0)
    val got = calib.collect().map(r =>
      (if (r.isNullAt(0)) null else r.getString(0)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set("a", "b", null),
      "one row per group WITH labeled rows — no row for 'c'")
    for (g <- Seq("a", "b", null)) {
      val solo = if (g == null) df.filter($"src".isNull)
                 else df.filter($"src" === g)
      val want = TextAnalysis.calibrateLogits(solo, "y", "s",
        iters = 3, lr = 10.0)
      assert(got(g) == want,
        s"group $g: keyed fit must be bit-identical to standalone")
    }
    // order-free: the fixed-point gradient sums survive repartition
    val got13 = TextAnalysis.calibrateLogitsBy(
      df.repartition(13, col("s")), "y", "s", Seq("src"),
      iters = 3, lr = 10.0).collect().map(r =>
        (if (r.isNullAt(0)) null else r.getString(0)) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    assert(got13 == got)
    // calibratedProbBy: the group's own pair, the exact
    // calibratedProb arithmetic; 'c' (unfitted) reads NULL
    val probs = TextAnalysis.calibratedProbBy(df, calib, "s",
      Seq("src"))
    assert(probs.count() == df.count(), "left join keeps every row")
    for (g <- Seq("a", "b", null)) {
      val (a, b) = got(g)
      val side = if (g == null) probs.filter($"src".isNull)
                 else probs.filter($"src" === g)
      val wantP = side.select(col("s"),
          TextAnalysis.calibratedProb(col("s"), a, b).as("w"))
        .collect().map(r => Option(r.get(0)) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      side.select(col("s"), col("prob")).collect().foreach { r =>
        val w = wantP(Option(r.get(0)))
        assert((if (r.isNullAt(1)) None else Some(r.getDouble(1)))
          == w, s"group $g score ${r.get(0)}")
      }
    }
    assert(probs.filter($"src" === "c").select("prob")
      .collect().forall(_.isNullAt(0)),
      "a group absent from the calibration frame reads NULL, " +
        "never a silent global fallback")
    // refusals
    intercept[IllegalArgumentException] {
      TextAnalysis.calibrateLogitsBy(df, "y", "s", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.calibrateLogitsBy(df, "y", "s", Seq("src"),
        iters = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.calibrateLogitsBy(df.filter(lit(false)), "y", "s",
        Seq("src"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.calibratedProbBy(df, calib.drop("a_micro"), "s",
        Seq("src"))
    }
  }

  test("distinctScorePrefix hardening: ±Inf/NaN scores take their " +
      "own monotone buckets and the grid spans the finite min/max — " +
      "metrics and curves equal the same ranking with the " +
      "non-finite values mapped to finite sentinels beyond the " +
      "range") {
    // Spark's sort/group order: -Inf < finite < +Inf < NaN. Mapping
    // the non-finite values to finite sentinels beyond the range
    // preserves EXACTLY that order, so every rank — and therefore
    // every metric/curve row — must agree between the two spellings.
    val raw = Seq(
      ("a", 1, Double.NaN), ("a", 1, Double.PositiveInfinity),
      ("a", 1, 5.0), ("a", 0, 3.0), ("a", 1, 3.0), ("a", 0, 1.0),
      ("a", 0, Double.NegativeInfinity),
      ("b", 1, Double.PositiveInfinity), ("b", 0, 4.0), ("b", 1, 2.0),
      ("b", 0, Double.NaN))
      .toDF("src", "y", "s")
    val mapped = raw.withColumn("s",
      when(isnan($"s"), lit(1000.0))
        .when($"s" === Double.PositiveInfinity, lit(900.0))
        .when($"s" === Double.NegativeInfinity, lit(-900.0))
        .otherwise($"s"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.drop("score", "s").collect().map(_.toSeq.toList).toList
    // scalar metrics: value-identical (score never appears in the
    // output, only ranks do)
    assert(rows(TextAnalysis.aucReport(raw, "y", "s",
        by = Seq("src")).orderBy("src")) ==
      rows(TextAnalysis.aucReport(mapped, "y", "s",
        by = Seq("src")).orderBy("src")))
    assert(rows(TextAnalysis.prAucReport(raw, "y", "s",
        by = Seq("src")).orderBy("src")) ==
      rows(TextAnalysis.prAucReport(mapped, "y", "s",
        by = Seq("src")).orderBy("src")))
    // curves: same (tp, fp/n_kept, ratios) sequences row-for-row
    // once the score column itself is dropped
    assert(rows(TextAnalysis.rocCurve(raw, "y", "s",
        by = Seq("src"))) ==
      rows(TextAnalysis.rocCurve(mapped, "y", "s", by = Seq("src"))))
    assert(rows(TextAnalysis.prCurve(raw, "y", "s",
        by = Seq("src"))) ==
      rows(TextAnalysis.prCurve(mapped, "y", "s", by = Seq("src"))))
    // hand-check one group: a's ranking desc is NaN, +Inf, 5, 3(t),
    // 1, -Inf with labels 1,1,1,{0,1},0,0 → n+=4, n-=3;
    // discordant-free except the 3-tie (pos ties neg: half credit)
    // and the 1/-Inf negatives below: AUC = (4*3 - 1*1*0.5 - 1) ...
    // compute directly instead: pairs pos>neg full credit, ties 0.5
    val aRows = raw.filter($"src" === "a")
      .select("y", "s").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    def rk(x: Double): Double =
      if (x.isNaN) 7.0 else if (x.isPosInfinity) 6.0
      else if (x.isNegInfinity) -7.0 else x
    val pos = aRows.filter(_._1 == 1).map(t => rk(t._2))
    val neg = aRows.filter(_._1 == 0).map(t => rk(t._2))
    val wantAuc = pos.flatMap(p => neg.map(n =>
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0)).sum /
      (pos.length * neg.length)
    val gotAuc = TextAnalysis.aucReport(raw, "y", "s",
        by = Seq("src")).filter($"src" === "a")
      .collect().head.getAs[Double]("auc")
    assert(gotAuc == wantAuc, s"hand AUC: $gotAuc vs $wantAuc")
  }

  test("applyThresholds: each row filters against its own group's " +
      "picked threshold; groups without a usable pick refuse by " +
      "default and drop explicitly under dropUnpicked; NULL group " +
      "keys join null-safely; misuse refused") {
    val scored = Seq(
      (Some("a"), 1L, 0.9), (Some("a"), 2L, 0.5), (Some("a"), 3L, 0.2),
      (Some("b"), 4L, 0.9), (Some("b"), 5L, 0.5), (Some("b"), 6L, 0.2),
      (Option.empty[String], 7L, 0.9), (Option.empty[String], 8L, 0.1))
      .toDF("src", "id", "s")
    // picks: a keeps > 0.4, b keeps > 0.8, null-key group > 0.5
    val picks = Seq((Some("a"), Some(0.4)), (Some("b"), Some(0.8)),
      (Option.empty[String], Some(0.5)))
      .toDF("src", "threshold")
    val kept = TextAnalysis.applyThresholds(scored, picks, "s",
        Seq("src")).select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 4L, 7L),
      "per-group thresholds, boundary strict, null key joins")
    assert(TextAnalysis.applyThresholds(scored, picks, "s",
        Seq("src")).columns.toSeq == scored.columns.toSeq,
      "original columns ride through unchanged")
    // a group with NO pick row refuses by default...
    val partial = picks.filter($"src" === "a")
    val e = intercept[Exception] {
      TextAnalysis.applyThresholds(scored, partial, "s",
        Seq("src")).collect()
    }
    assert(e.getMessage.contains("no usable pick"))
    // ...as does a NULL threshold (the picker's infeasible marker)
    val nulled = picks.withColumn("threshold",
      when($"src" === "b", lit(null).cast("double"))
        .otherwise($"threshold"))
    intercept[Exception] {
      TextAnalysis.applyThresholds(scored, nulled, "s",
        Seq("src")).collect()
    }
    // dropUnpicked: the unpicked groups drop EXPLICITLY, the rest
    // filter as before
    val dropped = TextAnalysis.applyThresholds(scored, nulled, "s",
        Seq("src"), dropUnpicked = true)
      .select("id").as[Long].collect().sorted.toSeq
    assert(dropped == Seq(1L, 2L, 7L))
    intercept[IllegalArgumentException] {
      TextAnalysis.applyThresholds(scored, picks, "s", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.applyThresholds(scored, picks.drop("threshold"),
        "s", Seq("src"))
    }
  }

  test("brierScore: hand-worked micro-quantized mean squared error, " +
      "unknown accounting, keyed groups ≡ standalone, no-known NULL, " +
      "partitioning determinism") {
    // hand fixture: (y, p) with exact micro terms
    // (1, 0.9) -> 0.01 -> 10000; (0, 0.25) -> 0.0625 -> 62500
    // (1, 0.5) -> 0.25 -> 250000; (0, 0.0) -> 0
    val df = Seq(
      (Some(1), Some(0.9)), (Some(0), Some(0.25)),
      (Some(1), Some(0.5)), (Some(0), Some(0.0)),
      (Option.empty[Int], Some(0.7)),      // null label: unknown
      (Some(1), Option.empty[Double]),     // null prob: unknown
      (Some(2), Some(0.5)),                // non-0/1 label: unknown
      (Some(1), Some(1.5)))                // out-of-range: unknown
      .toDF("y", "p")
    val r = TextAnalysis.brierScore(df, "y", "p").collect().head
    assert(r.getAs[Long]("n_rows") == 8)
    assert(r.getAs[Long]("n_unknown") == 4)
    assert(r.getAs[Double]("brier") ==
      (10000L + 62500L + 250000L + 0L).toDouble / (1000000.0 * 4))
    // keyed: each group bit-identical to its standalone call
    val keyed = Seq(
      ("a", 1, 0.9), ("a", 0, 0.25), ("b", 1, 0.5), ("b", 0, 0.0))
      .toDF("src", "y", "p")
    val byRows = TextAnalysis.brierScore(keyed, "y", "p",
        by = Seq("src")).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    for (g <- Seq("a", "b")) {
      val solo = TextAnalysis.brierScore(
        keyed.filter($"src" === g), "y", "p").collect().head
      assert(byRows(g) == solo.getDouble(2), s"group $g")
    }
    // all-unknown group reads NULL, never NaN
    val blank = TextAnalysis.brierScore(
      Seq((Option.empty[Int], 0.5)).toDF("y", "p"), "y", "p")
      .collect().head
    assert(blank.isNullAt(2) && blank.getAs[Long]("n_unknown") == 1)
    // order-free quantized sum: identical across partitionings
    val big = (1 to 500).map(i =>
      (i % 2, (i % 97) / 96.0)).toDF("y", "p")
    assert(TextAnalysis.brierScore(big, "y", "p").collect().head
        .getDouble(2) ==
      TextAnalysis.brierScore(big.repartition(13), "y", "p")
        .collect().head.getDouble(2))
  }

  test("corpusDeltaRemoved: the drop-close removal audit — " +
      "stream rows + removed rows ≡ the batch corpusDelta " +
      "row-for-row; null-text and re-added ids classify; same " +
      "parameter order as the batch form") {
    val before = Seq((1L, Some("a")), (2L, Some("b")),
      (3L, Option.empty[String]), (4L, Some("d")), (5L, Some("e")))
      .toDF("id", "t")
    val after = Seq((1L, Some("a")), (2L, Some("B")),
      (3L, Option.empty[String]), (6L, Some("f")))
      .toDF("id", "t")
    val removed = Dedup.corpusDeltaRemoved(before, after, "id", "t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(removed == Set((4L, "removed"), (5L, "removed")))
    // the spec-pinned identity: live stream rows + the close audit
    // IS the batch delta
    val live = Dedup.corpusDeltaStream(before, after, "id", "t")
    val union = live.unionByName(
        Dedup.corpusDeltaRemoved(before, after, "id", "t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toList.sorted
    val batch = Dedup.corpusDelta(before, after, "id", "t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toList.sorted
    assert(union == batch,
      "corpusDeltaStream + corpusDeltaRemoved must equal " +
        "corpusDelta row-for-row")
  }
}
