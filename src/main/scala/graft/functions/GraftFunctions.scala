package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graftshim.GraftColumnBridge
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions._

/** SQL-name registration for graft's native expressions, so
  * `spark.sql` queries can use them directly (the reference exposes
  * its function library through SQL-less expressions only; we exceed
  * it with a SQL surface).
  */
object GraftFunctions {

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _)  => v
    case Literal(v: Long, _) => v.toInt
    case _ => throw new IllegalArgumentException(
      s"$name expects a literal integer, got $e")
  }

  private def longLit(e: Expression, name: String): Long = e match {
    case Literal(v: Int, _)  => v.toLong
    case Literal(v: Long, _) => v
    case _ => throw new IllegalArgumentException(
      s"$name expects a literal long, got $e")
  }

  private def stringLit(e: Expression, name: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case _ => throw new IllegalArgumentException(
      s"$name expects a literal string, got $e")
  }

  private def doubleLit(e: Expression, name: String): Double = e match {
    case Literal(v: Double, _)  => v
    case Literal(v: Float, _)   => v.toDouble
    case Literal(v: Int, _)     => v.toDouble
    case Literal(v: Long, _)    => v.toDouble
    // SQL decimal literals (0.2) parse as Decimal, not Double
    case Literal(v: Decimal, _) => v.toDouble
    case _ => throw new IllegalArgumentException(
      s"$name expects a literal number, got $e")
  }

  // SQL numeric literals reach here wrapped (a negative decimal
  // parses as Cast(Literal(Decimal), …)), so accept any FOLDABLE
  // numeric element, not just bare literals
  private def foldableDouble(e: Expression, name: String): Double = {
    require(e.foldable,
      s"$name expects a literal number, got non-foldable $e")
    e.eval() match {
      case d: java.lang.Double  => d.doubleValue()
      case f: java.lang.Float   => f.doubleValue()
      case i: java.lang.Integer => i.doubleValue()
      case l: java.lang.Long    => l.doubleValue()
      case s: java.lang.Short   => s.doubleValue()
      case b: java.lang.Byte    => b.doubleValue()
      case d: Decimal           => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$name expects a literal number, got $other from $e")
    }
  }

  private def doubleSeqLit(e: Expression, name: String): Seq[Double] =
    e match {
      case org.apache.spark.sql.catalyst.expressions
          .CreateArray(items, _) =>
        items.map(foldableDouble(_, name))
      case Literal(v: org.apache.spark.sql.catalyst.util.ArrayData,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, _)) =>
        v.toDoubleArray().toSeq
      case _ => throw new IllegalArgumentException(
        s"$name expects an array of literal numbers, got $e")
    }

  private def stringSeqLit(e: Expression, name: String): Seq[String] =
    e match {
      case org.apache.spark.sql.catalyst.expressions
          .CreateArray(items, _) =>
        items.map(stringLit(_, name))
      case Literal(v: org.apache.spark.sql.catalyst.util.ArrayData,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, _)) =>
        v.toArray[UTF8String](org.apache.spark.sql.types.StringType)
          .map { s =>
            if (s == null) throw new IllegalArgumentException(
              s"$name expects an array of literal strings, got a null " +
                s"element in $e")
            s.toString
          }.toSeq
      case _ => throw new IllegalArgumentException(
        s"$name expects an array of literal strings, got $e")
    }

  // Column↔Expression bridge: the curation SQL functions reuse the
  // operator library's Column compositions verbatim (single source of
  // truth — SQL and DataFrame surfaces cannot drift), so a registered
  // function is just unwrap → compose → rewrap.
  private def c(e: Expression): Column = GraftColumnBridge.toColumn(e)
  private def x(col: Column): Expression =
    GraftColumnBridge.toEagerExpression(col)

  /** split_by_hash(id, name1, w1, name2, w2, ... [, salt]): variadic
    * literal (name, weight) pairs after the id; a trailing unpaired
    * string is the salt override.
    */
  private def splitByHashExpr(es: Seq[Expression]): Expression = {
    require(es.length >= 3,
      "split_by_hash(id, name, weight, ... [, salt])")
    val tail = es.drop(1)
    val (pairElems, salt) =
      if (tail.length % 2 == 1)
        (tail.init, stringLit(tail.last, "split_by_hash salt"))
      else (tail, graft.operators.Sampling.SplitSalt)
    val weights = pairElems.grouped(2).map { p =>
      stringLit(p(0), "split_by_hash name") ->
        doubleLit(p(1), "split_by_hash weight")
    }.toSeq
    x(graft.operators.Sampling.splitLabel(c(es.head), weights, salt))
  }

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("simhash64",
      es => SimHash64(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64_text",
      es => SimHashText(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("simhash128_md5",
      es => SimHashMd5Wide(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("rolling_hash",
      es => RollingHash(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("dot_product",
      es => DotProduct(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("l2_normalize",
      es => L2Normalize(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("double_bits",
      es => DoubleBits(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_similarity",
      es => CosineSimilarity(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("shingle_hashes",
      es => ShingleHashes(es(0), intLit(es(1), "shingle_hashes")),
      "scala_udf")
    reg.createOrReplaceTempFunction("minhash_signature",
      es => MinHashSignature(es(0), intLit(es(1), "minhash_signature")),
      "scala_udf")
    reg.createOrReplaceTempFunction("hyperplane_lsh_bucket", es =>
      HyperplaneLshBucket(es(0),
        intLit(es(1), "hyperplane_lsh_bucket"),
        intLit(es(2), "hyperplane_lsh_bucket"),
        if (es.length > 3) longLit(es(3), "hyperplane_lsh_bucket") else 42L),
      "scala_udf")
    reg.createOrReplaceTempFunction("avro_decode", es =>
      graft.formats.AvroDecode(es(0), stringLit(es(1), "avro_decode")),
      "scala_udf")
    // --- curation suite (operators/{Sampling,TextAnalysis,Similarity})
    reg.createOrReplaceTempFunction("hash_draw", es =>
      x(graft.operators.Sampling.hashBucket(c(es(0)),
        stringLit(es(1), "hash_draw salt"))), "scala_udf")
    reg.createOrReplaceTempFunction("hash_sample", es =>
      x(graft.operators.Sampling.sampleKeep(c(es(0)),
        doubleLit(es(1), "hash_sample fraction"),
        if (es.length > 2) stringLit(es(2), "hash_sample salt")
        else graft.operators.Sampling.SampleSalt)), "scala_udf")
    reg.createOrReplaceTempFunction("split_by_hash",
      splitByHashExpr, "scala_udf")
    reg.createOrReplaceTempFunction("weighted_sample", es =>
      x(graft.operators.Sampling.weightedKeep(c(es(0)), c(es(1)),
        if (es.length > 2) stringLit(es(2), "weighted_sample salt")
        else graft.operators.Sampling.WeightSalt)), "scala_udf")
    reg.createOrReplaceTempFunction("redact_pii", es =>
      x(graft.operators.TextAnalysis.redactPii(c(es.head))), "scala_udf")
    reg.createOrReplaceTempFunction("quantize_int8", es =>
      x(graft.operators.Similarity.quantizeInt8(c(es.head))), "scala_udf")
    reg.createOrReplaceTempFunction("quant_scale", es =>
      x(graft.operators.Similarity.quantScale(c(es.head))), "scala_udf")
    reg.createOrReplaceTempFunction("unicode_normalize", es =>
      UnicodeNormalize(es(0),
        if (es.length > 1) stringLit(es(1), "unicode_normalize form")
        else "NFC"), "scala_udf")
    reg.createOrReplaceTempFunction("strip_accents", es =>
      StripAccents(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("normalize_text", es =>
      x(graft.operators.TextAnalysis.normalizeText(c(es.head))),
      "scala_udf")
    reg.createOrReplaceTempFunction("gram_hashes", es =>
      GramHashes(es(0), intLit(es(1), "gram_hashes n")), "scala_udf")
    reg.createOrReplaceTempFunction("winnow_fingerprints", es =>
      WinnowFingerprints(es(0), intLit(es(1), "winnow_fingerprints n"),
        intLit(es(2), "winnow_fingerprints window")), "scala_udf")
    reg.createOrReplaceTempFunction("multi_pattern_counts", es =>
      MultiPatternCounts(es(0),
        stringSeqLit(es(1), "multi_pattern_counts patterns")),
      "scala_udf")
    reg.createOrReplaceTempFunction("multi_pattern_any", es =>
      MultiPatternAny(es(0),
        stringSeqLit(es(1), "multi_pattern_any patterns")),
      "scala_udf")
    reg.createOrReplaceTempFunction("wordpiece_encode", es =>
      WordPieceEncode(es(0), stringSeqLit(es(1), "wordpiece_encode vocab"),
        if (es.length > 2) stringLit(es(2), "wordpiece_encode unk")
        else "[UNK]"), "scala_udf")
    reg.createOrReplaceTempFunction("bpe_encode", es =>
      BpeEncode(es(0), stringSeqLit(es(1), "bpe_encode merges")),
      "scala_udf")
    reg.createOrReplaceTempFunction("byte_bpe_encode", es =>
      ByteBpeEncode(es(0),
        stringSeqLit(es(1), "byte_bpe_encode merges")),
      "scala_udf")
    reg.createOrReplaceTempFunction("unigram_encode", es => {
      val pieces = stringSeqLit(es(1), "unigram_encode pieces")
      val lps = doubleSeqLit(es(2), "unigram_encode log_probs")
      require(pieces.length == lps.length,
        "unigram_encode: pieces and log_probs must align " +
          s"(${pieces.length} vs ${lps.length})")
      UnigramEncode(es(0), pieces.zip(lps))
    }, "scala_udf")
    reg.createOrReplaceTempFunction("byte_unigram_encode", es => {
      val pieces = stringSeqLit(es(1), "byte_unigram_encode pieces")
      val lps = doubleSeqLit(es(2), "byte_unigram_encode log_probs")
      require(pieces.length == lps.length,
        "byte_unigram_encode: pieces and log_probs must align " +
          s"(${pieces.length} vs ${lps.length})")
      ByteUnigramEncode(es(0), pieces.zip(lps))
    }, "scala_udf")
    // --- sketch aggregates (native TypedImperativeAggregates; usable
    // anywhere SQL accepts an aggregate: GROUP BY, windowed streaming
    // aggs). kmv_sketch takes the PRE-hashed bigint (compose with
    // xxhash64 in SQL); the estimators are plain array arithmetic.
    reg.createOrReplaceTempFunction("kmv_sketch", es =>
      KmvSketchAgg(es(0), intLit(es(1), "kmv_sketch k"))
        .toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("freq_sketch", es =>
      FreqSketchAgg(es(0), intLit(es(1), "freq_sketch capacity"))
        .toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("vec_sum", es =>
      VecSumAgg(es(0)).toAggregateExpression(), "scala_udf")
    graft.operators.Udafs.register(spark)
  }
}
