package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Graft.spread

/** Tokenizer TRAINING — the learning half of the subword surface
  * whose inference half lives in `graft.expressions` (`BpeEncode`,
  * `WordPieceEncode`). The reference has no tokenizer surface at all
  * (its scalar library stops at string functions,
  * /root/reference/py-denormalized/python/denormalized/datafusion/functions.py);
  * this is pipeline-brief work: a training-data pipeline that meters
  * token budgets with a learned tokenizer must also be able to LEARN
  * that tokenizer from the corpus it curates.
  *
  * Scale shape (the Sennrich 2016 split every production trainer
  * uses): the only corpus-size-dependent stage is ONE distributed
  * word-type count — explode + groupBy(word), a single shuffle on the
  * word key with map-side partial aggregation, linear in corpus bytes
  * at any SF. The merge loop then runs over the aggregated TYPE table,
  * which is Zipf-bounded and additionally hard-capped at `maxTypes`
  * rows (taken by descending count with a total tie-break, so the cap
  * is deterministic); at the cap the loop's working set is a few MB
  * regardless of corpus size — learning on 100 TB costs one count
  * shuffle plus constant driver work, exactly like shipping a learned
  * vocab back out costs one plan-closure broadcast.
  */
object Tokenizer {

  /** Distributed word-type frequency table: `(word STRING,
    * cnt BIGINT)`, one row per distinct whitespace-split token.
    * Tokenization is [[TextAnalysis.tokenize]] — the same regex-\s
    * split `BpeEncode`/`WordPieceEncode` apply at inference, so
    * trained artifacts see exactly the word boundaries they will be
    * applied to.
    */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    spread(df)
      .select(explode(TextAnalysis.tokenize(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** The capped, deterministically-ordered type table the merge loop
    * consumes: top `maxTypes` word types by (count desc, word asc).
    * The bounded `take` here is the one driver-side materialization
    * of the trainer and is capped by construction — it is the same
    * "aggregate, then ship the bounded artifact" shape as building a
    * vocab list or a blocklist automaton, not a corpus collect.
    */
  private def typeTable(df: DataFrame, textCol: String,
                        maxTypes: Int): Array[(String, Long)] =
    wordCounts(df, textCol)
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxTypes)
      .take(maxTypes)
      .map(r => (r.getString(0), r.getLong(1)))

  /** Learn a byte-pair-encoding merge list from a corpus (Sennrich,
    * Haddow & Birch 2016, "Neural Machine Translation of Rare Words
    * with Subword Units", Algorithm 1): start every word type as its
    * code-point symbol sequence; repeatedly take the adjacent symbol
    * pair with the highest corpus frequency (weighted by word-type
    * count), record it, and merge it at every non-overlapping
    * occurrence left-to-right in every type. Ties break to the
    * lexicographically smallest (left, right) pair, so the learned
    * list is a pure function of the type table — byte-identical
    * across partitionings and reruns.
    *
    * The returned entries are `"left right"` strings in learned
    * order — exactly the artifact `graft.functions.bpe_encode`
    * consumes. Applying the learned list to a training word
    * reproduces the trainer's own final segmentation of that word
    * (merging a pair never creates an adjacency of two
    * earlier-ranked symbols, so rank-order inference replays the
    * training sequence; property-pinned in TokenizerTrainSpec).
    *
    * Learning stops early when no remaining pair reaches
    * `minPairCount` (below that a merge memorizes noise). The loop
    * recounts pairs from the type table each round — O(numMerges ×
    * total symbols), a few hundred ms at the default cap — chosen
    * over the incremental-update variant for auditability; the cap
    * keeps it constant in corpus size either way.
    */
  def learnBpeMerges(df: DataFrame, textCol: String, numMerges: Int,
                     maxTypes: Int = 65536,
                     minPairCount: Long = 2L): Seq[String] = {
    require(numMerges >= 1, "numMerges must be >= 1")
    require(maxTypes >= 1, "maxTypes must be >= 1")
    require(minPairCount >= 1L, "minPairCount must be >= 1")
    val types = typeTable(df, textCol, maxTypes)
    learnFromTypes(types, numMerges, minPairCount)
  }

  /** The driver-side merge loop over an already-aggregated
    * `(wordType, count)` table — exposed so a persisted
    * [[wordCounts]] frame (built once per corpus drop) can be
    * re-trained against at different sizes without re-counting.
    */
  def learnFromTypes(types: Array[(String, Long)], numMerges: Int,
                     minPairCount: Long = 2L): Seq[String] = {
    // each word type as its code-point symbol sequence + its weight
    learnFromSymbolTypes(types.map { case (w, c) =>
      val out = new Array[String](w.codePointCount(0, w.length))
      var i = 0; var n = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out(n) = new String(Character.toChars(cp))
        n += 1; i += Character.charCount(cp)
      }
      (out, c)
    }, numMerges, minPairCount)
  }

  /** The shared driver-side merge loop over PRE-SYMBOLIZED types —
    * the code-point trainer and the byte-level trainer differ only
    * in how a word becomes symbols (code points vs UTF-8 bytes via
    * [[ByteToUnicode]]); the argmax order, replacement and stopping
    * rules are identical, so both learned lists are pure functions
    * of their type tables.
    */
  private def learnFromSymbolTypes(types: Array[(Array[String], Long)],
                                   numMerges: Int,
                                   minPairCount: Long): Seq[String] = {
    val seqs: Array[Array[String]] = types.map(_._1)
    val weights: Array[Long] = types.map(_._2)

    val merges = new scala.collection.mutable.ArrayBuffer[String]()
    var continue = numMerges > 0
    while (continue && merges.length < numMerges) {
      // count adjacent pairs across all types, weighted by type count
      val counts =
        new java.util.HashMap[(String, String), java.lang.Long]()
      var t = 0
      while (t < seqs.length) {
        val s = seqs(t)
        val wgt = weights(t)
        var k = 0
        while (k < s.length - 1) {
          val key = (s(k), s(k + 1))
          val prev = counts.get(key)
          counts.put(key,
            if (prev == null) wgt else prev.longValue() + wgt)
          k += 1
        }
        t += 1
      }
      // argmax with (count desc, left asc, right asc) total order
      var best: (String, String) = null
      var bestCnt = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue.longValue()
        if (c > bestCnt || (c == bestCnt && best != null && {
              val k = e.getKey
              val cl = k._1.compareTo(best._1)
              cl < 0 || (cl == 0 && k._2.compareTo(best._2) < 0)
            })) {
          best = e.getKey; bestCnt = c
        }
      }
      if (best == null || bestCnt < minPairCount) continue = false
      else {
        merges += (best._1 + " " + best._2)
        // merge best at every non-overlapping occurrence, L-to-R
        val (a, b) = best
        val ab = a + b
        var t2 = 0
        while (t2 < seqs.length) {
          val s = seqs(t2)
          if (s.length > 1) {
            var src = 0; var dst = 0
            val next = new Array[String](s.length)
            while (src < s.length) {
              if (src < s.length - 1 && s(src) == a && s(src + 1) == b) {
                next(dst) = ab; src += 2
              } else { next(dst) = s(src); src += 1 }
              dst += 1
            }
            if (dst < s.length)
              seqs(t2) = java.util.Arrays.copyOf(next, dst)
          }
          t2 += 1
        }
      }
    }
    merges.toSeq
  }

  /** Persist a learned merge list as a schema-versioned parquet frame
    * (`rank INT, pair STRING`) with the [[DedupIndex]] sidecar
    * discipline: the sidecar is written last, so its presence marks a
    * complete artifact, and [[readMerges]] refuses a directory whose
    * parameters don't match the caller's. A tokenizer is a FROZEN
    * artifact — retraining on the next corpus drop silently changes
    * every token count and packing boundary downstream, so the write
    * path is errorifexists and the read path pins the training
    * geometry (numMerges), exactly like a mismatched dedup index.
    */
  def writeMerges(spark: org.apache.spark.sql.SparkSession,
                  merges: Seq[String], path: String): Unit = {
    import spark.implicits._
    require(merges.nonEmpty, "refusing to persist an empty merge list")
    merges.zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("rank", "pair")
      .repartition(1)
      .write.mode("errorifexists").parquet(path)
    val json = s"""{"kind": "bpe_merges", "version": 1, """ +
      s""""num_merges": ${merges.length}}"""
    val p = new org.apache.hadoop.fs.Path(path, "_graft_index.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read back a [[writeMerges]] artifact in rank order. The merge
    * list is a bounded artifact by construction (one row per learned
    * merge), so the driver-side materialization here is the same
    * plan-closure shipping as passing `merges` to
    * `graft.functions.bpe_encode` — not a data collect.
    */
  def readMerges(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[String] = {
    val mp = new org.apache.hadoop.fs.Path(path, "_graft_index.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(mp),
      s"$path has no _graft_index.json sidecar — not a complete " +
        "graft tokenizer artifact (crashed build, or a plain parquet dir)")
    val in = fs.open(mp)
    val raw = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val meta = "\"([a-z_]+)\"\\s*:\\s*\"?([A-Za-z0-9_]+)\"?".r
      .findAllMatchIn(raw).map(m => m.group(1) -> m.group(2)).toMap
    require(meta.get("kind").contains("bpe_merges"),
      s"$path is a '${meta.getOrElse("kind", "?")}' artifact, not " +
        "'bpe_merges'")
    require(meta.get("version").contains("1"),
      s"$path was written by artifact version " +
        s"${meta.getOrElse("version", "?")}; this library reads 1")
    val nStr = meta.getOrElse("num_merges", "")
    require(nStr.nonEmpty && nStr.forall(_.isDigit),
      s"$path sidecar is corrupt or foreign: missing or non-numeric " +
        s"'num_merges' (got '${meta.getOrElse("num_merges", "absent")}')")
    val n = nStr.toInt
    val rows = spark.read.parquet(path)
      .orderBy("rank")
      .select("rank", "pair")
      .take(n + 1)
    require(rows.length == n &&
      rows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      s"$path is corrupt: expected ranks 0..${n - 1}, got " +
        s"${rows.length} rows")
    rows.map(_.getString(1)).toSeq
  }

  /** GPT-2-style pretokenizer regex (Radford et al. 2019, the
    * `gpt2.bpe` pattern): contraction suffixes, letter runs, digit
    * runs, punctuation runs — each optionally space-prefixed so the
    * space travels WITH the following word (the property that makes
    * byte-level BPE reversible without a separate whitespace
    * channel), plus trailing/interior whitespace runs. Java regex:
    * `\p{L}`/`\p{N}` are the Unicode classes the original used via
    * regex-module `\p{L}`, and the `(?!\S)` lookahead keeps the
    * final space of a run attached to the next token.
    */
  val Gpt2Pretokenizer: String =
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"""

  /** The GPT-2 byte↔unicode table: every byte value 0–255 maps to a
    * PRINTABLE code point (printable ASCII + the two Latin-1 ranges
    * map to themselves; the 68 remaining bytes map to 256+i in
    * order), so arbitrary UTF-8 — emoji, control bytes, broken
    * encodings — becomes a clean symbol string the merge loop (and
    * any downstream text tooling) can treat as opaque characters.
    * This is the exact construction from the GPT-2 reference
    * `bytes_to_unicode()` (encoder.py), reproduced from the paper's
    * published description.
    */
  val ByteToUnicode: Array[Char] = {
    val keep = (('!' to '~') ++ ('¡' to '¬') ++
      ('®' to 'ÿ')).map(_.toInt).toSet
    val out = new Array[Char](256)
    var next = 256
    (0 until 256).foreach { b =>
      if (keep(b)) out(b) = b.toChar
      else { out(b) = next.toChar; next += 1 }
    }
    out
  }

  /** A word's byte-level symbol sequence: UTF-8 bytes through
    * [[ByteToUnicode]], one single-char symbol per byte — the
    * byte-fallback alphabet (≤ 256 base symbols, so NO word is ever
    * out-of-alphabet, unlike code-point BPE where an unseen
    * character has no symbol).
    */
  def byteSymbols(word: String): Array[String] = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    bytes.map(b => String.valueOf(ByteToUnicode(b & 0xff)))
  }

  /** Inverse of [[ByteToUnicode]] (it is a bijection). */
  private lazy val UnicodeToByte: java.util.HashMap[Character, java.lang.Byte] = {
    val m = new java.util.HashMap[Character, java.lang.Byte]()
    ByteToUnicode.zipWithIndex.foreach { case (c, b) =>
      m.put(c, b.toByte)
    }
    m
  }

  /** Decode byte-level BPE tokens back to the original text — the
    * reversibility byte-level tokenization is FOR: tokens concatenate
    * to the byte-mapped text (the GPT-2 pretokenizer partitions its
    * input), each symbol char maps back through the bijection, and
    * the byte sequence UTF-8-decodes. A char outside the byte-symbol
    * alphabet refuses loudly (mixing code-point tokens into a
    * byte-level decode silently corrupts text).
    */
  def decodeByteTokens(tokens: Seq[String]): String = {
    val buf = new java.io.ByteArrayOutputStream()
    tokens.foreach(_.foreach { ch =>
      val b = UnicodeToByte.get(ch)
      require(b != null,
        s"'$ch' (U+${ch.toInt.toHexString}) is not a byte-level " +
          "symbol — these tokens were not produced by " +
          "byte_bpe_encode")
      buf.write(b.byteValue().toInt)
    })
    new String(buf.toByteArray,
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Distributed pretoken-type frequency table for the byte-level
    * trainer: one row per distinct GPT-2-regex pretoken (the space
    * rides with its word — `" the"` and `"the"` are DIFFERENT
    * types, as in the original). Same one-shuffle scale shape as
    * [[wordCounts]]: explode + groupBy(token) with map-side partial
    * aggregation is the only corpus-size-dependent stage.
    */
  def pretokenCounts(df: DataFrame, textCol: String): DataFrame =
    spread(df)
      .select(explode(regexp_extract_all(col(textCol),
        lit(Gpt2Pretokenizer), lit(0))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Learn BYTE-LEVEL (GPT-2-style) BPE merges: pretokenize with the
    * GPT-2 regex (spaces travel with their word), map each pretoken
    * type to its [[byteSymbols]] byte-fallback sequence, then run
    * the SAME deterministic merge loop as [[learnBpeMerges]] —
    * (count desc, left asc, right asc) argmax, non-overlapping
    * left-to-right replacement, early stop under `minPairCount`.
    * Returned entries are `"left right"` strings over byte-unicode
    * symbols in learned order. Differences from the code-point
    * trainer, by construction: the alphabet is ≤ 256 symbols so
    * nothing is ever out-of-alphabet (emoji and broken encodings
    * segment into byte pieces instead of failing), and leading
    * spaces are IN the types (`" the"` learns its own merges), which
    * is what makes GPT-2 tokenization reversible. Scale shape
    * identical to [[learnBpeMerges]]: one distributed type count,
    * then a capped driver-side loop constant in corpus size.
    */
  def learnByteBpeMerges(df: DataFrame, textCol: String,
                         numMerges: Int, maxTypes: Int = 65536,
                         minPairCount: Long = 2L): Seq[String] = {
    require(numMerges >= 1, "numMerges must be >= 1")
    require(maxTypes >= 1, "maxTypes must be >= 1")
    require(minPairCount >= 1L, "minPairCount must be >= 1")
    val types = pretokenCounts(df, textCol)
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxTypes)
      .take(maxTypes)
      .map(r => (r.getString(0), r.getLong(1)))
    learnFromSymbolTypes(
      types.map { case (w, c) => (byteSymbols(w), c) }, numMerges,
      minPairCount)
  }

  // --- Unigram-LM (SentencePiece-style) tokenizer ---------------------

  /** The piece every out-of-vocabulary character segments to. */
  val UnkPiece = "<unk>"

  /** Default log-probability charged per [[UnkPiece]] — low enough
    * that any in-vocabulary segmentation beats an unk, high enough
    * to stay finite arithmetic.
    */
  val UnkLogProb: Double = -20.0

  /** Viterbi-best segmentation of `word` under a unigram piece model
    * (Kudo 2018, "Subword Regularization", Eq. 3's argmax): maximize
    * the sum of piece log-probabilities over all segmentations, DP
    * over code-point boundaries (pieces never split a surrogate
    * pair). A position with no in-vocabulary piece consumes ONE code
    * point as [[UnkPiece]] at `unkLogProb`, so every input segments.
    * Deterministic tie-break at equal score: fewer pieces, then the
    * longer final piece — pinned by spec against brute-force
    * enumeration. Shared verbatim by the trainer's E-step and the
    * `unigram_encode` expression, so training statistics and
    * inference segmentations agree by construction.
    *
    * The unk fallback fires only at positions NO vocabulary piece
    * reaches; that equals the global optimum whenever `unkLogProb`
    * is below every vocabulary log-prob (then any unk-through path
    * is dominated) — true by construction for [[UnkLogProb]] against
    * trained vocabularies, whose floors bottom out around
    * ln(0.5/total_usage).
    */
  def viterbiSegment(word: String,
                     logProb: java.util.HashMap[String, java.lang.Double],
                     maxPieceLen: Int,
                     unkLogProb: Double = UnkLogProb): Array[String] = {
    // code-point boundary offsets into the UTF-16 string
    val nChars = word.length
    if (nChars == 0) return Array.empty
    val bounds = new Array[Int](nChars + 1)
    var nb = 0
    var i = 0
    while (i <= nChars) {
      bounds(nb) = i; nb += 1
      if (i < nChars) i += Character.charCount(word.codePointAt(i))
      else i += 1
    }
    val n = nb - 1 // number of code points
    val score = new Array[Double](n + 1)
    val pieces = new Array[Int](n + 1) // piece count of best path
    val backLen = new Array[Int](n + 1) // code points consumed
    val backUnk = new Array[Boolean](n + 1)
    score(0) = 0.0
    var p = 1
    while (p <= n) {
      var bestScore = Double.NegativeInfinity
      var bestPieces = Int.MaxValue
      var bestLen = 0
      var bestUnk = false
      var len = 1
      val maxL = math.min(maxPieceLen, p)
      while (len <= maxL) {
        val s = word.substring(bounds(p - len), bounds(p))
        val lp = logProb.get(s)
        if (lp != null) {
          val cand = score(p - len) + lp.doubleValue()
          val candPieces = pieces(p - len) + 1
          // higher score; then fewer pieces; then longer last piece
          if (cand > bestScore ||
              (cand == bestScore && (candPieces < bestPieces ||
                (candPieces == bestPieces && len > bestLen)))) {
            bestScore = cand; bestPieces = candPieces
            bestLen = len; bestUnk = false
          }
        }
        len += 1
      }
      if (bestLen == 0) { // no piece reaches p: one code point of unk
        bestScore = score(p - 1) + unkLogProb
        bestPieces = pieces(p - 1) + 1
        bestLen = 1; bestUnk = true
      }
      score(p) = bestScore; pieces(p) = bestPieces
      backLen(p) = bestLen; backUnk(p) = bestUnk
      p += 1
    }
    // backtrack
    val out = new Array[String](pieces(n))
    var pos = n
    var j = pieces(n) - 1
    while (pos > 0) {
      out(j) =
        if (backUnk(pos)) UnkPiece
        else word.substring(bounds(pos - backLen(pos)), bounds(pos))
      pos -= backLen(pos); j -= 1
    }
    out
  }

  /** Learn a unigram-LM piece vocabulary (Kudo 2018; the
    * SentencePiece `--model_type=unigram` family) over the corpus's
    * word types: seed with the highest-frequency substrings (all
    * single code points always included, so coverage never breaks),
    * then alternate hard-EM rounds — E: Viterbi-segment every word
    * type under current piece log-probs, counting piece usage
    * weighted by type count; M: re-estimate log-probs from usage —
    * with pruning rounds that drop the least-used multi-character
    * pieces by `shrinkFactor` until exactly `vocabSize` pieces
    * remain, then settle with one final EM round. Deviation from the
    * paper, documented: the E-step uses the Viterbi (hard) count
    * rather than full forward–backward expectations — the classic
    * hard-EM simplification; determinism and the shared-with-
    * inference segmentation rule matter more here than the last few
    * tenths of a bit of held-out likelihood, and the spec pins the
    * trainer to an independent brute-force replay.
    *
    * Scale shape identical to [[learnBpeMerges]]: ONE distributed
    * word-type count shuffle, then a driver loop over the capped
    * type table, constant in corpus size. Returns `(piece, logProb)`
    * sorted (logProb desc, piece asc); single code points are never
    * pruned, so `vocabSize` must be ≥ the alphabet size + 1.
    */
  def learnUnigram(df: DataFrame, textCol: String, vocabSize: Int,
                   maxTypes: Int = 65536, maxPieceLen: Int = 8,
                   seedFactor: Int = 4,
                   shrinkFactor: Double = 0.75): Seq[(String, Double)] = {
    require(vocabSize >= 2, "vocabSize must be >= 2")
    require(maxTypes >= 1, "maxTypes must be >= 1")
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    require(seedFactor >= 1, "seedFactor must be >= 1")
    require(shrinkFactor > 0.0 && shrinkFactor < 1.0,
      s"shrinkFactor must be in (0,1), got $shrinkFactor")
    learnUnigramFromTypes(typeTable(df, textCol, maxTypes), vocabSize,
      maxPieceLen, seedFactor, shrinkFactor)
  }

  /** BYTE-FALLBACK unigram-LM (the [[learnByteBpeMerges]] twin of
    * [[learnUnigram]], SentencePiece's `--byte_fallback` idea):
    * pretokenize with the GPT-2 regex (spaces travel with their
    * word), map each pretoken type through [[byteSymbols]] — one
    * printable code point per UTF-8 byte — and run the SAME
    * EM/prune loop over the byte-mapped types. The FULL 256-symbol
    * byte alphabet is seeded into the vocabulary (bytes the corpus
    * never produced enter as count-1 Laplace types and settle at
    * the M-step's epsilon floor), and single-code-point pieces are
    * never pruned — so EVERY position of ANY input has at least its
    * single-byte piece and `<unk>` is structurally impossible:
    * emoji, CJK, broken encodings all segment into byte pieces.
    * Tokens decode losslessly via [[decodeByteTokens]] (pieces are
    * byte-symbol strings and the pretokenizer partitions its
    * input). `vocabSize` must exceed 256 (the never-pruned
    * alphabet). Scale shape identical to [[learnUnigram]]: ONE
    * distributed pretoken-type count shuffle, then a capped driver
    * loop constant in corpus size.
    */
  def learnByteUnigram(df: DataFrame, textCol: String,
                       vocabSize: Int, maxTypes: Int = 65536,
                       maxPieceLen: Int = 8, seedFactor: Int = 4,
                       shrinkFactor: Double = 0.75)
      : Seq[(String, Double)] = {
    require(vocabSize > 256,
      s"vocabSize $vocabSize must exceed the 256-symbol byte " +
        "alphabet (always seeded, never pruned) — nothing would " +
        "be learned")
    require(maxTypes >= 1, "maxTypes must be >= 1")
    val types = pretokenCounts(df, textCol)
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxTypes)
      .take(maxTypes)
      .map(r => (byteSymbols(r.getString(0)).mkString, r.getLong(1)))
    require(types.nonEmpty, "empty type table — no corpus words")
    val seen = types.iterator.flatMap(_._1.iterator).toSet
    val fallback = ByteToUnicode.iterator
      .filterNot(seen.contains)
      .map(c => (String.valueOf(c), 1L)).toArray
    learnUnigramFromTypes(types ++ fallback, vocabSize, maxPieceLen,
      seedFactor, shrinkFactor)
  }

  /** The driver-side unigram EM/prune loop over an already-aggregated
    * `(wordType, count)` table (see [[learnFromTypes]] for why this
    * split exists).
    */
  def learnUnigramFromTypes(types: Array[(String, Long)],
                            vocabSize: Int, maxPieceLen: Int = 8,
                            seedFactor: Int = 4,
                            shrinkFactor: Double = 0.75)
      : Seq[(String, Double)] = {
    require(types.nonEmpty, "empty type table — no corpus words")
    // 1. substring seed scores: every ≤ maxPieceLen-code-point
    //    substring of every type, weighted by type count
    val scores = new java.util.HashMap[String, java.lang.Long]()
    val singles = scala.collection.mutable.SortedSet[String]()
    types.foreach { case (w, c) =>
      val b = codePointBounds(w)
      val n = b.length - 1
      var s = 0
      while (s < n) {
        var e = s + 1
        while (e <= math.min(n, s + maxPieceLen)) {
          val piece = w.substring(b(s), b(e))
          if (e == s + 1) singles += piece
          val prev = scores.get(piece)
          scores.put(piece, if (prev == null) c else prev.longValue() + c)
          e += 1
        }
        s += 1
      }
    }
    require(vocabSize > singles.size,
      s"vocabSize $vocabSize must exceed the corpus alphabet " +
        s"(${singles.size} single-code-point pieces, which are never " +
        "pruned) — nothing would be learned")
    // 2. seed vocab: singles + top multi-char substrings by
    //    (score desc, piece asc)
    val seedTarget = math.max(vocabSize.toLong * seedFactor,
      vocabSize.toLong + 16L).min(Int.MaxValue.toLong).toInt
    val multis = new java.util.ArrayList[(String, Long)]()
    scores.forEach { (piece, sc) =>
      if (!singles.contains(piece)) multis.add((piece, sc.longValue()))
    }
    multis.sort { (x: (String, Long), y: (String, Long)) =>
      if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
      else x._1.compareTo(y._1)
    }
    var vocab = scala.collection.mutable.LinkedHashMap[String, Double]()
    val seedMultis = math.max(0, seedTarget - singles.size)
    val totalSeed = {
      var t = 0L
      singles.foreach(sp => t += scores.get(sp).longValue())
      var k = 0
      while (k < math.min(seedMultis, multis.size())) {
        t += multis.get(k)._2; k += 1
      }
      t.toDouble
    }
    singles.foreach { sp =>
      vocab(sp) = math.log(scores.get(sp).longValue() / totalSeed)
    }
    var k = 0
    while (k < math.min(seedMultis, multis.size())) {
      val (piece, sc) = multis.get(k)
      vocab(piece) = math.log(sc / totalSeed)
      k += 1
    }

    // 3. EM + prune until vocabSize, then one settling EM round
    def emRound(): java.util.HashMap[String, java.lang.Long] = {
      val lp = new java.util.HashMap[String, java.lang.Double]()
      vocab.foreach { case (piece, l) => lp.put(piece, l) }
      val usage = new java.util.HashMap[String, java.lang.Long]()
      types.foreach { case (w, c) =>
        viterbiSegment(w, lp, maxPieceLen).foreach { piece =>
          if (piece != UnkPiece) {
            val prev = usage.get(piece)
            usage.put(piece,
              if (prev == null) c else prev.longValue() + c)
          }
        }
      }
      usage
    }
    def mStep(usage: java.util.HashMap[String, java.lang.Long]): Unit = {
      var total = 0.0
      usage.forEach { (_, u) => total += u.longValue() }
      // epsilon floor keeps unused-but-kept pieces (singles) finite
      val floor = math.log(0.5 / math.max(total, 1.0))
      val next = scala.collection.mutable.LinkedHashMap[String, Double]()
      vocab.keysIterator.foreach { piece =>
        val u = usage.get(piece)
        next(piece) =
          if (u == null || u.longValue() == 0L) floor
          else math.log(u.longValue() / total)
      }
      vocab = next
    }
    var done = false
    var rounds = 0
    while (!done && rounds < 100) {
      val usage = emRound()
      if (vocab.size > vocabSize) {
        // prune multi-char pieces by (usage desc, piece asc) to the
        // shrink target — never below vocabSize, and ALWAYS at least
        // one piece fewer than now (ceil alone can stall on small
        // vocabularies)
        val multisCount = vocab.size - singles.size
        val shrunk = math.ceil(multisCount * shrinkFactor).toInt
        val keepMultis = math.max(vocabSize - singles.size,
          math.min(shrunk, multisCount - 1))
        val ranked = vocab.keysIterator
          .filterNot(singles.contains).toArray
          .map(piece => (piece, {
            val u = usage.get(piece)
            if (u == null) 0L else u.longValue()
          }))
          .sortWith { (x, y) =>
            if (x._2 != y._2) x._2 > y._2 else x._1 < y._1
          }
        val kept = ranked.take(keepMultis).map(_._1).toSet
        val next = scala.collection.mutable.LinkedHashMap[String, Double]()
        vocab.foreach { case (piece, l) =>
          if (singles.contains(piece) || kept(piece)) next(piece) = l
        }
        vocab = next
        mStep(emRound())
      } else {
        mStep(usage)
        done = true
      }
      rounds += 1
    }
    vocab.toSeq.sortWith { (x, y) =>
      if (x._2 != y._2) x._2 > y._2 else x._1 < y._1
    }
  }

  private def codePointBounds(w: String): Array[Int] = {
    val bounds = new Array[Int](w.length + 1)
    var nb = 0
    var i = 0
    while (i <= w.length) {
      bounds(nb) = i; nb += 1
      if (i < w.length) i += Character.charCount(w.codePointAt(i))
      else i += 1
    }
    java.util.Arrays.copyOf(bounds, nb)
  }

  /** Persist a learned unigram vocabulary as `(piece STRING,
    * log_prob DOUBLE)` parquet with the frozen-artifact discipline of
    * [[writeMerges]] (sidecar last, errorifexists, pinned size).
    */
  def writeUnigram(spark: org.apache.spark.sql.SparkSession,
                   vocab: Seq[(String, Double)], path: String): Unit = {
    import spark.implicits._
    require(vocab.nonEmpty, "refusing to persist an empty vocabulary")
    vocab.zipWithIndex.map { case ((piece, lp), i) => (i, piece, lp) }
      .toDF("rank", "piece", "log_prob")
      .repartition(1)
      .write.mode("errorifexists").parquet(path)
    val json = s"""{"kind": "unigram_vocab", "version": 1, """ +
      s""""vocab_size": ${vocab.length}}"""
    val p = new org.apache.hadoop.fs.Path(path, "_graft_index.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read back a [[writeUnigram]] artifact in rank order (bounded
    * artifact — see [[readMerges]]).
    */
  def readUnigram(spark: org.apache.spark.sql.SparkSession,
                  path: String): Seq[(String, Double)] = {
    val mp = new org.apache.hadoop.fs.Path(path, "_graft_index.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(mp),
      s"$path has no _graft_index.json sidecar — not a complete " +
        "graft tokenizer artifact (crashed build, or a plain parquet dir)")
    val in = fs.open(mp)
    val raw = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val meta = "\"([a-z_]+)\"\\s*:\\s*\"?([A-Za-z0-9_]+)\"?".r
      .findAllMatchIn(raw).map(m => m.group(1) -> m.group(2)).toMap
    require(meta.get("kind").contains("unigram_vocab"),
      s"$path is a '${meta.getOrElse("kind", "?")}' artifact, not " +
        "'unigram_vocab'")
    require(meta.get("version").contains("1"),
      s"$path was written by artifact version " +
        s"${meta.getOrElse("version", "?")}; this library reads 1")
    val nStr = meta.getOrElse("vocab_size", "")
    require(nStr.nonEmpty && nStr.forall(_.isDigit),
      s"$path sidecar is corrupt or foreign: missing or non-numeric " +
        s"'vocab_size' (got '${meta.getOrElse("vocab_size", "absent")}')")
    val n = nStr.toInt
    val rows = spark.read.parquet(path)
      .orderBy("rank")
      .select("rank", "piece", "log_prob")
      .take(n + 1)
    require(rows.length == n &&
      rows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      s"$path is corrupt: expected ranks 0..${n - 1}, got " +
        s"${rows.length} rows")
    rows.map(r => (r.getString(1), r.getDouble(2))).toSeq
  }

  /** The vocabulary a learned merge list induces: all single
    * code-point symbols seen in the (capped) type table plus one
    * entry per merge product, i.e. every symbol
    * `bpe_encode(…, merges)` can ever emit for in-distribution
    * words. Sorted for determinism.
    */
  def bpeVocab(df: DataFrame, textCol: String, merges: Seq[String],
               maxTypes: Int = 65536): Seq[String] = {
    val types = typeTable(df, textCol, maxTypes)
    val alphabet = scala.collection.mutable.SortedSet[String]()
    types.foreach { case (w, _) =>
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        alphabet += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
    }
    (alphabet ++ merges.map(_.replace(" ", ""))).toSeq.sorted
  }
}
