package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column-function facade over graft's custom Catalyst expressions.
  * These are native `Expression`s (not Scala UDFs): no serialization
  * boundary, null-safety handled by the expression contract, and the
  * hot loops run over Catalyst ArrayData without boxing.
  */
package object functions {

  private def c(e: Expression): Column = toColumn(e)

  /** 64-bit SimHash of a token array (FNV-1a per token, sign-vote per
    * bit). Near-dup distance = bit_count(a ^ b).
    */
  def simhash64(tokens: Column): Column =
    c(expressions.SimHash64(toExpression(tokens)))

  /** SimHash64 straight from raw text (fused tokenize+hash). */
  def simhash64_text(text: Column): Column =
    c(expressions.SimHashText(toExpression(text)))

  /** MD5-token-hash SimHash64 of a token array — bit-reproducible by
    * any engine with md5() (used where signatures must be externally
    * verifiable; the FNV forms are the faster default).
    */
  def simhash64_md5(tokens: Column): Column =
    c(expressions.SimHashMd5(toExpression(tokens)))

  /** 128-bit MD5 SimHash of a token array → array<bigint> [hi, lo];
    * hi == simhash64_md5. The scale path past 64-bit banding: 4×32-bit
    * bands give 2^32 buckets per band (vs 2^16), removing the
    * ~10M-docs-per-scope candidate-volume ceiling.
    */
  def simhash128_md5(tokens: Column): Column =
    c(expressions.SimHashMd5Wide(toExpression(tokens)))

  /** Distinct word n-gram shingles hashed to longs in one pass over
    * the UTF-8 bytes (no token/shingle strings).
    */
  def shingle_hashes(text: Column, n: Int): Column =
    c(expressions.ShingleHashes(toExpression(text), n))

  /** MinHash signature (k 64-bit minimums) of a string-array column —
    * one byte-level hash per element, k permutations via h1 + i·h2.
    */
  /** Positional word n-gram hashes (every occurrence, token order;
    * empty array for docs shorter than n tokens) — `posexplode` it
    * for the (position, gram-hash) stream behind positional dedup.
    * Same tokenization/hashing as `shingle_hashes`.
    */
  def gram_hashes(text: Column, n: Int): Column =
    c(expressions.GramHashes(toExpression(text), n))

  /** Per-phrase occurrence counts (array<long>, aligned with
    * `patterns`) in one Aho–Corasick pass: every start position of
    * every phrase counted, overlapping included, byte-exact. See
    * `TextAnalysis.blocklistStats`.
    */
  def multi_pattern_counts(text: Column, patterns: Seq[String]): Column =
    c(expressions.MultiPatternCounts(toExpression(text), patterns))

  /** True iff ANY phrase occurs — first-hit early exit, zero per-row
    * allocation; the drop-filter spelling of `multi_pattern_counts`.
    * See `TextAnalysis.dropBlocklisted`.
    */
  def multi_pattern_any(text: Column, patterns: Seq[String]): Column =
    c(expressions.MultiPatternAny(toExpression(text), patterns))

  /** Merge-list byte-pair encoding (GPT-2 inference semantics):
    * whitespace words → code-point symbols → iterative lowest-rank
    * merges from the "left right" priority list → array<string>
    * tokens. The real trained-tokenizer artifact; see
    * `expressions.BpeEncode`.
    */
  def bpe_encode(text: Column, merges: Seq[String]): Column =
    c(expressions.BpeEncode(toExpression(text), merges))

  /** BYTE-LEVEL (GPT-2-style) BPE encoding: GPT-2 regex pretokens
    * (the space rides with its word) → UTF-8 bytes → byte-unicode
    * fallback symbols → iterative lowest-rank merges from a
    * `Tokenizer.learnByteBpeMerges` list → array<string> tokens.
    * Reversible: `Tokenizer.decodeByteTokens` inverts it exactly.
    */
  def byte_bpe_encode(text: Column, merges: Seq[String]): Column =
    c(expressions.ByteBpeEncode(toExpression(text), merges))

  /** Unigram-LM (SentencePiece-style) encoding: whitespace words →
    * Viterbi-best segmentation under `(piece, logProb)` vocab from
    * `Tokenizer.learnUnigram`; OOV code points emit `<unk>`. See
    * `expressions.UnigramEncode`.
    */
  def unigram_encode(text: Column, vocab: Seq[(String, Double)]): Column =
    c(expressions.UnigramEncode(toExpression(text), vocab))

  /** BYTE-FALLBACK unigram-LM encoding: GPT-2 pretokens → byte→
    * unicode mapping → Viterbi-best segmentation under a
    * `Tokenizer.learnByteUnigram` vocab. No input ever emits
    * `<unk>`; `Tokenizer.decodeByteTokens` inverts it exactly. See
    * `expressions.ByteUnigramEncode`.
    */
  def byte_unigram_encode(text: Column,
                          vocab: Seq[(String, Double)]): Column =
    c(expressions.ByteUnigramEncode(toExpression(text), vocab))

  /** Winnowing fingerprint selections in one native pass:
    * array<struct<pos, fp>> of each window's min gram-md5 (rightmost
    * ties), distinct, position order. See `Dedup.winnowingFingerprints`.
    */
  def winnow_fingerprints(text: Column, n: Int, window: Int): Column =
    c(expressions.WinnowFingerprints(toExpression(text), n, window))

  def minhash_signature(shingles: Column, k: Int): Column =
    c(expressions.MinHashSignature(toExpression(shingles), k))

  /** Greedy longest-match WordPiece tokenization (the BERT inference
    * rule): array<string> of subword pieces, continuations carrying
    * their `##` prefix, unmatched words collapsing to `unk`. The real
    * subword-token counter behind packing budgets —
    * `size(wordpiece_encode(text, vocab))` — where `tokenize_bpeish`
    * only approximates boundaries. Whitespace splitting matches
    * `TextAnalysis.tokenize`.
    */
  def wordpiece_encode(text: Column, vocab: Seq[String],
                       unk: String = "[UNK]"): Column =
    c(expressions.WordPieceEncode(toExpression(text), vocab, unk))

  /** Cosine similarity of two float/double array columns, accumulated
    * in double (sequential loop — bit-compatible with a scalar
    * reference implementation).
    */
  def cosine_similarity(a: Column, b: Column): Column =
    c(expressions.CosineSimilarity(
      toExpression(a), toExpression(b)))

  /** IEEE 754 bit patterns of a numeric array (floats widened to
    * double first) — lossless array<bigint> transport for embeddings.
    */
  def double_bits(a: Column): Column =
    c(expressions.DoubleBits(toExpression(a)))

  /** Dot product of two numeric array columns in double. */
  def dot_product(a: Column, b: Column): Column =
    c(expressions.DotProduct(
      toExpression(a), toExpression(b)))

  /** L2-normalize a numeric array column to a unit double vector. */
  def l2_normalize(a: Column): Column =
    c(expressions.L2Normalize(toExpression(a)))

  /** Bottom-k (KMV) distinct-sketch aggregate over an ALREADY-HASHED
    * bigint column — the bounded-buffer native aggregate behind
    * [[graft.operators.Sketches]]; use that facade for the
    * hash-and-flip wrapper and the estimators.
    */
  def kmv_sketch(hashed: Column, k: Int): Column =
    toColumn(expressions
      .KmvSketchAgg(toExpression(hashed), k)
      .toAggregateExpression())

  /** Misra–Gries heavy-hitters aggregate over a string item column —
    * struct(items: map<string,bigint>, err: bigint); see
    * [[graft.operators.Sketches.frequentItems]] for the row-level
    * facade and the error contract.
    */
  def freq_sketch(item: Column, capacity: Int): Column =
    toColumn(expressions
      .FreqSketchAgg(toExpression(item), capacity)
      .toAggregateExpression())

  /** Element-wise vector-sum aggregate over an array<float|double>
    * embedding column — dim doubles + a count of state per group;
    * the bounded-state primitive behind the embedding-centroid drift
    * monitor ([[graft.operators.Drift]]). Null vectors skip; ragged
    * dimensions raise.
    */
  def vec_sum(vec: Column): Column =
    toColumn(expressions
      .VecSumAgg(toExpression(vec))
      .toAggregateExpression())

  /** Hashed classifier feature buckets of a token array — the native
    * spelling of `TextAnalysis.featureBuckets` (per feature: one md5
    * digest, first 4 bytes mod dim; `ngrams = 2` appends adjacent
    * space-joined pair buckets) — value-identical to the h32 oracle
    * contract, one digest per feature instead of three expression
    * nodes plus interpreted lambda machinery.
    */
  def hashed_buckets(tokens: Column, dim: Int, ngrams: Int = 1): Column =
    c(expressions.HashedBuckets(toExpression(tokens), dim, ngrams))

  /** Σ weights(b) over a bucket array (exact int64, order-free) — the
    * trained scorer's dot product without the per-element interpreted
    * fold.
    */
  def bucket_dot(buckets: Column, weights: Seq[Long]): Column =
    c(expressions.BucketDot(toExpression(buckets),
      weights.toArray))

  /** Per-bucket weighted occurrence sums in one aggregation pass —
    * grad[b] = Σ rows c · occurrences(b): the learnHashedLinear
    * gradient without exploding a row per feature occurrence; state
    * and exchange payload are `dim` longs flat.
    */
  def bucket_hist(buckets: Column, weight: Column, dim: Int): Column =
    toColumn(expressions
      .BucketHistAgg(toExpression(buckets),
        toExpression(weight), dim)
      .toAggregateExpression())

  /** PQ nearest-codeword ids for a vector (Jégou et al. 2011) —
    * the m-int compressed form of an embedding. The codebook is a
    * driver-built constant baked into the expression.
    */
  def pq_assign(vec: Column, cb: Array[Array[Array[Double]]],
                normalize: Boolean = true): Column =
    c(expressions.PqAssign(toExpression(vec), cb, normalize))

  /** Per-query ADC distance table (m × nCodes squared L2).
    * `normalize = false` is the residual (IVF-PQ) mode: the input is
    * a residual on the unit sphere, not a unit vector.
    */
  def pq_dist_table(vec: Column, cb: Array[Array[Array[Double]]],
                    normalize: Boolean = true): Column =
    c(expressions.PqDistTable(toExpression(vec), cb, normalize))

  /** ADC score: Σ_s dtab[s][codes[s]] — the PQ candidate-scan
    * distance (m primitive lookups per corpus row).
    */
  def pq_adc(codes: Column, dtab: Column): Column =
    c(expressions.PqAdc(toExpression(codes),
      toExpression(dtab)))

  /** Constant-matrix × vector product (the OPQ rotation projection):
    * out_i = Σ_j m[i][j]·vec_j, tight primitive loops, matrix baked
    * into the plan.
    */
  def mat_vec(vec: Column, m: Array[Array[Double]]): Column =
    c(expressions.MatVec(toExpression(vec), m))

  /** Polynomial rolling hash (Rabin-Karp, base 1000003) of a string —
    * content fingerprinting primitive.
    */
  def rolling_hash(text: Column): Column =
    c(expressions.RollingHash(toExpression(text)))

  /** DataFusion-parity date_bin: floor `ts` to `strideSeconds` buckets
    * anchored at `originEpochSeconds` (composes built-ins — stays in
    * codegen). Micros arithmetic, so sub-second timestamps bin
    * correctly; stride is whole seconds.
    */
  def date_bin(strideSeconds: Long, ts: Column,
               originEpochSeconds: Long = 0L): Column = {
    import org.apache.spark.sql.functions._
    val strideUs = strideSeconds * 1000000L
    val originUs = originEpochSeconds * 1000000L
    val off = unix_micros(ts) - lit(originUs)
    // off - pmod(off, stride) = floor-to-stride entirely in long
    // arithmetic (a double `/` would round near bucket edges); pmod's
    // non-negative remainder gives floor semantics pre-origin too
    timestamp_micros(off - pmod(off, lit(strideUs)) + lit(originUs))
  }

  /** Sign-random-projection LSH bucket id for an embedding: bit p of
    * the result = sign(dot(embedding, plane_p)), planes drawn
    * deterministically from `seed`. nPlanes ≤ 30.
    */
  def hyperplane_lsh_bucket(emb: Column, nPlanes: Int, dim: Int,
                            seed: Long = 42L): Column =
    c(expressions.HyperplaneLshBucket(
      toExpression(emb), nPlanes, dim, seed))

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) — the canonical-form
    * step before any content hashing; already-normalized text passes
    * through untouched.
    */
  def unicode_normalize(text: Column, form: String = "NFC"): Column =
    c(expressions.UnicodeNormalize(toExpression(text), form))

  /** Strip combining marks ('café' → 'cafe'); agrees with
    * DuckDB/utf8proc strip_accents on Latin accents.
    */
  def strip_accents(text: Column): Column =
    c(expressions.StripAccents(toExpression(text)))
}
