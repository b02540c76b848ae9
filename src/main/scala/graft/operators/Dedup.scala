package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft.spread

/** Deduplication operators for 100TB-scale corpora.
  *
  * Scale design notes:
  *  - exact dedup = one hash-shuffle on a 16-byte digest (never on the
  *    full text) — the shuffle payload is (digest, id), not documents;
  *  - MinHash LSH: candidate generation is an equi-join on
  *    (band_index, band_hash) — a plain shuffled hash join Catalyst
  *    can plan, with AQE skew-splitting absorbing hot buckets; the
  *    quadratic blow-up is confined to within-bucket pairs;
  *  - SimHash: 64-bit signature, banded into 4×16-bit keys —
  *    pigeonhole guarantees hamming≤3 pairs collide on ≥1 band;
  *  - verification (exact Jaccard / hamming) runs only on candidate
  *    pairs, after `dropDuplicates` on the pair key.
  */
object Dedup {

  import TextAnalysis.tokenize

  /** Distinct word n-gram shingles; a document shorter than n tokens
    * contributes its whole text as one shingle.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokenize(text)
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))
  }

  /** Distinct word n-gram shingles hashed straight to longs in one
    * native pass (no token/shingle string materialization) — the hot
    * path spelling of [[shingles]]; use for pair generation, keep the
    * string form where humans read the shingles.
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    graft.functions.shingle_hashes(text, n)

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact-duplicate groups by content hash: one row per distinct
    * content, with the surviving (minimum) id and group size.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Keep-first exact dedup: rows whose id is the keeper of its
    * content-hash group. Implemented as a min-by aggregation (single
    * shuffle on the digest), not a window, so partial aggregation
    * applies map-side.
    */
  def dropExactDuplicates(df: DataFrame, textCol: String,
                          idCol: String): DataFrame = {
    val keepers = exactGroups(df, textCol, idCol)
      .select(col("keeper_id").as(idCol))
    df.join(keepers, idCol)
  }

  /** MinHash signature: k minimums over shingles — native one-pass
    * expression (graft.expressions.MinHashSignature): one byte hash
    * per shingle, k permutation values via h1 + i·h2.
    */
  def minhashSignature(shingleCol: Column, k: Int = 16): Column =
    graft.functions.minhash_signature(shingleCol, k)

  /** LSH band keys from a MinHash signature: `bands` hashes, each over
    * a contiguous `k/bands`-row slice of the signature. Two docs with
    * Jaccard j collide on ≥1 band with p = 1-(1-j^r)^b.
    */
  def lshBandKeys(sigCol: Column, bands: Int = 4, rows: Int = 4): Column =
    // explicit array constructor, NOT transform(sequence(...), ...):
    // the values are identical (same per-band xxhash64(slice, band)),
    // but size(array(...)) constant-folds where size(transform(...))
    // does not — and the posexplode these keys feed makes the
    // optimizer infer a `size(bands) > 0` filter that predicate
    // pushdown then sinks BELOW the operators' spread exchanges,
    // re-running the whole signature chain on the raw 1–2-split scan
    // (round 17, profiled: d23's corpus side spent 5.4 s recomputing
    // 32-hash signatures on 2 tasks inside that inferred filter).
    // With a foldable size the inferred filter folds away entirely.
    array((0 until bands).map(b =>
      xxhash64(slice(sigCol, b * rows + 1, rows), lit(b))): _*)

  /** Derive the MinHash-LSH band count from the Jaccard threshold —
    * the [[autoPlanes]] self-sizing discipline applied to the other
    * LSH family. A (b bands × r rows) split of a k-hash signature
    * collides a pair of Jaccard j on ≥1 band with p = 1-(1-j^r)^b,
    * an S-curve whose knee sits at (1/b)^(1/r); candidates below the
    * knee mostly don't collide, above it mostly do. Candidates are
    * exact-Jaccard-verified downstream, so a missed collision is a
    * RECALL loss (wrong answer) while an extra collision is only
    * verify work — hence the rule errs toward more bands: the fewest
    * bands (among divisors of `numHashes`) whose knee ≤ `threshold`,
    * i.e. the cheapest grid whose mostly-collide region covers every
    * pair at or above the threshold. If even the k×1 split's knee
    * (1/k) exceeds the threshold, all k bands is the best available
    * recall and is returned.
    *
    * autoBands(16, 0.5) = 8 and autoBands(32, 0.5) = 16 — exactly
    * the hand-picked d4/d23 geometries, now derived instead of
    * constant.
    */
  def autoBands(numHashes: Int, threshold: Double): Int = {
    require(numHashes >= 1, "numHashes must be >= 1")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1] (got $threshold)")
    (1 to numHashes).find { b =>
      numHashes % b == 0 &&
        math.pow(1.0 / b, b.toDouble / numHashes) <= threshold
    }.getOrElse(numHashes)
  }

  /** MinHash-LSH near-duplicate pairs, verified with exact Jaccard.
    *
    * @return (idCol_1, idCol_2, jaccard) for candidate pairs whose
    *         exact n-gram Jaccard ≥ threshold, idCol_1 < idCol_2.
    */
  def minhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          shingleN: Int = 3, numHashes: Int = 16,
                          bands: Int = 0, threshold: Double = 0.5)
      : DataFrame = {
    // bands = 0 (the default): derive the band/row split from the
    // threshold via [[autoBands]] so the S-curve knee always covers
    // the verify threshold; explicit values remain an override
    val b = if (bands > 0) bands else autoBands(numHashes, threshold)
    require(numHashes % b == 0,
      s"bands ($b) must divide numHashes ($numHashes)")
    val rows = numHashes / b
    // band join ships only (band_idx, band_hash, id) — the shingle
    // arrays (hashed longs, not strings) rejoin below for the (few)
    // candidate pairs, not for every banded row
    val base = spread(df).select(col(idCol),
      shingleHashes(col(textCol), shingleN).as("__sh"))
    val exploded = base
      .select(col(idCol), posexplode(
        lshBandKeys(minhashSignature(col("__sh"), numHashes), b, rows))
        .as(Seq("__band_idx", "__band_hash")))
    val l = exploded.select(col(idCol).as("id1"), col("__band_idx"),
      col("__band_hash"))
    val r = exploded.select(col(idCol).as("id2"), col("__band_idx"),
      col("__band_hash"))
    val candidates = l.join(r, Seq("__band_idx", "__band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .dropDuplicates("id1", "id2")
    candidates
      .join(base.select(col(idCol).as("id1"), col("__sh").as("sh1")), "id1")
      .join(base.select(col(idCol).as("id2"), col("__sh").as("sh2")), "id2")
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1").as(s"${idCol}_1"), col("id2").as(s"${idCol}_2"),
        col("jaccard"))
  }

  /** Exact all-pairs n-gram Jaccard within a blocking column, as an
    * inverted-index join: explode shingles, equi-join on
    * (block, shingle), count shared shingles per pair, then
    * |A∩B| / (|A|+|B|-|A∩B|).
    *
    * Numerically identical to intersect/union over the arrays, but:
    *  - the join key is (block, shingle) — millions of distinct
    *    values, so parallelism never collapses to #blocks (a naive
    *    block-key join runs #distinct-blocks tasks and ships both
    *    shingle arrays with every pair row);
    *  - pairs sharing zero shingles are never materialized;
    *  - shuffle rows are (block, shingle, id), not documents.
    */
  def jaccardPairsWithinBlock(df: DataFrame, textCol: String, idCol: String,
                              blockCol: String, shingleN: Int = 3,
                              threshold: Double = 0.4): DataFrame = {
    // shingles live as hashed longs end-to-end: smaller shuffle rows,
    // long join keys, zero string materialization (collision odds
    // ~2^-64·|pairs| fold into the count). spread first (round 17):
    // `inv` feeds THREE consumers (sizes, l, r), so the shingle
    // explode re-executes per consumer — from a 1–2-split fixture
    // scan that serialized 3 full tokenize+hash passes onto 2 cores
    // (profiled 7.5 task-seconds at sf1); a production-scale scan is
    // already parallel and spread() no-ops.
    val inv = spread(df).select(col(blockCol), col(idCol),
      explode(shingleHashes(col(textCol), shingleN)).as("__shingle"))
    // shingle sets are distinct per doc, so per-doc set size falls out
    // of the inverted index — no second pass over the text
    val sizes = inv.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val l = inv.select(col(blockCol), col("__shingle"),
      col(idCol).as("id1"))
    val r = inv.select(col(blockCol), col("__shingle"),
      col(idCol).as("id2"))
    val shared = l.join(r, Seq(blockCol, "__shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("__n_int"))
    shared
      .join(sizes.select(col(idCol).as("id1"), col("__n").as("__n1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("__n").as("__n2")), "id2")
      .withColumn("jaccard", col("__n_int").cast("double") /
        (col("__n1") + col("__n2") - col("__n_int")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1").as(s"${idCol}_1"), col("id2").as(s"${idCol}_2"),
        col("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs within a blocking column:
    * containment(A in B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|.
    * The quote/subset detector Jaccard structurally misses: a short
    * doc fully embedded in a 20× longer one has containment ≈ 1 but
    * Jaccard ≈ 0.05, below any useful near-dup threshold. A pair
    * survives when EITHER direction reaches `threshold`; both
    * directions are reported so callers can tell "A quotes B" from
    * "B quotes A" (Broder 1997's resemblance-vs-containment split).
    *
    * Same inverted-index shape as [[jaccardPairsWithinBlock]] — the
    * join key is (block, shingle-hash) so parallelism never collapses
    * to #blocks, zero-overlap pairs never materialize, and shuffle
    * rows are (block, hash, id) longs, never documents.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       blockCol: String, shingleN: Int = 3,
                       threshold: Double = 0.9): DataFrame = {
    // spread: same three-consumer shingle-explode shape as
    // [[jaccardPairsWithinBlock]] (see the comment there)
    val inv = spread(df).select(col(blockCol), col(idCol),
      explode(shingleHashes(col(textCol), shingleN)).as("__shingle"))
    val sizes = inv.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val l = inv.select(col(blockCol), col("__shingle"),
      col(idCol).as("id1"))
    val r = inv.select(col(blockCol), col("__shingle"),
      col(idCol).as("id2"))
    val shared = l.join(r, Seq(blockCol, "__shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col(idCol).as("id1"), col("__n").as("__n1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("__n").as("__n2")), "id2")
      .withColumn("containment_1",
        col("n_shared").cast("double") / col("__n1"))
      .withColumn("containment_2",
        col("n_shared").cast("double") / col("__n2"))
      .filter(greatest(col("containment_1"), col("containment_2"))
        >= threshold)
      .select(col("id1").as(s"${idCol}_1"), col("id2").as(s"${idCol}_2"),
        col("n_shared"), col("containment_1"), col("containment_2"))
  }

  /** Cross-corpus containment overlap — the "X% of an eval example's
    * n-grams appear in this document" decontamination METRIC most
    * published recipes state: for each corpus doc, the maximum over
    * reference docs of |C∩R| / |R| (distinct shingles; the REFERENCE
    * doc's size is the denominator, so a 10k-token page fully quoting
    * a 40-token eval question scores 1.0 where Jaccard ([[
    * minhashOverlap]]) sees ~0.004 and misses it at any sane
    * threshold). Asymmetric cross-corpus counterpart of
    * [[containmentPairs]]; [[exciseContamination]] is the matching
    * removal, this is the graded detector/report.
    *
    * Returns one row per corpus doc whose best reference containment
    * reaches `threshold`: (corpusIdCol, refIdCol of the argmax —
    * ties to the smallest ref id — `n_shared`, `containment` rounded
    * to 6 places). Both engines compute the fraction as one IEEE
    * division of exact integer-valued doubles, so the threshold
    * filter and the argmax ordering are deterministic cross-engine.
    *
    * Scale: both sides reduce to (id, shingle-hash) pairs; the
    * reference index (shingles + per-doc sizes) BROADCASTS, the
    * corpus pays a map-side join plus one (corpus, ref)-keyed
    * partial-agg count — corpus text never shuffles and clean docs
    * never reach the aggregation.
    */
  def containmentOverlap(corpus: DataFrame, reference: DataFrame,
                         textCol: String, corpusIdCol: String,
                         refIdCol: String, shingleN: Int = 3,
                         threshold: Double = 0.5): DataFrame = {
    require(corpusIdCol != refIdCol,
      "corpusIdCol and refIdCol must differ (rename one side)")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // shingleHashes is per-doc distinct by contract → counts need no
    // extra dedup exchange on either side
    val refSh = reference.select(col(refIdCol),
      explode(shingleHashes(col(textCol), shingleN)).as("__g"))
    val refSize = refSh.groupBy(col(refIdCol))
      .agg(count(lit(1)).as("__nr"))
    val corpusSh = corpus.select(col(corpusIdCol),
      explode(shingleHashes(col(textCol), shingleN)).as("__g"))
    val hits = corpusSh
      .join(broadcast(refSh), Seq("__g"))
      .groupBy(col(corpusIdCol), col(refIdCol))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(refSize), Seq(refIdCol))
      .withColumn("__frac",
        col("n_shared").cast("double") / col("__nr").cast("double"))
      .filter(col("__frac") >= threshold)
    val w = Window.partitionBy(col(corpusIdCol))
      .orderBy(col("__frac").desc, col(refIdCol))
    hits.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(corpusIdCol), col(refIdCol), col("n_shared"),
        round(col("__frac"), 6).as("containment"))
  }

  /** SimHash near-dup pairs: 64-bit signatures banded into 4×16-bit
    * keys (hamming≤3 ⇒ ≥1 band equal), verified with bit_count(xor).
    *
    * Scale limit: 16-bit bands have 65,536 buckets, so expected
    * candidate volume grows as N²/65k per band — fine to ~10M docs per
    * blocking scope; beyond that use the 128-bit signature path
    * ([[simhash128NearDupPairs]] / [[simhashPairsFromSig128]]: 4×32-bit
    * bands, 2^32 buckets) or add a coarse blocking key (length bucket,
    * language) to the join, exactly as with MinHash banding.
    */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int = 3): DataFrame =
    simhashPairsFromSig(df, graft.functions.simhash64_text(col(textCol)),
      idCol, maxHamming)

  /** Banded candidate pairs from an array<bigint> signature column:
    * every 64-bit word splits into 64/bandBits keys, pairs equal on
    * ≥1 (band, key) surface exactly once. Output: (id1, id2, sig1,
    * sig2) with sig columns as the word arrays. Public so specs can
    * measure candidate volume per band width; the pair functions
    * below add the hamming verify.
    */
  def simhashBandCandidates(df: DataFrame, sig: Column, idCol: String,
                            bandBits: Int): DataFrame = {
    require(bandBits == 16 || bandBits == 32, "bandBits must be 16 or 32")
    val perWord = 64 / bandBits
    val mask = (1L << bandBits) - 1L
    // a mis-sized signature (e.g. 1 word with 32-bit bands) would make
    // element_at yield null band keys, silently dropping bands and
    // breaking the pigeonhole recall guarantee — fail loudly instead.
    // NULL signatures (null text) are a different case: they carry no
    // content to match, so they DROP (same as the scalar path and the
    // pre-guard behavior), never abort the job
    val expectedWords = (4 * bandBits + 63) / 64
    val base = spread(df).select(col(idCol), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
    require(base.schema("__sig").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType == org.apache.spark.sql.types.LongType,
      "signature must be array<bigint>")
    // NULL-SAFE guard: the isNotNull filter above precedes this in
    // the logical plan, but optimizer rewrites (predicate pushdown
    // around an exchange + codegen subexpression elimination) can
    // evaluate the projected expression on rows the filter would
    // drop — so the error branch must itself be unreachable for null
    // signatures, not merely sit behind a filter.
    val checked = when(col("__sig").isNull, col("__sig"))
      .when(size(col("__sig")) === expectedWords, col("__sig"))
      .otherwise(raise_error(concat(
        lit(s"simhash signature must have $expectedWords word(s) for " +
          s"$bandBits-bit bands, got "),
        size(col("__sig")).cast("string"))))
    val bands = array((0 until 4).map { b =>
      val word = element_at(col("__sig"), b / perWord + 1)
      shiftrightunsigned(word, (b % perWord) * bandBits)
        .bitwiseAND(lit(mask))
    }: _*)
    val exploded = base
      .withColumn("__sig", checked)
      .withColumn("__bands", bands)
      .select(col(idCol), col("__sig"),
        posexplode(col("__bands")).as(Seq("__band_idx", "__band_key")))
    val l = exploded.select(col(idCol).as("id1"), col("__sig").as("sig1"),
      col("__band_idx"), col("__band_key"))
    val r = exploded.select(col(idCol).as("id2"), col("__sig").as("sig2"),
      col("__band_idx"), col("__band_key"))
    l.join(r, Seq("__band_idx", "__band_key"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2")
      .select(col("id1"), col("id2"), col("sig1"), col("sig2"))
  }

  private def bandedPairs(df: DataFrame, sigWords: Column, idCol: String,
                          bandBits: Int, maxHamming: Int): DataFrame =
    simhashBandCandidates(df, sigWords, idCol, bandBits)
      .withColumn("hamming",
        aggregate(zip_with(col("sig1"), col("sig2"),
            (a, b) => bit_count(a.bitwiseXOR(b))),
          lit(0), (acc, x) => acc + x))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1").as(s"${idCol}_1"), col("id2").as(s"${idCol}_2"),
        col("hamming"))

  /** Single-word (64-bit) banding specialization: 4×16-bit keys
    * extracted straight from a scalar bigint signature. Same
    * explode/equi-join shape as [[simhashBandCandidates]], but the
    * signature rides the candidate join as one long — no `array()`
    * wrap — so verification downstream is a scalar
    * `bit_count(sig1 xor sig2)` (one codegen'd instruction pair per
    * candidate) instead of per-pair `zip_with`/`aggregate` array
    * machinery. Output: (id1, id2, sig1, sig2) with scalar sigs.
    */
  def simhashBandCandidates64(df: DataFrame, sig: Column,
                              idCol: String): DataFrame = {
    val base = spread(df).select(col(idCol), sig.as("__sig"))
      .filter(col("__sig").isNotNull) // null text → no signature → drop
    require(base.schema("__sig").dataType ==
        org.apache.spark.sql.types.LongType,
      "signature must be bigint; use simhashBandCandidates for arrays")
    val bands = array((0 until 4).map { b =>
      shiftrightunsigned(col("__sig"), b * 16).bitwiseAND(lit(0xFFFFL))
    }: _*)
    val exploded = base
      .withColumn("__bands", bands)
      .select(col(idCol), col("__sig"),
        posexplode(col("__bands")).as(Seq("__band_idx", "__band_key")))
    val l = exploded.select(col(idCol).as("id1"), col("__sig").as("sig1"),
      col("__band_idx"), col("__band_key"))
    val r = exploded.select(col(idCol).as("id2"), col("__sig").as("sig2"),
      col("__band_idx"), col("__band_key"))
    l.join(r, Seq("__band_idx", "__band_key"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2")
      .select(col("id1"), col("id2"), col("sig1"), col("sig2"))
  }

  /** Banded near-dup pairs from an arbitrary 64-bit signature column —
    * same banding/verify as [[simhashNearDupPairs]]; callers pick the
    * signature family (e.g. simhash64_md5 for externally verifiable
    * signatures). Routes through the scalar specialization
    * ([[simhashBandCandidates64]]), not the generic array path.
    */
  def simhashPairsFromSig(df: DataFrame, sig: Column, idCol: String,
                          maxHamming: Int = 3): DataFrame =
    simhashBandCandidates64(df, sig, idCol)
      .withColumn("hamming",
        bit_count(col("sig1").bitwiseXOR(col("sig2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1").as(s"${idCol}_1"), col("id2").as(s"${idCol}_2"),
        col("hamming"))

  /** Banded near-dup pairs from a 128-bit array<bigint> [hi, lo]
    * signature (graft.functions.simhash128_md5): 4×32-bit bands keep
    * the hamming≤3 pigeonhole guarantee with 2^32 buckets per band —
    * candidate volume N²/4.3B per band, removing the 64-bit family's
    * ~10M-docs-per-scope ceiling.
    */
  def simhashPairsFromSig128(df: DataFrame, sig: Column, idCol: String,
                             maxHamming: Int = 3): DataFrame =
    bandedPairs(df, sig, idCol, bandBits = 32, maxHamming)

  /** 128-bit SimHash near-dup pairs straight from text. */
  def simhash128NearDupPairs(df: DataFrame, textCol: String, idCol: String,
                             maxHamming: Int = 3): DataFrame =
    simhashPairsFromSig128(df,
      graft.functions.simhash128_md5(TextAnalysis.tokenize(col(textCol))),
      idCol, maxHamming)

  /** Embedding-cosine near-dup pairs within a blocking column (e.g. a
    * cluster/label/LSH bucket — at 100TB you never do global all-pairs).
    * Cosine computed in double (graft.functions.cosine_similarity).
    *
    * COST GROWS AS N²/L (N rows, L blocks): the block column's
    * cardinality must scale WITH the corpus, or pair work grows
    * quadratically — a fixed label set that was fine at 1M docs is 100×
    * the work at 10M (measured: the sf1 bench row's super-linear d6
    * growth is exactly this, BASELINE.md). At scale derive the block
    * from content, e.g. `graft.functions.hyperplane_lsh_bucket(emb,
    * nBits, table)` (recall follows the LSH collision curve; widen
    * with multiple tables as in [[Similarity]]'s ANN) or a KMeans
    * cell id, optionally composed with a coarse label.
    *
    * The within-block pair space is tiled over `numBuckets`² sub-join
    * keys: each row gets a deterministic bucket b = hash(id) mod B,
    * the left side replicates over the B possible right buckets and
    * vice versa, and the join key is (block, b_left, b_right) — so a
    * pair meets exactly once and a block's O(n²) pair work spreads
    * over B² tasks instead of one (a bare block-key join collapses to
    * #distinct-blocks tasks — 10 labels = 10 tasks at any data size).
    * Cost: each side's rows ship B× instead of 1×; B=8 is a good
    * default for label-cardinality ≪ cluster-cores.
    */
  /** Cross-corpus EXACT contamination: (corpus id, reference id) for
    * every corpus row whose content hash equals a reference row's —
    * the detection half of decontamination (stripping benchmark/eval
    * data out of a training corpus). One equi-join on 16-byte digests;
    * the reference side is typically small → Catalyst broadcasts it.
    */
  def exactOverlap(corpus: DataFrame, reference: DataFrame,
                   textCol: String, corpusIdCol: String,
                   refIdCol: String): DataFrame =
    corpus.select(col(corpusIdCol), md5(col(textCol)).as("__h"))
      .join(reference.select(col(refIdCol).as("__rid"),
        md5(col(textCol)).as("__h")), "__h")
      .select(col(corpusIdCol), col("__rid").as(s"ref_$refIdCol"))

  /** Drop every corpus row whose content exactly matches a reference
    * row (anti-join on the digest) — the removal half of
    * decontamination. Near-miss contamination: feed
    * [[simhashOverlap]]'s corpus ids into an anti-join instead.
    */
  def decontaminate(corpus: DataFrame, reference: DataFrame,
                    textCol: String): DataFrame =
    decontaminateFromIndex(corpus,
      exactReferenceIndex(reference, textCol), textCol)

  /** The reference side of [[decontaminate]] as a standalone frame:
    * the reference corpus's distinct content digests (`digest`:
    * 32-hex md5). This IS the persistable exact-decontamination index
    * ([[DedupIndex.writeExact]]) — 16 bytes of payload per distinct
    * reference row, broadcastable, reusable across corpus drops.
    */
  def exactReferenceIndex(reference: DataFrame,
                          textCol: String): DataFrame =
    reference.select(md5(col(textCol)).as("digest")).distinct()

  /** [[decontaminate]] against a prebuilt [[exactReferenceIndex]]
    * frame — bit-identical to the inline build (gated, d34). The
    * anti-join is STATELESS on the corpus side, so this also runs
    * unchanged on a streaming corpus (stream-static anti join):
    * continuous ingest filtered against a frozen eval-set index is
    * exactly the build-once/reuse shape [[DedupIndex]] exists for.
    */
  def decontaminateFromIndex(corpus: DataFrame, index: DataFrame,
                             textCol: String): DataFrame =
    corpus.join(index.select(col("digest")),
      md5(corpus(textCol)) === col("digest"), "left_anti")

  /** Corpus ids sharing at least one word n-gram with a reference
    * corpus — SUBSTRING-level contamination detection: the published
    * LLM-curation recipe (flag a training document if any n-gram of it
    * appears in an eval example), which catches an eval prompt leaked
    * INSIDE a larger document — invisible to whole-document hashing
    * ([[exactOverlap]]) and whole-document SimHash ([[simhashOverlap]])
    * alike. n = 13 is the published convention for web-scale corpora.
    *
    * Scale shape: the reference side (eval sets — thousands of docs)
    * collapses to a DISTINCT gram-hash set and broadcasts, so the
    * corpus side is a map-side semi-join adjacent to the scan — corpus
    * grams NEVER shuffle; only the (rare) matching ids pay the final
    * distinct. Grams are 64-bit [[shingleHashes]] values computed in
    * one native pass — no token or gram strings materialize anywhere
    * (collision odds ~k²/2^65 fold into the kept set). A doc shorter
    * than n tokens contributes its whole text as one gram (the
    * [[shingles]] convention), so short eval prompts still match
    * their exact occurrences.
    */
  def ngramOverlapIds(corpus: DataFrame, reference: DataFrame,
                      textCol: String, corpusIdCol: String,
                      n: Int = 13): DataFrame = {
    // single-pass 64-bit gram hashes on BOTH sides (the d24 lesson:
    // materializing an n-token string per gram position is the
    // dominant cost of every gram-stream operator) — the hash is
    // internal join currency, oracles replay set semantics on text
    val refGrams = reference
      .select(explode(shingleHashes(col(textCol), n)).as("__g"))
      .distinct()
    corpus
      .select(col(corpusIdCol),
        explode(shingleHashes(col(textCol), n)).as("__g"))
      .join(broadcast(refGrams), Seq("__g"), "left_semi")
      .select(corpusIdCol).distinct()
  }

  /** Drop every corpus row sharing a word n-gram with the reference —
    * the removal half of substring-level decontamination. The
    * contaminated-id set is usually tiny relative to the corpus (AQE
    * broadcasts the anti-join side at runtime); the corpus itself
    * never shuffles on either stage.
    */
  def ngramDecontaminate(corpus: DataFrame, reference: DataFrame,
                         textCol: String, corpusIdCol: String,
                         n: Int = 13): DataFrame =
    corpus.join(
      ngramOverlapIds(corpus, reference, textCol, corpusIdCol, n),
      Seq(corpusIdCol), "left_anti")

  /** Cross-corpus NEAR contamination: SimHash-banded pairs between two
    * frames — same 4×16-bit banding and scalar hamming verify as
    * [[simhashPairsFromSig]], but across corpora (no id ordering;
    * every (corpus, reference) match surfaces once via the
    * canonical-band filter — both signatures ride the join, so no
    * pair-key dropDuplicates shuffle).
    */
  def simhashOverlap(corpus: DataFrame, reference: DataFrame,
                     textCol: String, corpusIdCol: String,
                     refIdCol: String, maxHamming: Int = 3): DataFrame = {
    def banded(df: DataFrame, idCol: String, idAs: String,
               sigAs: String): DataFrame = {
      val sig = graft.functions.simhash64_md5(
        TextAnalysis.tokenize(col(textCol)))
      // spread: the per-token-md5 signature pass serialized onto the
      // fixture's 1–2 splits on BOTH sides; no-op at scale
      val base = spread(df).select(col(idCol).as(idAs), sig.as(sigAs))
        .filter(col(sigAs).isNotNull)
      val bands = array((0 until 4).map { b =>
        shiftrightunsigned(col(sigAs), b * 16).bitwiseAND(lit(0xFFFFL))
      }: _*)
      base.select(col(idAs), col(sigAs),
        posexplode(bands).as(Seq("__band_idx", "__band_key")))
    }
    val c = banded(corpus, corpusIdCol, "__cid", "__csig")
    val r = banded(reference, refIdCol, "__rid", "__rsig")
    // dynamic shift amount (the lambda's band index is a Column, the
    // Scala shiftrightunsigned only takes Int) → SQL function call
    def bandOf(sig: Column, b: Column): Column =
      call_function("shiftrightunsigned", sig, b * 16)
        .bitwiseAND(lit(0xFFFFL))
    // canonical band: no earlier band index also collides. Band 0 is
    // explicit — Spark's sequence(0, -1) yields a DESCENDING [0, -1],
    // not an empty list, which would wrongly test band 0 against
    // itself and shift by -16
    val noEarlier = when(col("__band_idx") === 0, lit(true))
      .otherwise(!exists(
        sequence(lit(0), col("__band_idx") - 1),
        b => bandOf(col("__csig"), b) === bandOf(col("__rsig"), b)))
    c.join(r, Seq("__band_idx", "__band_key"))
      .filter(noEarlier)
      .withColumn("hamming",
        bit_count(col("__csig").bitwiseXOR(col("__rsig"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("__cid").as(corpusIdCol),
        col("__rid").as(s"ref_$refIdCol"), col("hamming"))
  }

  /** Connected components over a near-dup PAIR frame: the step that
    * turns pairwise matches (d3–d7 outputs) into duplicate CLUSTERS —
    * what a curation pipeline actually consumes (pick one
    * representative per cluster, drop the rest). Output: one row per
    * id appearing in any pair, `(id, component)` where `component` is
    * the MINIMUM id reachable through the pair graph (deterministic,
    * engine-independent labeling).
    *
    * Algorithm: iterative min-label propagation WITH POINTER JUMPING
    * as a DataFrame loop — each round first shortcuts every label to
    * its label's label (comp ← comp(comp), one self-join of the
    * materialized label frame: classic pointer doubling), then joins
    * labels to the (undirected) edge list and takes the per-neighbor
    * minimum, lowering labels that shrank. Neighbor propagation alone
    * needs O(diameter) rounds; the jump step halves remaining pointer
    * depth each round, so long mutation chains (measured: a " zz"
    * append fixture at sf1 builds diameter >30 chains that plain
    * propagation never finished) settle in O(log diameter) rounds
    * while shallow near-clique dup graphs still converge in the same
    * 2–3 rounds as before. The fixed point is unchanged — labels only
    * ever hold ids from the same component and only decrease, so the
    * d8/d9 closure oracles hash-match with or without jumps. Each
    * round materializes through a checkpoint so plan lineage stays
    * O(1) instead of doubling per iteration; the convergence probe is
    * the same action that materializes the round. Throws if `maxIter`
    * rounds don't converge (with jumping that means diameter
    * ~2^maxIter — effectively a cycle-guard only).
    *
    * FAULT TOLERANCE: the default `localCheckpoint` stores round
    * results as executor-resident blocks with TRUNCATED lineage —
    * losing one executor mid-run makes those blocks unrecoverable and
    * kills the job. Fine on local mode and for short interactive runs;
    * for a long run on a real cluster pass `reliableCheckpointDir`
    * (an HDFS/object-store path): rounds then go through Spark's
    * reliable `checkpoint()` (the directory is installed via
    * `sparkContext.setCheckpointDir`), surviving any executor loss at
    * the cost of one distributed-FS write per round. The labeling is
    * bit-identical under both paths (a spec pins it) — the option
    * trades round latency for restartability only.
    */
  /** Size-adaptive driver escape hatch shared by both CC loops
    * (round 16): when the materialized edge set is small enough —
    * `spark.graft.cc.localEdgeLimit` edges, default 2M (collected
    * Rows + the boxed-Long parent map peak at a few hundred MB of
    * driver heap at the cap, transient; set 0 to disable) — finish
    * the components with one driver-side union-find instead of
    * iterating the distributed loop. The loop costs ~8 scheduler round-trips per round even on
    * a 2-edge graph (each round = several joins, a materialization
    * and a convergence action), which dominates every small-graph
    * call; union-find with min-id roots computes the identical
    * (id, comp = min reachable id) labeling in one pass over the
    * collected edges (spec-pinned equal to the loop on random
    * graphs). The decision is data-driven off the already-
    * materialized edge frame — the graph twin of AQE's broadcast
    * decision — so a production pair graph over the limit runs the
    * distributed loop exactly as before. Returns None (and the
    * caller falls through to the loop) over the limit, on null ids,
    * or on non-integral id types.
    */
  private def localUnionFind(edges: DataFrame, u: String,
                             v: String): Option[Seq[(Long, Long)]] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val spark = edges.sparkSession
    val limit = spark.conf
      .get("spark.graft.cc.localEdgeLimit", "2000000").toLong
    val integral = Seq(u, v).forall(c => edges.schema(c).dataType match {
      case LongType | IntegerType => true
      case _ => false
    })
    if (limit <= 0 || !integral) return None
    val cap = math.min(limit, Int.MaxValue - 8L).toInt
    // over-limit probe BEFORE any driver pull (round 17 — the old
    // spelling collected cap+1 rows just to learn the graph was too
    // big, a ~30 MB wasted transfer on every production-scale call):
    // one two-long aggregate over the already-materialized edge frame
    // decides; only a genuinely small graph pays the collect.
    val probe = edges.agg(
      count(lit(1)).as("__n"),
      count(when(col(u).isNull || col(v).isNull, 1)).as("__nulls"))
      .head()
    if (probe.getLong(0) > cap || probe.getLong(1) > 0) return None
    val rows = edges
      .select(col(u).cast("long"), col(v).cast("long"))
      .collect()
    val parent =
      new java.util.HashMap[java.lang.Long, java.lang.Long](
        rows.length * 2 + 16)
    def findRoot(x0: Long): Long = {
      var r = x0
      while (parent.get(r) != r) r = parent.get(r)
      var c = x0
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val a = row.getLong(0)
      val b = row.getLong(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = findRoot(a)
      val rb = findRoot(b)
      // the larger root attaches under the smaller, so every root is
      // its component's minimum id — exactly the loop's labeling
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = Seq.newBuilder[(Long, Long)]
    val it = parent.keySet().iterator()
    while (it.hasNext) {
      val id: Long = it.next()
      out += ((id, findRoot(id)))
    }
    Some(out.result())
  }

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 30,
                          reliableCheckpointDir: Option[String] = None)
      : DataFrame = {
    reliableCheckpointDir.foreach(
      pairs.sparkSession.sparkContext.setCheckpointDir)
    // withoutPlanStats: checkpoints inherit the origin plan's
    // estimated sizeInBytes; in a join loop that estimate compounds
    // multiplicatively round over round until the DRIVER spins in
    // BigInteger multiplication computing the next round's stats
    // (measured: the d15 sf1 chain fixture hung for 25+ min with the
    // main thread inside BigInteger.multiplyToomCook3). Resetting
    // stats at each materialization bounds every round's estimate to
    // a fixed-depth plan; AQE still broadcasts small sides from
    // measured shuffle sizes.
    def materialize(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftshim.GraftColumnBridge.withoutPlanStats(
        if (reliableCheckpointDir.isDefined) df.checkpoint()
        else df.localCheckpoint())
    val edges = materialize(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"),
          col(aCol).as("dst")))
        .distinct())
    // small graphs finish driver-side (see localUnionFind): one
    // bounded collect off the materialized edges replaces the
    // whole iterative loop; the output frame is value-identical
    localUnionFind(edges, "src", "dst") match {
      case Some(comps) =>
        val spark = pairs.sparkSession
        import spark.implicits._
        val dt = edges.schema("src").dataType
        return comps.toDF("id", "comp")
          .select(col("id").cast(dt).as("id"),
            col("comp").cast(dt).as("comp"))
      case None => ()
    }
    // init = the first propagation round folded in: label(v) =
    // min(v, min neighbor) — identical trajectory, one fewer round
    var labels = materialize(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"),
        least(col("src"), col("__mn")).as("comp")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // pointer jump on the previous (materialized) round: shortcut
      // comp ← comp(comp). comp is always the id of a component
      // member, so its own label exists whenever that member touches
      // an edge (always, here) — the left join is belt-and-braces
      val jumped = labels
        .join(labels.select(col("id").as("__cid"),
          col("comp").as("__ccomp")),
          col("comp") === col("__cid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("__ccomp"), col("comp")))
            .as("comp"),
          coalesce(col("__ccomp") < col("comp"), lit(false))
            .as("__jumped"))
      // per-node minimum over neighbors' (jumped) labels
      val prop = edges
        .join(jumped.select(col("id").as("src"), col("comp")), "src")
        .groupBy(col("dst"))
        .agg(min(col("comp")).as("__ncomp"))
      val next = materialize(jumped
        .join(prop, jumped("id") === prop("dst"), "left")
        .select(jumped("id"),
          least(jumped("comp"), coalesce(col("__ncomp"), jumped("comp")))
            .as("comp"),
          (col("__jumped") || coalesce(col("__ncomp") < jumped("comp"),
            lit(false))).as("__lowered")))
      converged = next.filter(col("__lowered")).isEmpty
      labels = next.drop("__lowered")
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "the pair graph is deeper than 2^maxIter hops (or cyclic " +
        "labels, a bug); raise maxIter")
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction — the O(log n)-round counterpart of
    * [[connectedComponents]] for graphs whose DIAMETER is large
    * (long mutation chains, path-shaped link graphs) where min-label
    * propagation needs O(diameter) rounds. Near-dup graphs are
    * usually shallow near-cliques, so the simple loop remains the
    * default; reach for this when [[connectedComponents]] throws its
    * convergence error and raising `maxIter` is unpalatable.
    *
    * Each round rewires edges toward local minima (the two-step
    * MapReduce formulation: large-star connects every neighbor
    * strictly larger than a node to that node's current minimum
    * neighbor; small-star connects the not-larger ones), strictly
    * shrinking the edge set's potential until every surviving edge
    * points directly at its component minimum. Output contract is
    * identical to [[connectedComponents]]: one `(id, comp)` row per
    * id appearing in any pair, `comp` = minimum reachable id (a
    * property spec pins equality between the two algorithms on random
    * graphs). Same per-round materialization and fault-tolerance
    * options as the simple loop.
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String,
                              bCol: String, maxIter: Int = 50,
                              reliableCheckpointDir: Option[String] =
                                None): DataFrame = {
    reliableCheckpointDir.foreach(
      pairs.sparkSession.sparkContext.setCheckpointDir)
    // stats reset per round for the same reason as in
    // [[connectedComponents]] — see the comment there
    def materialize(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftshim.GraftColumnBridge.withoutPlanStats(
        if (reliableCheckpointDir.isDefined) df.checkpoint()
        else df.localCheckpoint())
    // node set is fixed up front: contraction rewires edges, so an
    // id's own row can vanish from the edge list once it points at
    // its minimum — membership must not depend on surviving edges
    val nodes = materialize(
      pairs.select(col(aCol).cast("long").as("id"))
        .unionByName(pairs.select(col(bCol).cast("long").as("id")))
        .distinct())
    // canonical orientation (big, small); self-loops drop
    def canon(df: DataFrame): DataFrame = df
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
    // large-star: every node a connects its STRICTLY LARGER neighbors
    // to m(a) = min(neighborhood(a) ∪ {a}) — halves long paths
    def largeStar(edges: DataFrame): DataFrame = {
      val adj = edges.select(col("u").as("a"), col("v").as("b"))
        .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
      val mins = adj.groupBy(col("a")).agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("mb"), col("a")).as("m"))
      canon(adj.filter(col("b") > col("a"))
        .join(mins, "a")
        .select(col("b").as("u"), col("m").as("v")))
    }
    // small-star: every node u connects its smaller neighbors (and
    // itself) to their minimum — flattens shallow trees into stars
    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy(col("u")).agg(min(col("v")).as("m"))
      canon(edges.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v"))))
    }
    var edges = materialize(canon(
      pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))))
    // small graphs finish driver-side (see localUnionFind) — same
    // labeling, one bounded collect instead of contraction rounds;
    // isolated nodes (self-pairs canon dropped) come back through
    // the same nodes left join as the loop's tail
    localUnionFind(edges, "u", "v") match {
      case Some(comps) =>
        val spark = pairs.sparkSession
        import spark.implicits._
        return nodes
          .join(comps.toDF("id", "comp"), Seq("id"), "left")
          .select(col("id"), coalesce(col("comp"), col("id"))
            .as("comp"))
      case None => ()
    }
    var iter = 0
    var done = edges.isEmpty
    while (!done && iter < maxIter) {
      val next = materialize(smallStar(largeStar(edges)))
      // fixed point = both phases leave the edge set unchanged; at
      // that point every edge points directly at its component min
      // (stars are fixed points of both phases — Kiveris et al.,
      // "Connected Components in MapReduce and Beyond"). Both edge
      // sets are distinct (canon), so set equality is an empty
      // ±1-signed symmetric difference — ONE aggregation pass over
      // the two materialized frames (round 16; the exceptAll pair
      // ran two multi-exchange set-difference jobs per round)
      done = next.select(col("u"), col("v"), lit(1).as("__s"))
        .unionByName(edges.select(col("u"), col("v"),
          lit(-1).as("__s")))
        .groupBy(col("u"), col("v")).agg(sum(col("__s")).as("__d"))
        .filter(col("__d") =!= 0).isEmpty
      edges = next
      iter += 1
    }
    require(done,
      s"connectedComponentsStar did not converge in $maxIter rounds")
    nodes
      .join(edges.select(col("u").as("id"), col("v").as("comp")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Keep one representative per near-dup cluster: drops every row
    * whose id appears in `pairs` and is NOT its component's minimum.
    * Rows in no pair are untouched (singletons keep themselves).
    */
  def keepNearDupRepresentatives(df: DataFrame, pairs: DataFrame,
                                 aCol: String, bCol: String,
                                 idCol: String,
                                 reliableCheckpointDir: Option[String] =
                                   None): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol,
        reliableCheckpointDir = reliableCheckpointDir)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Keep the BEST row per near-dup cluster by a caller-supplied score
    * (highest wins; ties break to the minimum id, so the survivor is
    * deterministic). [[keepNearDupRepresentatives]] keeps the minimum
    * id — right when copies are interchangeable; a curation pipeline
    * usually wants the longest / highest-quality variant of a
    * duplicated document instead (score = token count, quality score,
    * source-priority rank — any Column over `df`).
    *
    * Cost over the min-id form: the score rides the components join
    * and the winner is picked by TWO AGGREGATES (max score per
    * component, then min id among the rows at that score) instead of
    * a per-component `row_number` window — aggregates partial-combine
    * map-side, so a boilerplate MEGA-CLUSTER (one template duplicated
    * across a large fraction of a 100 TB corpus collapses into a
    * single component) reduces in parallel instead of ranking its
    * whole membership inside one window task. The score-equality
    * rejoin compares the aggregate's own value, so no arithmetic
    * drift is possible.
    */
  def keepNearDupRepresentativesBy(df: DataFrame, pairs: DataFrame,
                                   aCol: String, bCol: String,
                                   idCol: String, score: Column,
                                   reliableCheckpointDir: Option[String] =
                                     None): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol,
      reliableCheckpointDir = reliableCheckpointDir)
    val scored = df.select(col(idCol).as("__kid"), score.as("__score"))
      .join(comps, col("__kid") === col("id"))
    val winners = scored
      .groupBy(col("comp")).agg(max(col("__score")).as("__best"))
      .join(scored, Seq("comp"))
      .filter(col("__score") <=> col("__best"))
      .groupBy(col("comp")).agg(min(col("__kid")).as("__winner"))
    val losers = scored.join(winners, Seq("comp"))
      .filter(col("__kid") =!= col("__winner"))
      .select(col("__kid").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** End-to-end near-duplicate document dedup in one call: 64-bit
    * SimHash banded pairs ([[simhashPairsFromSig]] at `maxHamming`) →
    * connected components → keep each cluster's minimum id. The
    * composition a curation pipeline actually runs; the staged
    * operators remain for custom pair sources and thresholds.
    */
  def dropNearDuplicateDocs(df: DataFrame, textCol: String, idCol: String,
                            maxHamming: Int = 3,
                            reliableCheckpointDir: Option[String] = None)
      : DataFrame = {
    val pairs = simhashPairsFromSig(df,
      graft.functions.simhash64_md5(TextAnalysis.tokenize(col(textCol))),
      idCol, maxHamming)
    keepNearDupRepresentatives(df, pairs, s"${idCol}_1", s"${idCol}_2",
      idCol, reliableCheckpointDir)
  }

  /** [[dropNearDuplicateDocs]] keeping the highest-`score` variant per
    * cluster instead of the minimum id (ties still break to min id).
    */
  def dropNearDuplicateDocsKeepBest(df: DataFrame, textCol: String,
                                    idCol: String, score: Column,
                                    maxHamming: Int = 3,
                                    reliableCheckpointDir: Option[String] =
                                      None): DataFrame = {
    val pairs = simhashPairsFromSig(df,
      graft.functions.simhash64_md5(TextAnalysis.tokenize(col(textCol))),
      idCol, maxHamming)
    keepNearDupRepresentativesBy(df, pairs, s"${idCol}_1", s"${idCol}_2",
      idCol, score, reliableCheckpointDir)
  }

  /** SemDeDup-style one-call SEMANTIC dedup (Abbas et al. 2023's
    * pipeline shape): embedding near-dup pairs at `threshold` via the
    * banded SRP machinery ([[embeddingNearDupPairsLsh]]) → connected
    * components → keep each semantic cluster's minimum id. The
    * embedding-space twin of [[dropNearDuplicateDocs]] — catches
    * paraphrases and template rewrites whose token-level signatures
    * (SimHash/MinHash) no longer collide.
    *
    * Scale: the pair stage ships (table, bucket, id, bucket-vector)
    * only; components are the same min-label machinery as d8/d13
    * (reliable checkpointing optional for cluster fault tolerance).
    * SemDeDup's original formulation blocks by k-means cell; SRP
    * buckets serve the same candidate-limiting role with a tunable
    * recall curve and no iterative fit — see
    * [[embeddingNearDupPairsLsh]]'s scaladoc for sizing.
    */
  def dropSemanticDuplicates(df: DataFrame, embCol: String,
                             idCol: String, threshold: Double = 0.9,
                             nPlanes: Int = 0, dim: Int = 64,
                             nTables: Int = 4, seed: Long = 42L,
                             reliableCheckpointDir: Option[String] =
                               None): DataFrame = {
    val pairs = embeddingNearDupPairsLsh(df, embCol, idCol, threshold,
      nPlanes, dim, nTables, seed)
    keepNearDupRepresentatives(df, pairs, s"${idCol}_1", s"${idCol}_2",
      idCol, reliableCheckpointDir)
  }

  /** [[dropSemanticDuplicates]] keeping the highest-`score` row per
    * semantic cluster (ties → min id) — the curation form: keep the
    * best-quality variant, not the smallest id.
    */
  def dropSemanticDuplicatesKeepBest(df: DataFrame, embCol: String,
                                     idCol: String, score: Column,
                                     threshold: Double = 0.9,
                                     nPlanes: Int = 0, dim: Int = 64,
                                     nTables: Int = 4, seed: Long = 42L,
                                     reliableCheckpointDir:
                                       Option[String] = None)
      : DataFrame = {
    val pairs = embeddingNearDupPairsLsh(df, embCol, idCol, threshold,
      nPlanes, dim, nTables, seed)
    keepNearDupRepresentativesBy(df, pairs, s"${idCol}_1",
      s"${idCol}_2", idCol, score, reliableCheckpointDir)
  }

  /** Embedding near-dup pairs with CONTENT-DERIVED blocking — the
    * at-scale form of [[embeddingNearDupPairs]] for the high-threshold
    * regime (0.9+). Rows bucket by multi-table sign-random-projection
    * (the s2 ANN machinery): candidates are within-bucket pairs in any
    * of `nTables` independent bucket spaces, verified with exact
    * cosine. Bucket cardinality (nTables · 2^nPlanes) scales with the
    * corpus by raising nPlanes, so pair work stays ~N·bucketSize
    * instead of the fixed-block N²/L (the measured sf1 d6 cliff).
    *
    * Cross-table duplicate emission is structural, not a dedup pass:
    * each row carries its full bucket vector and only the FIRST table
    * where both vectors agree emits (same canonical trick as
    * [[graft.streaming.StreamingDedup]]). Recall follows the SRP
    * collision curve: a pair at angle θ shares one table's bucket with
    * p = (1-θ/π)^nPlanes, found with 1-(1-p)^nTables — near 1 for
    * near-dup angles (cos ≥ 0.95 ⇒ p ≥ 0.9^nPlanes at 8 planes ≈ 0.43,
    * 4 tables ≈ 0.90; cos 0.99 ⇒ ≈ 0.998), tunable with
    * nTables/nPlanes. Use the exact blocked form when recall must be
    * exactly 1 WITHIN known blocks; use this when no suitable
    * fixed-cardinality block exists.
    *
    * Shuffle discipline (the d4 MinHash shape): the banded self-join
    * ships (table, bucket, id, bucket-vector) ONLY — never the
    * embeddings, which at production dims dominate row weight 50:1 —
    * and the (few) canonical candidates re-join the embedding column
    * by id for the exact-cosine verify. SIZE nPlanes so buckets stay
    * small ON YOUR DATA: real embedding corpora are clustered, and a
    * bucket grid that's too coarse concentrates a cluster into one
    * bucket, ballooning within-bucket candidate pairs (measured here:
    * 8 planes on a clustered 4k-vector fixture put 10% of rows in one
    * bucket — 1.3M candidates for 2k true pairs; 16 planes cut this
    * 250×). Raising nPlanes costs recall per the curve above; buy it
    * back with nTables.
    *
    * Measured grid-scaling curve (BENCH_sf10.json, clustered fixture):
    * a FIXED 16-plane grid reads 14.9 s at a 40k-vector scope but
    * 298.5 s at 400k (20× for 10× data — hot-bucket candidates grow
    * quadratically over a fixed grid); at 400k, 20 planes read
    * 111.8 s and 24 planes 51.7 s. Sizing the grid to the corpus
    * (~16 planes per 40k clustered vectors, +8 planes per 10×) keeps
    * the operator at ~3.5× wall for 10× data with recall still ~1 at
    * near-dup angles (miss ≈ 3e-8 at cos 0.9999 with 24 planes × 8
    * tables). The DEFAULT (`nPlanes = 0`) derives the grid from a
    * corpus count via [[autoPlanes]] — exactly this curve — so the
    * cliff cannot recur without an explicit override.
    */
  /** Derive an SRP grid size from the corpus row count, anchored on
    * the measured scaling curve (BENCH_sf10.json, clustered fixture):
    * 16 planes is right for ~40k clustered vectors, and each 10× of
    * data wants ~8 more planes (at 400k vectors, 16 planes read
    * 298.5 s, 20 planes 111.8 s, 24 planes 51.7 s — hot-bucket
    * candidate pairs grow quadratically over a fixed grid, so bucket
    * cardinality must outpace the corpus). Clamped to [8, 28]: below
    * 4k vectors a finer grid buys nothing, and past 28 planes the
    * per-table collision probability at near-dup angles starts
    * needing more tables to hold recall (miss ≈ 1e-4 per pair at
    * cos 0.9999 with 28 planes × 8 tables; raise nTables before
    * raising planes past this).
    */
  def autoPlanes(corpusRows: Long): Int = {
    require(corpusRows > 0, "corpusRows must be positive")
    val raw = 16.0 + 8.0 * math.log10(corpusRows / 40000.0)
    math.min(28, math.max(8, math.round(raw).toInt))
  }

  def embeddingNearDupPairsLsh(df: DataFrame, embCol: String,
                               idCol: String, threshold: Double = 0.9,
                               nPlanes: Int = 0, dim: Int = 64,
                               nTables: Int = 4,
                               seed: Long = 42L): DataFrame = {
    require(nTables >= 1, "nTables must be >= 1")
    require(nPlanes >= 0, "nPlanes must be >= 0 (0 = auto-size)")
    // spread: `base` feeds the l/r bucket projections (nTables ×
    // nPlanes hyperplane dots per row, re-executed per side) and the
    // two re-rank joins — a 2–4-split fixture scan serialized all of
    // it; spread() no-ops on an already-parallel production scan
    val base = spread(df).select(col(idCol), col(embCol))
    // nPlanes = 0 (the default): size the grid from the corpus so the
    // measured fixed-grid cliff (20× wall for 10× data at a constant
    // 16 planes) cannot recur by default. The count is one
    // column-pruned pass over the input AT PLAN-CONSTRUCTION TIME —
    // flagged on stderr because an expensive un-cached upstream frame
    // is then computed twice (once here, once in the real pass):
    // cache it or pass nPlanes explicitly in that shape.
    val planes = if (nPlanes > 0) nPlanes else {
      System.err.println(s"[graft] embeddingNearDupPairsLsh: nPlanes=0" +
        " runs an eager column-pruned count of the input now to" +
        " auto-size the SRP grid; cache the input or pass nPlanes" +
        " explicitly if composing over an expensive derived frame")
      autoPlanes(df.select(col(idCol)).count())
    }
    val buckets = array((0 until nTables).map { t =>
      graft.functions.hyperplane_lsh_bucket(col(embCol), planes, dim,
        seed + t * 7919L)
    }: _*)
    val exploded = base
      .select(col(idCol), buckets.as("__bks"))
      .select(col(idCol), col("__bks"),
        posexplode(col("__bks")).as(Seq("__table", "__bucket")))
    val l = exploded.select(col(idCol).as("id1"),
      col("__bks").as("__bks1"), col("__table"), col("__bucket"))
    val r = exploded.select(col(idCol).as("id2"),
      col("__bks").as("__bks2"), col("__table"), col("__bucket"))
    // canonical table: no earlier table may also have agreed — each
    // pair then surfaces from exactly one (table, bucket) key, so no
    // pair-key dropDuplicates shuffle is needed
    val noEarlierAgree = forall(
      slice(zip_with(col("__bks1"), col("__bks2"),
        (a, b) => a === b), lit(1), col("__table")),
      eq => !eq)
    val candidates = l.join(r, Seq("__table", "__bucket"))
      .filter(col("id1") < col("id2") && noEarlierAgree)
      .select("id1", "id2")
    candidates
      .join(base.select(col(idCol).as("id1"), col(embCol).as("e1")), "id1")
      .join(base.select(col(idCol).as("id2"), col(embCol).as("e2")), "id2")
      .withColumn("cos",
        round(graft.functions.cosine_similarity(col("e1"), col("e2")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id1").as(s"${idCol}_1"), col("id2").as(s"${idCol}_2"),
        col("cos"))
  }

  /** Exact within-block embedding near-dup pairs — recall exactly 1
    * inside each `blockCol` value, at all-pairs N²/L cost per block.
    * BOUNDED-SCOPE form: use only when every block is small and block
    * cardinality is fixed (per-user histories, per-shard dictionaries
    * — the measured cliff is 67× wall for 10× data on an uncapped
    * corpus at sf1). For corpus-scale near-dup the at-scale spelling
    * is [[embeddingNearDupPairsLsh]] (content-derived SRP blocking,
    * linear, measured 9.5× for 10× data); the d6 gate caps its
    * fixture to a fixed id range for exactly this reason.
    */
  def embeddingNearDupPairs(df: DataFrame, embCol: String, idCol: String,
                            blockCol: String, threshold: Double = 0.9,
                            numBuckets: Int = 8): DataFrame = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    val base = df.select(col(blockCol), col(idCol), col(embCol))
      .withColumn("__b",
        pmod(xxhash64(col(idCol)), lit(numBuckets)).cast("int"))
    val allBuckets = array((0 until numBuckets).map(lit): _*)
    val l = base.select(col(blockCol), col(idCol).as("id1"),
        col(embCol).as("e1"), col("__b").as("__bl"))
      .withColumn("__br", explode(allBuckets))
    val r = base.select(col(blockCol), col(idCol).as("id2"),
        col(embCol).as("e2"), col("__b").as("__br"))
      .withColumn("__bl", explode(allBuckets))
    l.join(r, Seq(blockCol, "__bl", "__br"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos",
        round(graft.functions.cosine_similarity(col("e1"), col("e2")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id1").as(s"${idCol}_1"), col("id2").as(s"${idCol}_2"),
        col("cos"))
  }

  /** [[decontaminate]] with a broadcast Bloom-filter prefilter — the
    * spelling for when the reference digest SET is too large to
    * broadcast as join-hash rows (tens of millions of eval/benchmark
    * digests) but its Bloom summary (~1.2 GB at 1e9 items / 1% fpp;
    * ~12 MB at 1e7) still fits on every executor. Result is EXACTLY
    * [[decontaminate]]'s — the Bloom filter has no false negatives, so
    * rows it clears are definitely clean, and the rows it flags (true
    * matches + fpp false positives) are re-checked by the exact
    * anti-join, which at that point touches only the tiny candidate
    * slice instead of shuffling the whole corpus into a sort-merge
    * join.
    *
    * Scale shape: two passes over the corpus scan (the clean branch
    * and the candidate branch — each a pure scan+filter, no shuffle),
    * zero corpus shuffle on the clean branch, and an anti-join whose
    * stream side is |corpus| × (contamination rate + fpp). The
    * digest hashed into the filter is xxhash64 of the md5 digest, so
    * filter membership tests are single putLong probes, not string
    * hashing.
    *
    * @param expectedRefItems sizing hint for the filter (distinct
    *   reference digests); overshoot is cheap (bits are ~1.2 B/item
    *   at 1% fpp), undershoot inflates fpp and with it the exact
    *   re-check volume — never correctness.
    */
  def decontaminateBloom(corpus: DataFrame, reference: DataFrame,
                         textCol: String,
                         expectedRefItems: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame = {
    val refDigests = reference
      .select(md5(col(textCol)).as("__h")).distinct()
    val bloom = refDigests.select(xxhash64(col("__h")).as("__x"))
      .stat.bloomFilter("__x", expectedRefItems, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val might = udf((x: Long) => bc.value.mightContainLong(x))
    val withH = corpus.withColumn("__h", md5(col(textCol)))
      .withColumn("__might", might(xxhash64(col("__h"))))
    val clean = withH.filter(!col("__might"))
    val survivors = withH.filter(col("__might"))
      .join(refDigests, Seq("__h"), "left_anti")
    clean.unionByName(survivors).drop("__h", "__might")
  }

  /** Per-document contamination SCORE: of each corpus document's
    * distinct word n-grams, how many (and what fraction) appear in the
    * reference corpus. [[ngramOverlapIds]] answers "touched at all?"
    * — a binary drop signal; real curation pipelines also want the
    * graded form (drop when overlap_frac > 0.8, keep-but-flag above
    * 0.1, etc.), which is this operator. `n` = 13 per the published
    * web-corpus convention.
    *
    * Same scale shape as [[ngramOverlapIds]]: reference grams collapse
    * to a broadcast distinct hash set; corpus grams — single-pass
    * per-doc-distinct 64-bit [[shingleHashes]], no strings — are
    * counted map-side per document, so the ONLY corpus-side exchange
    * is the id-keyed partial-agg count. Every corpus document gets a
    * row (zero hits → 0.0).
    */
  def ngramOverlapStats(corpus: DataFrame, reference: DataFrame,
                        textCol: String, corpusIdCol: String,
                        n: Int = 13): DataFrame = {
    val refGrams = reference
      .select(explode(shingleHashes(col(textCol), n)).as("__g"))
      .distinct()
    // shingleHashes is per-doc distinct BY CONTRACT, so the old
    // (id, digest) distinct — a full shuffle of every corpus gram —
    // drops entirely: the only corpus-side exchange left is the
    // id-keyed partial-agg count
    val corpusGrams = corpus
      .select(col(corpusIdCol),
        explode(shingleHashes(col(textCol), n)).as("__g"))
    corpusGrams
      .join(broadcast(refGrams).withColumn("__hit", lit(1)),
        Seq("__g"), "left")
      .groupBy(col(corpusIdCol))
      .agg(count(lit(1)).as("total_grams"),
        sum(coalesce(col("__hit"), lit(0))).as("hit_grams"))
      .withColumn("overlap_frac",
        round(col("hit_grams").cast("double") / col("total_grams"), 6))
  }

  /** Duplication report over a pair frame: cluster-size histogram
    * (`cluster_size`, `n_clusters`, `n_docs`) including size-1
    * singletons, so `sum(n_docs)` = corpus rows and the corpus
    * duplication rate is `1 - sum(n_clusters) / sum(n_docs)` — the
    * number every dedup run reports before anyone decides thresholds.
    * Built on [[connectedComponents]] (same `reliableCheckpointDir`
    * escape); the histogram itself is two tiny aggregations over the
    * id→component frame, grouped on longs.
    */
  def nearDupClusterStats(df: DataFrame, pairs: DataFrame,
                          aCol: String, bCol: String, idCol: String,
                          reliableCheckpointDir: Option[String] = None)
      : DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol,
      reliableCheckpointDir = reliableCheckpointDir)
    val labeled = df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(coalesce(col("comp"), col("id")).as("comp"))
    labeled.groupBy(col("comp"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
  }

  /** SEMANTIC contamination detection: `(corpus id, max_cos)` for
    * every corpus row whose EMBEDDING is within `threshold` cosine of
    * any reference row — the embedding member of the decontamination
    * family ([[exactOverlap]] = verbatim, [[simhashOverlap]] =
    * token-level near, [[ngramOverlapIds]] = substring; this form
    * catches PARAPHRASED eval material that no token-level detector
    * can see, the published embedding-decontamination recipe).
    *
    * Scale shape — the inverse of [[embeddingNearDupPairsLsh]]'s
    * self-join: the reference side (eval sets — thousands of rows) is
    * exploded into the same multi-table sign-random-projection bucket
    * spaces and BROADCAST, so the corpus side is a map-side bucket
    * join adjacent to the scan — corpus embeddings NEVER shuffle. The
    * exact-cosine verify also runs map-side on the (rare) candidate
    * rows, and only the matching `(id, cos)` pairs pay the final
    * per-id max aggregation. Cross-table duplicate candidates are
    * structurally suppressed (first agreeing table emits — the
    * canonical-table trick), so a corpus row colliding with the same
    * reference row in all tables verifies once, not `nTables` times.
    *
    * Recall follows the SRP collision curve (see
    * [[embeddingNearDupPairsLsh]]); size `nPlanes` to your corpus'
    * cluster structure and buy recall back with `nTables`. Cosine is
    * rounded to the 1e-6 grid before the threshold compare, keeping
    * the decision reproducible across engines.
    */
  def semanticOverlapIds(corpus: DataFrame, reference: DataFrame,
                         embCol: String, corpusIdCol: String,
                         threshold: Double = 0.9, nPlanes: Int = 8,
                         dim: Int = 64, nTables: Int = 4,
                         seed: Long = 42L): DataFrame = {
    require(nTables >= 1, "nTables must be >= 1")
    def bucketsOf(e: Column): Column = array((0 until nTables).map { t =>
      graft.functions.hyperplane_lsh_bucket(e, nPlanes, dim,
        seed + t * 7919L)
    }: _*)
    val cExp = corpus
      .select(col(corpusIdCol), col(embCol).as("__cemb"))
      .withColumn("__cbks", bucketsOf(col("__cemb")))
      .select(col(corpusIdCol), col("__cemb"), col("__cbks"),
        posexplode(col("__cbks")).as(Seq("__table", "__bucket")))
    val rExp = reference
      .select(col(embCol).as("__remb"))
      .withColumn("__rbks", bucketsOf(col("__remb")))
      .select(col("__remb"), col("__rbks"),
        posexplode(col("__rbks")).as(Seq("__table", "__bucket")))
    // canonical table: no earlier table may also have agreed, so each
    // (corpus row, reference row) candidate verifies exactly once
    val noEarlierAgree = forall(
      slice(zip_with(col("__cbks"), col("__rbks"),
        (a, b) => a === b), lit(1), col("__table")),
      eq => !eq)
    cExp.join(broadcast(rExp), Seq("__table", "__bucket"))
      .filter(noEarlierAgree)
      .withColumn("cos",
        round(graft.functions.cosine_similarity(col("__cemb"),
          col("__remb")), 6))
      .filter(col("cos") >= threshold)
      .groupBy(col(corpusIdCol))
      .agg(max(col("cos")).as("max_cos"))
  }

  /** Drop every corpus row semantically contaminated against a
    * reference set (embedding cosine ≥ `threshold` to any reference
    * row) — the removal half of [[semanticOverlapIds]]. The flagged
    * id set is anti-joined back; at real contamination rates it is
    * tiny, so AQE broadcasts it and the corpus still never shuffles.
    */
  def semanticDecontaminate(corpus: DataFrame, reference: DataFrame,
                            embCol: String, corpusIdCol: String,
                            threshold: Double = 0.9, nPlanes: Int = 8,
                            dim: Int = 64, nTables: Int = 4,
                            seed: Long = 42L): DataFrame = {
    val flagged = semanticOverlapIds(corpus, reference, embCol,
      corpusIdCol, threshold, nPlanes, dim, nTables, seed)
      .select(col(corpusIdCol))
    corpus.join(flagged, Seq(corpusIdCol), "left_anti")
  }

  /** MinHash cross-corpus near-contamination: corpus docs whose exact
    * n-gram Jaccard against ANY reference (eval-set) doc reaches
    * `threshold` — the Jaccard companion to [[simhashOverlap]]
    * (hamming) and [[ngramOverlapIds]] (single-gram), for the overlap
    * definition most published decontamination recipes state in
    * Jaccard terms.
    *
    * Scale shape mirrors [[semanticOverlapIds]]: the reference side
    * (eval sets — thousands of rows, not billions) explodes into
    * banded MinHash keys and BROADCASTS with its shingle sets; the
    * corpus side is a map-side band join + map-side exact-Jaccard
    * verify — corpus shingles never shuffle, only the (rare) flagged
    * `(id, jaccard)` rows pay the final max-aggregation shuffle. The
    * canonical-band filter (first agreeing band emits, computed from
    * both band arrays carried on the row) makes each (corpus, ref)
    * candidate verify exactly once without a dropDuplicates shuffle.
    *
    * Recall is the LSH collision curve `1-(1-j^r)^b` — near 1 for
    * genuine contamination (j well above threshold), falling smoothly
    * for borderline pairs; raise `bands` (more, shorter bands) to
    * push the curve left, exactly as with [[minhashNearDupPairs]].
    *
    * @return (corpusIdCol, max_jaccard) — one row per flagged corpus
    *         doc with its strongest reference overlap.
    */
  /** The reference side of [[minhashOverlap]] as a standalone frame:
    * one row per reference doc, carrying its distinct shingle-hash
    * set (`rsh: array<bigint>`). This IS the persistable
    * decontamination index — signatures and band keys derive from it
    * cheaply at read time (no re-tokenization of reference text), so
    * a 100 TB pipeline builds it once per reference drop
    * ([[DedupIndex.writeMinhash]]) and reuses it across corpus runs
    * with any (numHashes, bands, threshold) setting.
    */
  def minhashReferenceIndex(reference: DataFrame, textCol: String,
                            shingleN: Int = 3): DataFrame =
    // spread: the shingle pass ran on the fixture's 1–2 splits
    // (profiled: a 2-task multi-second job at sf1 inside d23's
    // broadcast build); no-op on a parallel production scan
    spread(reference)
      .select(shingleHashes(col(textCol), shingleN).as("rsh"))

  /** [[minhashOverlap]] against a prebuilt [[minhashReferenceIndex]]
    * frame — bit-identical results to the inline build (gated).
    */
  def minhashOverlapFromIndex(corpus: DataFrame, index: DataFrame,
                              textCol: String, corpusIdCol: String,
                              shingleN: Int = 3, numHashes: Int = 32,
                              bands: Int = 0, threshold: Double = 0.5)
      : DataFrame = {
    // bands = 0 (the default): threshold-derived geometry, same
    // [[autoBands]] S-curve rule as the pair operator — at the
    // defaults (32 hashes, 0.5) this derives the former hand-picked
    // 16, so existing callers see identical results
    val bandsN = if (bands > 0) bands else autoBands(numHashes, threshold)
    require(numHashes % bandsN == 0,
      s"bands ($bandsN) must divide numHashes ($numHashes)")
    val rows = numHashes / bandsN
    val c = spread(corpus).select(col(corpusIdCol).as("__cid"),
        shingleHashes(col(textCol), shingleN).as("__csh"))
      .withColumn("__cbs",
        lshBandKeys(minhashSignature(col("__csh"), numHashes), bandsN,
          rows))
      .select(col("__cid"), col("__csh"), col("__cbs"),
        posexplode(col("__cbs")).as(Seq("__band_idx", "__band_key")))
    // the reference id never surfaces (only the max jaccard does), so
    // the broadcast rows carry shingles + bands alone. spread: the
    // 32-hash signature + band derivation is per-row heavy and a
    // read-back index arrives in few splits (no-op when parallel)
    val r = spread(index)
      .select(col("rsh").as("__rsh"))
      .withColumn("__rbs",
        lshBandKeys(minhashSignature(col("__rsh"), numHashes), bandsN,
          rows))
      .select(col("__rsh"), col("__rbs"),
        posexplode(col("__rbs")).as(Seq("__band_idx", "__band_key")))
    val noEarlierAgree = forall(
      slice(zip_with(col("__cbs"), col("__rbs"), (a, b) => a === b),
        lit(1), col("__band_idx")),
      eq => !eq)
    c.join(broadcast(r), Seq("__band_idx", "__band_key"))
      .filter(noEarlierAgree)
      .withColumn("__j", jaccard(col("__csh"), col("__rsh")))
      .filter(col("__j") >= threshold)
      .groupBy(col("__cid"))
      .agg(max(col("__j")).as("max_jaccard"))
      .select(col("__cid").as(corpusIdCol), col("max_jaccard"))
  }

  def minhashOverlap(corpus: DataFrame, reference: DataFrame,
                     textCol: String, corpusIdCol: String,
                     shingleN: Int = 3, numHashes: Int = 32,
                     bands: Int = 0, threshold: Double = 0.5)
      : DataFrame =
    minhashOverlapFromIndex(corpus,
      minhashReferenceIndex(reference, textCol, shingleN),
      textCol, corpusIdCol, shingleN, numHashes, bands, threshold)

  /** Drop every corpus row Jaccard-contaminated against a reference
    * set — the removal half of [[minhashOverlap]], same anti-join
    * shape as [[semanticDecontaminate]].
    */
  def minhashDecontaminate(corpus: DataFrame, reference: DataFrame,
                           textCol: String, corpusIdCol: String,
                           shingleN: Int = 3, numHashes: Int = 32,
                           bands: Int = 0, threshold: Double = 0.5)
      : DataFrame = {
    val flagged = minhashOverlap(corpus, reference, textCol,
      corpusIdCol, shingleN, numHashes, bands, threshold)
      .select(col(corpusIdCol))
    corpus.join(flagged, Seq(corpusIdCol), "left_anti")
  }

  /** Edit-distance near-dup pairs: every pair with
    * levenshtein ≤ `maxDist`, exactly (recall 1 — not approximate).
    *
    * Candidate generation is segment blocking in the PassJoin family
    * (Li/Deng/Feng, ICDE 2011 — public algorithm): each string of
    * length n is split into k+1 contiguous segments (k = maxDist).
    * Pigeonhole: k edits cannot touch all k+1 segments, and the edits
    * before an untouched segment shift it by at most k positions — so
    * any string within k edits contains at least one segment EXACTLY,
    * at a start within ±k of its indexed position. Each doc therefore
    * emits k+1 index keys and ≤ (2k+1)²(k+1) probe keys (75 at k=2;
    * constant in corpus size), keyed by
    * (indexed_length, segment_idx, xxhash64(substring)) — candidate
    * generation is a plain equi-join on those keys carrying ids only,
    * never an all-pairs or within-block N² scan. Hash collisions only
    * add false candidates; the thresholded-levenshtein verify (early
    * exit past `maxDist`) runs on the deduped candidate pairs alone.
    *
    * Scale notes: the shuffle rows are (n, i, hash64, id) — 28 bytes —
    * and the text rejoins only for candidate pairs. Boilerplate-heavy
    * corpora can make one (n, i, hash) key hot (many docs sharing an
    * exact 1/(k+1) slice at the same length); AQE skew-join splitting
    * absorbs it, and the verify stays proportional to true-ish pairs.
    * The loose ±k shift window (vs PassJoin's multi-match-aware
    * windows) costs a small constant factor in probe keys, not recall.
    *
    * @return (idCol_1, idCol_2, dist), idCol_1 < idCol_2, one row per
    *         pair with levenshtein(text_1, text_2) ≤ maxDist.
    */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
                        maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, "need maxDist >= 1")
    val k = maxDist
    val base0 = df.select(col(idCol).as("__id"), col(textCol).as("__t"),
      length(col(textCol)).as("__m"))
    // this operator does ~75× per-row work before its first exchange;
    // a compact parquet source can arrive in 1-2 splits and serialize
    // the whole probe stage onto 2 cores. Spread ONLY when the source
    // is under-parallel — a 100TB scan already has thousands of
    // splits and must not pay a gratuitous full-text shuffle
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = if (graft.Graft.staticNumPartitions(base0) < target)
      base0.repartition(target) else base0

    // even split of a length-n string into k+1 segments: the first
    // (k+1-r) of length q, the last r of length q+1 (q=n/(k+1), r=n%).
    // Column-typed segment index, so the expression is written ONCE
    // and evaluated per exploded (e, i, d) combo row — building one
    // inline array of 75 key structs instead blows the JVM's 64KB
    // generated-method limit and silently drops the whole stage out
    // of codegen (measured 17 s vs 2 s at sf0.1)
    def segStart(n: Column, i: Column): Column = {
      val q = floor(n / (k + 1)).cast("int")
      val r = (n - q * (k + 1)).cast("int")
      i * q + greatest(lit(0), i - (lit(k + 1) - r))
    }
    def segLen(n: Column, i: Column): Column = {
      val q = floor(n / (k + 1)).cast("int")
      val r = (n - q * (k + 1)).cast("int")
      q + when(i >= lit(k + 1) - r, lit(1)).otherwise(lit(0))
    }

    // index side: the k+1 segments of this doc, keyed by its own length
    val index = base
      .select(col("__id"), col("__t"), col("__m"),
        explode(array((0 to k).map(lit): _*)).as("__i"))
      .select(col("__id").as("id_a"), col("__m").as("n"),
        col("__i").as("i"),
        xxhash64(col("__t").substr(
          segStart(col("__m"), col("__i")) + 1,
          segLen(col("__m"), col("__i")))).as("h"))

    // probe side: for every plausible indexed length n = m+e, every
    // segment slot i, every shift d (|d|≤k), the substring this doc
    // would need to contain if it matched such an indexed string.
    // e ranges [-k, 0] only — in any pair the LONGER string probes
    // the shorter one's indexed length (equal lengths probe each
    // other), so upward lengths are redundant: 45 keys per doc at
    // k=2, not 75. The static (e, i, d) combo array explodes FIRST
    // (tiny int structs), then each combo row computes its one key —
    // small codegen (one inline 75-struct array blows the JVM's 64KB
    // generated-method limit and drops the stage out of codegen);
    // repeated keys just repeat candidates, which the pair-level
    // dropDuplicates collapses anyway
    val combos = for {
      e <- -k to 0; i <- 0 to k; d <- -k to k
    } yield struct(lit(e).as("e"), lit(i).as("i"), lit(d).as("d"))
    val probes = base
      .select(col("__id"), col("__t"), col("__m"),
        explode(array(combos: _*)).as("__c"))
      .withColumn("__n", col("__m") + col("__c.e"))
      .withColumn("__p",
        segStart(col("__n"), col("__c.i")) + col("__c.d"))
      .withColumn("__l", segLen(col("__n"), col("__c.i")))
      .filter(col("__n") >= 0 && col("__p") >= 0 &&
        col("__p") + col("__l") <= col("__m"))
      .select(col("__id").as("id_b"), col("__n").as("n"),
        col("__c.i").as("i"),
        xxhash64(col("__t").substr(col("__p") + 1, col("__l")))
          .as("h"))

    val candidates = probes.join(index, Seq("n", "i", "h"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id1"),
        greatest(col("id_a"), col("id_b")).as("id2"))
      .dropDuplicates("id1", "id2")
    candidates
      // explicit spread BEFORE the joins and the O(len·k)-per-pair
      // verify: AQE size-coalesces the (byte-small) candidate frame
      // to one partition, and a repartition placed AFTER the verify
      // projection is defeated by predicate pushdown — the
      // `dist <= k` filter (which evaluates the levenshtein) pushes
      // below the exchange and runs on the one coalesced partition
      // (measured: a 4.2 s single-task stage at sf0.1, the whole
      // gate's hot spot). Repartitioning the candidate ids first
      // keeps every downstream stage — broadcast text joins and the
      // verify — at full parallelism; values are unchanged.
      .repartition(target)
      .join(base.select(col("__id").as("id1"), col("__t").as("t1")), "id1")
      .join(base.select(col("__id").as("id2"), col("__t").as("t2")), "id2")
      .withColumn("dist", levenshtein(col("t1"), col("t2"), k))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .select(col("id1").as(s"${idCol}_1"), col("id2").as(s"${idCol}_2"),
        col("dist"))
  }

  /** Exact repeated-SPAN removal — substring-level dedup in the
    * ExactSubstr family (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): any duplicated run of >=
    * `spanTokens` whitespace tokens survives only at its first
    * occurrence in the corpus; every later occurrence is cut out of
    * its document's text. Sits below whole-document dedup (d1/d9) and
    * above line-level forms (t11/t23) in granularity: it catches a
    * quoted article inside an otherwise-original page, which document
    * hashes miss and line dedup only catches line-by-line.
    *
    * Semantics (exact; the d24 oracle replays every step in DuckDB):
    *  - tokens = [[TextAnalysis.tokenize]] (whitespace runs);
    *  - every L-token gram occurrence is keyed by its gram text; a
    *    gram text occurring at more than one (id, pos) location keeps
    *    only its globally-first occurrence — first = lexicographic
    *    minimum of (id, pos) — and every OTHER occurrence marks its
    *    [pos, pos+L) token span;
    *  - a token is dropped iff some marked span covers it. A repeated
    *    run of M >= L tokens is covered by its M-L+1 marked grams, so
    *    a later occurrence loses exactly the repeated run (plus
    *    nothing: boundary grams straddle unique context and never
    *    repeat);
    *  - docs shorter than L tokens carry no grams and pass through
    *    byte-identical, as does any doc with no marked span; a doc
    *    that lost spans is rebuilt by joining surviving tokens with
    *    single spaces (tokenize-granularity rebuild, the
    *    [[TextAnalysis.stripBoilerplateLines]] contract).
    *
    * Scale (100 TB lens): document text never shuffles. The gram
    * stage is ONE native pass per document ([[graft.functions
    * .gram_hashes]]: FNV token hashes + long mixing — no token or
    * gram strings materialize) shipping (hash, id, pos) triples — the
    * 13-gram decontamination shuffle shape — and the per-gram
    * first/count aggregation is partial-agg friendly, so corpus-hot
    * boilerplate grams combine map-side before the exchange. Only
    * occurrences of DUPLICATED grams pay the join back; marked
    * positions merge into disjoint coverage intervals (a wholly-
    * duplicated doc is ONE interval), and the rebuild is a per-row
    * codegen projection whose coverage test is O(tokens × intervals)
    * — bounded by the doc's distinct duplicated regions, not its
    * duplicated-token count. Measured: the single-pass gram stage cut
    * the sf0.1 row 9.0 s → 1.7 s and the sf1 row 102 s → 7.3 s
    * (4.2× wall for 10× data, sub-linear, on the worst-case fixture
    * where every doc has 10 near-total copies so virtually every gram
    * occurrence pays the join back).
    *
    * @return (idCol, textCol rebuilt, n_tokens_removed)
    */
  def dropRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
                        spanTokens: Int = 50): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2 (got $spanTokens)")
    val l = spanTokens
    // one (id, pos, gram-hash) row per L-gram occurrence; the hash
    // only needs to be collision-free (grouping key), not replayable —
    // the oracle groups on the raw gram text instead. gram_hashes is
    // a single native pass (FNV per token + long mixing), replacing a
    // per-gram slice+concat+xxhash64 that materialized an ~L-token
    // string per position (O(tokens × L × token_len) byte work).
    // spread: `grams` feeds TWO consumers (the firsts aggregation and
    // the join's left side), each re-running the gram pass — off a
    // 1–2-split fixture scan that serialized both onto 2 cores; no-op
    // at production parallelism (round 17)
    val grams = spread(df)
      .select(col(idCol),
        posexplode(graft.functions.gram_hashes(col(textCol), l))
          .as(Seq("__pos", "__h")))
    val firsts = grams
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"),
        count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select(col("__h"), col("__first"))
    val starts = grams.join(firsts, Seq("__h"))
      .filter(struct(col(idCol), col("__pos")) =!= col("__first"))
      .select(col(idCol), col("__pos")).distinct()
    cutCoveredTokens(df, textCol, idCol, starts, l)
  }

  /** Shared tail of the span-cutting family ([[dropRepeatedSpans]],
    * [[exciseContamination]]): given one row per covered gram start
    * (idCol, `__pos`, each covering tokens [pos, pos+l)), merge
    * contiguous coverage into disjoint intervals, drop every covered
    * token, and rebuild each touched text from its survivors.
    *
    * Intervals before the rebuild because a heavily-covered doc has
    * marked sets approaching its token count, and a per-token
    * exists() over raw positions is then O(tokens²) per doc.
    * Contiguous marked runs merge — a wholly-covered doc is ONE
    * interval — so the per-token test is O(tokens × intervals) with
    * intervals bounded by the doc's distinct covered regions. The
    * window + island aggregation runs only over marked occurrences
    * and reuses one id-keyed exchange across all three steps.
    * Untouched docs keep their text byte-identical and never shuffle
    * it (left join + null branch).
    */
  private def cutCoveredTokens(df: DataFrame, textCol: String,
                               idCol: String, starts: DataFrame,
                               l: Int): DataFrame = {
    val toks = tokenize(col(textCol))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val marked = starts
      .withColumn("__new",
        when(col("__pos") > lag(col("__pos"), 1).over(w) + l, 1)
          .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).as("__s"), (max(col("__pos")) + l).as("__e"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__s"), col("__e"))))
        .as("__mspans"))
    val kept = filter(toks, (_, i) =>
      !exists(col("__mspans"),
        v => v.getField("__s") <= i && i < v.getField("__e")))
    // spread the rebuild's stream side too: the tokenize+filter+
    // rebuild projection runs in the scan stage (the marked side
    // broadcasts), which on the fixture is 1–2 splits
    spread(df).join(marked, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__mspans").isNull, col(textCol))
          .otherwise(concat_ws(" ", kept)).as(textCol),
        when(col("__mspans").isNull, lit(0L))
          .otherwise((size(toks) - size(kept)).cast("bigint"))
          .as("n_tokens_removed"))
  }

  /** Decontamination by EXCISION — cut every token covered by an
    * n-gram that also occurs in `reference`, keeping the rest of the
    * document (the modern alternative to whole-document drops: a
    * 10k-token page quoting one eval question loses ~n+q tokens, not
    * the page). Complements [[ngramDecontaminate]] (binary drop at
    * the same gram granularity) and [[ngramOverlapStats]] (the graded
    * score): run the stats first to pick a policy, excise where the
    * doc is worth keeping.
    *
    * Semantics (exact; the d28 oracle replays every step): tokens =
    * [[TextAnalysis.tokenize]]; corpus gram occurrences are keyed by
    * gram text (FNV-hashed, collision-free by contract like d24); an
    * occurrence whose gram text appears anywhere in the reference
    * marks its [pos, pos+n) span; a token drops iff some marked span
    * covers it; touched docs are rebuilt space-joined, untouched
    * docs pass through byte-identical. A contaminated run of M >= n
    * shared tokens is covered by its M-n+1 marked grams, so excision
    * removes exactly the shared run — boundary grams straddle novel
    * context and never match.
    *
    * Scale (100 TB lens): the reference reduces to a distinct gram-
    * hash set, BROADCAST (8 bytes per distinct reference gram — all
    * eval benchmarks together fit executor memory); the corpus side
    * is one native gram pass shipping (id, pos) only for HITS, then
    * the same interval merge + codegen rebuild as
    * [[dropRepeatedSpans]] — document text never shuffles, clean
    * docs never pay the join back.
    *
    * @return (idCol, textCol rebuilt, n_tokens_removed)
    */
  def exciseContamination(corpus: DataFrame, reference: DataFrame,
                          textCol: String, corpusIdCol: String,
                          n: Int = 13): DataFrame = {
    require(n >= 2, s"n must be >= 2 (got $n)")
    val refGrams = reference
      .select(explode(graft.functions.gram_hashes(col(textCol), n))
        .as("__h"))
      .distinct()
    // (id, pos) is unique per gram occurrence and refGrams is
    // distinct, so the hit set needs no dedup exchange of its own
    val starts = corpus
      .select(col(corpusIdCol),
        posexplode(graft.functions.gram_hashes(col(textCol), n))
          .as(Seq("__pos", "__h")))
      .join(broadcast(refGrams), Seq("__h"))
      .select(col(corpusIdCol), col("__pos"))
    cutCoveredTokens(corpus, textCol, corpusIdCol, starts, n)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS local fingerprinting scheme): hash every n-token
    * gram, slide a window of `window` consecutive gram hashes, and in
    * each window select the MINIMUM hash, ties resolved to the
    * RIGHTMOST position; the distinct selected (position, hash) set
    * is the document's fingerprint. Guarantee: any shared token run
    * of >= window + n - 1 tokens between two documents yields at
    * least one shared fingerprint, at expected density 2/(window+1) —
    * a sub-linear, position-aware sketch where [[dropRepeatedSpans]]
    * is exhaustive and [[minhashNearDupPairs]] is whole-document.
    * Joining outputs on `fp` (then e.g. [[connectedComponents]])
    * finds partial-overlap clusters without shipping text.
    *
    * A document with fewer than n tokens has no grams and no
    * fingerprints; one with 1 to window-1 grams yields the single
    * min-of-all selection (the standard short-document case).
    *
    * Hashes are md5 hex of the gram text (lexicographic min on hex
    * strings == numeric min, identical across engines — the oracle
    * replays every selection); `fp` is the leading 8 hex chars
    * (32 bits displayed; selection always uses the full digest).
    *
    * Scale: pure per-row projection — no shuffle, no state, streams
    * as-is; ONE native pass per row ([[graft.functions
    * .winnow_fingerprints]]: token byte spans → per-gram md5 with a
    * reused digest instance → monotonic-deque window minima,
    * amortized O(1) per gram — no gram strings, no per-window array
    * ops). The fingerprint stream ships (id, pos, 8-char fp) —
    * ~2/(w+1) of the gram count — never documents.
    */
  def winnowingFingerprints(df: DataFrame, textCol: String, idCol: String,
                            n: Int = 5, window: Int = 4): DataFrame = {
    spread(df).select(col(idCol),
        explode(graft.functions.winnow_fingerprints(col(textCol), n, window))
          .as("__f"))
      .select(col(idCol), col("__f.pos").as("pos"), col("__f.fp").as("fp"))
  }

  /** Cross-corpus winnowing-fingerprint overlap — the MOSS
    * contamination detector: for each corpus document, how many of
    * its distinct [[winnowingFingerprints]] also occur anywhere in
    * `reference`. Catches PARTIAL textual overlap (a quoted eval
    * passage inside an otherwise-novel document) that whole-document
    * schemes miss: the winnowing guarantee means any shared run of
    * >= window + n - 1 tokens contributes at least one shared
    * fingerprint, so `n_shared >= 1` already certifies a shared run
    * of that length. Complements the exact-13-gram form
    * ([[ngramOverlapStats]]): fingerprints sample the gram stream at
    * density 2/(window+1), so the index this op ships is ~w/2 times
    * smaller per token — the scheme to reach for when the reference
    * set is large (all eval benchmarks at once).
    *
    * Returns one row per corpus doc with at least one shared
    * fingerprint: (idCol, `n_fp` total distinct fingerprints,
    * `n_shared` distinct shared ones, `overlap_frac` = n_shared/n_fp
    * rounded to 6 places).
    *
    * Scale: both sides reduce to (id, 8-hex-char fp) pairs — text
    * never shuffles. The reference fingerprint set is distinct-ed and
    * BROADCAST (a 1 GB eval corpus winnows to ~10M 8-char
    * fingerprints ≈ tens of MB); the corpus side then pays one
    * id-keyed partial-agg count, no corpus shuffle on content. For
    * reference sets too large to broadcast, pre-aggregate them
    * per-fp and let AQE pick the join — the corpus side still ships
    * ids and fingerprints only.
    */
  /** The reference side of [[winnowOverlapStats]] as a standalone
    * frame: the reference corpus's distinct winnowing fingerprint SET
    * (`fp: string`, 8-hex). This IS the persistable decontamination
    * index ([[DedupIndex.writeWinnow]]) — tiny (8 bytes/entry of
    * payload), broadcastable, reusable across corpus drops as long
    * as (n, window) match the build.
    */
  def winnowReferenceIndex(reference: DataFrame, textCol: String,
                           n: Int = 5, window: Int = 4): DataFrame =
    // the reference only contributes its fingerprint SET — a constant
    // synthetic id keeps textCol the sole schema requirement
    winnowingFingerprints(
        reference.select(lit(0L).as("__rid"), col(textCol)),
        textCol, "__rid", n, window)
      .select(col("fp")).distinct()

  /** [[winnowOverlapStats]] against a prebuilt
    * [[winnowReferenceIndex]] frame — bit-identical to the inline
    * build (gated).
    */
  def winnowOverlapStatsFromIndex(corpus: DataFrame, index: DataFrame,
                                  textCol: String, corpusIdCol: String,
                                  n: Int = 5, window: Int = 4)
      : DataFrame = {
    val cf = winnowingFingerprints(corpus, textCol, corpusIdCol, n, window)
      .select(col(corpusIdCol), col("fp")).distinct()
    val rf = index.select(col("fp")).distinct()
    cf.join(broadcast(rf).withColumn("__hit", lit(1)), Seq("fp"), "left")
      .groupBy(col(corpusIdCol))
      .agg(count(lit(1)).as("n_fp"),
        sum(coalesce(col("__hit"), lit(0))).as("n_shared"))
      .filter(col("n_shared") >= 1)
      .withColumn("overlap_frac",
        round(col("n_shared").cast("double") / col("n_fp"), 6))
  }

  def winnowOverlapStats(corpus: DataFrame, reference: DataFrame,
                         textCol: String, corpusIdCol: String,
                         n: Int = 5, window: Int = 4): DataFrame =
    winnowOverlapStatsFromIndex(corpus,
      winnowReferenceIndex(reference, textCol, n, window),
      textCol, corpusIdCol, n, window)

  /** Partial-overlap document clusters from winnowing fingerprints —
    * the clustering composition [[winnowingFingerprints]] promises:
    * docs sharing >= `minShared` distinct fingerprints pair, pairs
    * close into components via [[connectedComponents]]. Catches
    * CHAINS of partial overlap (A quotes B, B quotes C — A and C
    * share nothing directly) that whole-document signatures never
    * connect; `minShared` damps single-fingerprint coincidences.
    * Returns (`id`, `comp`) like connectedComponents — docs in no
    * pair are absent.
    *
    * Scale: both stages ship (id, 8-hex fp) pairs — text never
    * shuffles. `maxDf > 0` drops fingerprints occurring in more than
    * maxDf docs BEFORE pairing (stop-fingerprint filtering: a
    * corpus-hot boilerplate fingerprint has df² pair fanout and
    * would glue the corpus into one cluster; the cap bounds every
    * fingerprint's fanout at maxDf², the same discipline as
    * [[TextAnalysis.stripBoilerplateLines]]'s minDf in reverse).
    * RECOMMENDED DEFAULT on any corpus not already boilerplate-
    * stripped: set maxDf well above the largest true duplicate
    * family you expect (copies of one document share fingerprints at
    * df = family size) and well below boilerplate df (≈ the share of
    * docs carrying the template) — maxDf ≈ 50–500 for web corpora;
    * leave 0 only when upstream cleaning (e.g.
    * [[TextAnalysis.stripBoilerplateLines]]) already removed shared
    * templates. The d31 gate replays maxDf = 4 against a fixture
    * where every 3rd doc carries an injected header: uncapped, the
    * header's fingerprints alone glue a third of the corpus into one
    * component. The shared-count aggregation combines map-side; the
    * component loop passes `reliableCheckpointDir` through for
    * cluster fault tolerance.
    */
  def winnowClusters(df: DataFrame, textCol: String, idCol: String,
                     n: Int = 5, window: Int = 4, minShared: Int = 2,
                     maxDf: Int = 0,
                     reliableCheckpointDir: Option[String] = None)
      : DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val fps0 = winnowingFingerprints(df, textCol, idCol, n, window)
      .select(col(idCol), col("fp")).distinct()
    val fps = if (maxDf <= 0) fps0 else {
      val hot = fps0.groupBy(col("fp"))
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf).select(col("fp"))
      fps0.join(broadcast(hot), Seq("fp"), "left_anti")
    }
    val l = fps.select(col("fp"), col(idCol).as("__id1"))
    val r = fps.select(col("fp"), col(idCol).as("__id2"))
    val pairs = l.join(r, Seq("fp"))
      .filter(col("__id1") < col("__id2"))
      .groupBy(col("__id1"), col("__id2"))
      .agg(count(lit(1)).as("__ns"))
      .filter(col("__ns") >= minShared)
      .select(col("__id1"), col("__id2"))
    connectedComponents(pairs, "__id1", "__id2",
      reliableCheckpointDir = reliableCheckpointDir)
  }

  /** One-call winnowing decontamination: drop corpus docs sharing at
    * least `minShared` distinct winnowing fingerprints with the
    * reference (minShared = 1 ⇒ any shared >= window+n-1-token run
    * removes the doc). Same broadcast shape as
    * [[winnowOverlapStats]]; the corpus pays one id anti-join back.
    */
  def winnowDecontaminate(corpus: DataFrame, reference: DataFrame,
                          textCol: String, corpusIdCol: String,
                          n: Int = 5, window: Int = 4,
                          minShared: Int = 1): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val hit = winnowOverlapStats(corpus, reference, textCol, corpusIdCol,
        n, window)
      .filter(col("n_shared") >= minShared)
      .select(col(corpusIdCol))
    corpus.join(hit, Seq(corpusIdCol), "left_anti")
  }

  /** Global paragraph-level keep-first dedup — the Dolma / RefinedWeb
    * paragraph-dedup stage: a non-empty paragraph occurring at more
    * than one (id, index) location in the corpus survives only at its
    * globally-first occurrence; later occurrences — in other documents
    * OR later in the same document — are dropped and each text is
    * rebuilt from its surviving paragraphs in order. Empty paragraphs
    * are exempt (formatting, not content — the
    * [[TextAnalysis.dropRepeatedLines]] exemption).
    *
    * Contrast with the existing line forms:
    * [[TextAnalysis.dropRepeatedLines]] dedups only WITHIN one doc;
    * [[TextAnalysis.stripBoilerplateLines]] strips ALL occurrences
    * (including the first) of lines in >= minDf docs. This is the
    * corpus-wide keep-first form: repeated content survives exactly
    * once, where, ties broken by (id, index).
    *
    * Scale: same shape as [[dropRepeatedSpans]] — paragraphs travel as
    * (xxhash64, id, index) triples, the first/count aggregation
    * combines map-side, only duplicated paragraphs pay the join back,
    * and untouched docs keep their text byte-identical without ever
    * shuffling it.
    *
    * @param sep paragraph separator — a split regex AND the literal
    *            re-join string, so keep it to a fixed token like
    *            "\n" (default) or "\n\n"
    * @return (idCol, textCol rebuilt, n_paras_removed)
    */
  def dedupParagraphs(df: DataFrame, textCol: String, idCol: String,
                      sep: String = "\n"): DataFrame = {
    val ps = split(col(textCol), sep, -1)
    val paras = df
      .select(col(idCol),
        posexplode(ps).as(Seq("__idx", "__p")))
      .withColumn("__h",
        when(length(col("__p")) > 0, xxhash64(col("__p"))))
    val firsts = paras.filter(col("__h").isNotNull)
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__idx"))).as("__first"),
        count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select(col("__h"), col("__first"))
    val marked = paras.join(firsts, Seq("__h"))
      .filter(struct(col(idCol), col("__idx")) =!= col("__first"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__idx")).as("__mi"))
    df.join(marked, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__mi").isNull, col(textCol))
          .otherwise(array_join(
            filter(ps, (_, i) => !array_contains(col("__mi"), i)), sep))
          .as(textCol),
        coalesce(size(col("__mi")), lit(0)).cast("bigint")
          .as("n_paras_removed"))
  }

  /** The (id, digest, presence-marker) projection both delta
    * spellings share — one definition so the stream form's
    * row-for-row batch parity holds by construction, not by keeping
    * two copies hand-synced.
    */
  private def deltaSide(df: DataFrame, idCol: String, textCol: String,
                        tag: String): DataFrame =
    df.select(col(idCol).as("__id"),
      md5(col(textCol)).as(s"__d$tag"), lit(1).as(s"__p$tag"))

  /** The shared added/changed/unchanged classification (null-safe
    * digest compare); `removed` exists only where a `before`
    * presence marker can be absent — the full-outer batch join.
    */
  private val deltaStatus: Column =
    when(col("__pb").isNull, "added")
      .when(col("__pa").isNull, "removed")
      .when(!(col("__db") <=> col("__da")), "changed")
      .otherwise("unchanged")

  /** Drop-over-drop corpus DELTA — the refresh-audit primitive
    * ([[TextAnalysis.corpusDiff]] answers "how did the per-dimension
    * counts move"; this answers "WHICH documents changed"): per id
    * across two drops of an id-keyed corpus, `added` (id only in the
    * new drop), `removed` (only in the old), `changed` (same id,
    * different content digest — md5 of the text, the exact-dedup
    * digest, so 'changed' means the text changed), or `unchanged`.
    * Presence is tracked by marker columns, not digest nullness, so
    * null-text documents classify correctly (null <=> null is
    * unchanged). One shuffle join keyed on the id; the scan reads
    * only (id, text). `idCol` must be unique within each drop — a
    * keyed corpus contract; duplicated ids multiply join rows like
    * any keyed join.
    *
    * @return (idCol, status) — one row per id seen in either drop;
    *         aggregate with a groupBy("status") for the summary
    */
  def corpusDelta(before: DataFrame, after: DataFrame,
                  idCol: String, textCol: String): DataFrame =
    deltaSide(before, idCol, textCol, "b")
      .join(deltaSide(after, idCol, textCol, "a"),
        Seq("__id"), "full_outer")
      .select(col("__id").as(idCol), deltaStatus.as("status"))

  /** The STREAMING spelling of [[corpusDelta]] — classify documents
    * AS THEY ARRIVE against a static baseline drop (the refresh
    * pipeline's live view: route `added`/`changed` docs into
    * re-processing while the drop is still landing, instead of
    * waiting for it to close): per incoming id, `added` (not in the
    * baseline), `changed` (in the baseline with a different content
    * digest — null-safe, like the batch form), or `unchanged`. A
    * stream-STATIC left join keyed on the id (stateless — no
    * watermark, no store) with the baseline side reduced to
    * (id, digest) before the join; runs identically on a batch
    * frame, where it agrees with [[corpusDelta]] row-for-row on
    * every id present in the new drop. `removed` is the one status a
    * stream cannot emit — absence is only knowable once the drop
    * CLOSES; run the batch [[corpusDelta]] (or an anti-join) at
    * drop close for the removal audit. Same keyed-corpus contract:
    * ids unique within each drop; same (baseline, new) PARAMETER
    * ORDER as the batch form's (before, after) — a caller porting
    * between the two never swaps drops silently.
    *
    * @return (idCol, status) — one row per NEW-drop document
    */
  def corpusDeltaStream(baseline: DataFrame, newDocs: DataFrame,
                        idCol: String, textCol: String): DataFrame =
    deltaSide(newDocs, idCol, textCol, "a")
      .join(deltaSide(baseline, idCol, textCol, "b"),
        Seq("__id"), "left")
      .select(col("__id").as(idCol), deltaStatus.as("status"))

  /** The drop-CLOSE removal audit — the one status
    * [[corpusDeltaStream]] cannot emit (absence is only knowable
    * once the drop closes): baseline ids ABSENT from the closed
    * drop, as (id, 'removed') rows. One anti-join keyed on the id,
    * each side reduced to its id column before the join — no
    * digests, no text shuffle (presence is all removal needs). Same
    * (before, after) parameter order as [[corpusDelta]] /
    * [[corpusDeltaStream]], so a caller closing a streamed drop
    * never swaps sides silently; by construction
    * `corpusDeltaStream(baseline, drop) UNION removedAtClose
    * (baseline, drop)` ≡ `corpusDelta(baseline, drop)` row-for-row
    * (spec-pinned) — the live view plus this audit IS the batch
    * delta. Same keyed-corpus contract: ids unique within each drop.
    *
    * @return (idCol, status) — one 'removed' row per baseline id
    *         missing from the closed drop (status carried so the
    *         union with the stream's rows needs no reshaping)
    */
  def corpusDeltaRemoved(baseline: DataFrame, closedDrop: DataFrame,
                         idCol: String, textCol: String): DataFrame =
    baseline.select(col(idCol))
      .join(closedDrop.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), lit("removed").as("status"))
}
