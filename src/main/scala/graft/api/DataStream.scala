package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Fluent pipeline handle mirroring the reference's `DataStream`
  * (/root/reference/crates/core/src/datastream.rs:34-51): immutable,
  * every operation returns a new handle. Wraps an untyped Spark
  * DataFrame (batch or streaming — the same API works in both modes;
  * watermarks are no-ops on batch plans, as in Spark itself).
  *
  * @param df           the wrapped (possibly streaming) DataFrame
  * @param eventTimeCol name of the event-time column used by window()
  *                     and watermarks (reference: canonical_timestamp)
  * @param watermarkDelay watermark delay applied before any window agg;
  *                     "0 seconds" approximates the reference's
  *                     min-based watermark with no lateness allowance
  */
final case class DataStream(
    df: DataFrame,
    eventTimeCol: String = "ts",
    watermarkDelay: String = "0 seconds") {

  private def next(d: DataFrame): DataStream = copy(df = d)

  // --- column ops (reference datastream.rs:74-123) -------------------

  def select(cols: Column*): DataStream = next(df.select(cols: _*))
  def selectExpr(exprs: String*): DataStream = next(df.selectExpr(exprs: _*))
  def filter(cond: Column): DataStream = next(df.filter(cond))
  def withColumn(name: String, col: Column): DataStream =
    next(df.withColumn(name, col))
  def dropColumns(cols: String*): DataStream = next(df.drop(cols: _*))

  def withEventTime(col: String): DataStream = copy(eventTimeCol = col)
  def withWatermarkDelay(delay: String): DataStream =
    copy(watermarkDelay = delay)

  // --- joins (reference datastream.rs:126-175, Joinable :379-395) ----

  /** Equi-join on named column pairs + optional residual filter.
    * `right` may wrap a static or streaming frame (stream-static and
    * stream-stream joins are both Spark-native).
    */
  def join(right: DataStream, joinType: String,
           leftCols: Seq[String], rightCols: Seq[String],
           filter: Option[Column] = None): DataStream = {
    require(leftCols.length == rightCols.length,
      "leftCols and rightCols must align")
    val eq = leftCols.zip(rightCols)
      .map { case (l, r) => df(l) === right.df(r) }
      .reduce(_ && _)
    next(df.join(right.df, filter.map(eq && _).getOrElse(eq), joinType))
  }

  /** General predicate (theta) join. */
  def joinOn(right: DataStream, joinType: String, on: Column): DataStream =
    next(df.join(right.df, on, joinType))

  def join(right: DataFrame, joinType: String, on: Column): DataStream =
    next(df.join(right, on, joinType))

  /** Stream-stream equi-join with an event-time range bound — the
    * watermark-safe form Spark requires so both sides' state can be
    * GC'd (SURVEY §2.3: non-equi stream joins need range conditions).
    * Both sides get watermarks; right rows must fall within
    * [left.ts - tolerance, left.ts + tolerance].
    */
  def joinWithinTime(right: DataStream, on: Column,
                     tolerance: String): DataStream = {
    val l = if (df.isStreaming) df.withWatermark(eventTimeCol, watermarkDelay)
            else df
    val rdf = if (right.df.isStreaming)
      right.df.withWatermark(right.eventTimeCol, right.watermarkDelay)
    else right.df
    val range =
      rdf(right.eventTimeCol) >= l(eventTimeCol) - expr(s"INTERVAL $tolerance") &&
      rdf(right.eventTimeCol) <= l(eventTimeCol) + expr(s"INTERVAL $tolerance")
    next(l.join(rdf, on && range, "inner"))
  }

  /** Union by name (reference reachable only via raw DataFusion —
    * first-class here).
    */
  def union(other: DataStream): DataStream =
    next(df.unionByName(other.df))

  /** As-of join against another frame (graft.operators.Joins):
    * `direction` ∈ backward | forward | nearest, optional tolerance.
    * Union sort-merge — candidate pairs are never materialized.
    */
  def asOfJoin(right: DataStream, leftKeys: Seq[String],
               rightKeys: Seq[String], leftTs: String, rightTs: String,
               direction: String = "backward",
               tolerance: Option[String] = None): DataStream =
    next(direction match {
      case "backward" => graft.operators.Joins.asOfJoinBackward(
        df, right.df, leftKeys, rightKeys, leftTs, rightTs, tolerance)
      case "forward" => graft.operators.Joins.asOfJoinForward(
        df, right.df, leftKeys, rightKeys, leftTs, rightTs, tolerance)
      case "nearest" => graft.operators.Joins.asOfJoinNearest(
        df, right.df, leftKeys, rightKeys, leftTs, rightTs, tolerance)
      case other => throw new IllegalArgumentException(
        s"unknown as-of direction '$other' " +
          "(expected backward | forward | nearest)")
    })

  /** Streaming exact dedup on key columns with bounded state: rows
    * whose keys repeat within the watermark window are dropped, state
    * for keys older than the watermark is GC'd — the streaming
    * counterpart of Dedup.dropExactDuplicates for 100TB ingest.
    */
  def dedupWithinWatermark(cols: Seq[String]): DataStream =
    if (df.isStreaming)
      next(df.withWatermark(eventTimeCol, watermarkDelay)
        .dropDuplicatesWithinWatermark(cols))
    else next(df.dropDuplicates(cols))

  /** Continuous decontamination against a persisted exact index
    * ([[graft.operators.DedupIndex.writeExact]], built once per
    * reference drop): rows whose `textCol` content digest appears in
    * the index are dropped. The anti-join is STATELESS on this side
    * (stream-static when streaming, plain when batch) — no watermark,
    * no state store; the index frame broadcasts or AQE-joins like any
    * static dimension.
    */
  def decontaminateAgainstIndex(indexPath: String,
                                textCol: String): DataStream =
    next(graft.operators.Dedup.decontaminateFromIndex(df,
      graft.operators.DedupIndex.readExact(df.sparkSession, indexPath),
      textCol))

  // --- curation suite bridges (graft.operators Sampling/Packing/
  // TextAnalysis) — the pure-filter forms run on batch AND streaming
  // frames unchanged; packing dispatches to the stateful streaming
  // packer on streaming frames -------------------------------------

  /** Deterministic uniform sample (hash-threshold filter; fractions
    * nest within a salt domain).
    */
  def hashSample(idCol: String, fraction: Double,
                 salt: String = graft.operators.Sampling.SampleSalt)
      : DataStream =
    next(graft.operators.Sampling.hashSample(df, idCol, fraction, salt))

  /** Leakage-safe deterministic split: adds a `split` band column. */
  def splitByHash(idCol: String, weights: Seq[(String, Double)],
                  salt: String = graft.operators.Sampling.SplitSalt)
      : DataStream =
    next(graft.operators.Sampling.splitByHash(df, idCol, weights, salt))

  /** Quality-weighted soft filter: keep probability = the per-row
    * `weight` column (clamped to [0,1]); a pure stateless filter, so
    * it runs on batch AND streaming frames with identical draws
    * (graft.operators.Sampling.weightedHashSample).
    */
  def weightedSample(idCol: String, weight: Column,
                     salt: String = graft.operators.Sampling.WeightSalt)
      : DataStream =
    next(graft.operators.Sampling.weightedHashSample(df, idCol, weight,
      salt))

  /** Temperature-based domain mixing: downsample so the selected
    * mixture ∝ n_domain^tau, smallest domain kept whole
    * (graft.operators.Sampling.temperatureMixSample). Batch frames
    * only — the rates are corpus-wide domain counts a stream cannot
    * know; mix in the batch compaction pass.
    */
  def temperatureMix(idCol: String, domainCol: String,
                     tau: Double = 0.5,
                     salt: String = graft.operators.Sampling.MixSalt)
      : DataStream = {
    require(!df.isStreaming,
      "temperatureMix is batch-only: corpus-wide domain counts " +
        "cannot stream — mix in the compaction pass, or compute " +
        "Sampling.domainMixRates there and stream through " +
        "temperatureMixWith")
    next(graft.operators.Sampling.temperatureMixSample(df, idCol,
      domainCol, tau, salt))
  }

  /** Apply precomputed STATIC mix rates
    * (graft.operators.Sampling.domainMixRates, or hand-tuned
    * `(domain, mix_rate)` rows) to this frame — batch or streaming:
    * the join is stream-static and the filter stateless, so an
    * ingest pipeline mixes continuously against the last compaction
    * pass's counts. Domains absent from `rates` are dropped.
    */
  def temperatureMixWith(rates: DataFrame, idCol: String,
                         domainCol: String,
                         salt: String = graft.operators.Sampling.MixSalt)
      : DataStream =
    next(graft.operators.Sampling.temperatureMixWithRates(df, rates,
      idCol, domainCol, salt))

  /** Deterministic training-order shuffle: global order by the salted
    * draw (graft.operators.Sampling.shuffleByHash). Batch frames only
    * — a global sort has no incremental streaming form; shuffle in
    * the batch compaction pass after ingest.
    */
  def shuffleByHash(idCol: String,
                    salt: String = graft.operators.Sampling.ShuffleSalt)
      : DataStream = {
    require(!df.isStreaming,
      "shuffleByHash is batch-only: a global sort cannot stream — " +
        "shuffle in the compaction pass")
    next(graft.operators.Sampling.shuffleByHash(df, idCol, salt))
  }

  /** GPT-style concat-then-chunk packing: the batch window form on
    * batch frames, the per-shard-cursor stateful form
    * (graft.streaming.StreamingPacking) on streaming frames — same
    * draw, same chunk arithmetic, arrival-ordered across micro-batches
    * (see StreamingPacking's order contract).
    */
  def packChunks(idCol: String, tokenCol: String, capacity: Long,
                 shardChars: Int = 1,
                 salt: String = graft.operators.Packing.ShardSalt)
      : DataStream =
    next(
      if (df.isStreaming)
        graft.streaming.StreamingPacking.packChunks(df, idCol, tokenCol,
          capacity, shardChars, salt)
      else
        graft.operators.Packing.packChunks(df, idCol, tokenCol,
          capacity, shardChars, salt))

  /** CCNet-style LM quality scoring against a
    * graft.operators.TextAnalysis.bigramLm frame. Batch frames only:
    * the per-document aggregate keys on an unbounded id domain
    * (unbounded state on a stream) — score in the batch compaction
    * pass, persisting the LM frame as parquet next to the snapshot.
    */
  def lmScore(lm: DataFrame, idCol: String, textCol: String,
              alpha: Double = 0.4): DataStream = {
    require(!df.isStreaming,
      "lmScore is batch-only: the per-document aggregate would hold " +
        "unbounded state on a stream — score in the compaction pass")
    next(graft.operators.TextAnalysis.lmScore(df, idCol, textCol, lm,
      alpha))
  }

  /** Trigram stupid-backoff LM scoring against a
    * graft.operators.TextAnalysis.trigramLm frame — the order-3
    * [[lmScore]], same batch-only contract (per-document aggregate
    * over an unbounded id domain): score in the batch compaction
    * pass.
    */
  def lmScore3(lm: DataFrame, idCol: String, textCol: String,
               alpha: Double = 0.4): DataStream = {
    require(!df.isStreaming,
      "lmScore3 is batch-only: the per-document aggregate would " +
        "hold unbounded state on a stream — score in the compaction " +
        "pass")
    next(graft.operators.TextAnalysis.lmScore3(df, idCol, textCol, lm,
      alpha))
  }

  /** DSIR-style importance resampling in one call: weight by the
    * capped target/source per-token likelihood ratio
    * (graft.operators.TextAnalysis.importanceWeights over two
    * bigramLm frames), then keep each row with probability
    * `imp_weight` via the deterministic weighted draw. Batch only,
    * like lmScore (per-document aggregates).
    */
  def importanceResample(targetLm: DataFrame, sourceLm: DataFrame,
                         idCol: String, textCol: String,
                         alpha: Double = 0.4): DataStream = {
    require(!df.isStreaming,
      "importanceResample is batch-only: LM scoring aggregates per " +
        "document — resample in the compaction pass")
    next(graft.operators.Sampling.weightedHashSample(
      graft.operators.TextAnalysis.importanceWeights(df, idCol, textCol,
        targetLm, sourceLm, alpha),
      idCol, col("imp_weight")))
  }

  /** Context-window chunking with overlap
    * (graft.operators.Packing.chunkByTokens) — stateless per-row
    * explode, so it runs identically on batch and streaming frames.
    */
  def chunkByTokens(textCol: String, maxTokens: Int, overlap: Int = 0)
      : DataStream =
    next(graft.operators.Packing.chunkByTokens(df, textCol, maxTokens,
      overlap))

  /** Token-budget selection: the bucket-histogram batch form on batch
    * frames, the per-stratum (spent, closed) admission state
    * (graft.streaming.StreamingBudget) on streaming frames — same
    * draw order, same PREFIX semantics (a single-batch stream replay
    * equals the batch kept set; see StreamingBudget's contract).
    */
  def selectToTokenBudget(idCol: String, tokenCol: String, budget: Long,
                          strataCol: Option[String] = None,
                          salt: String =
                            graft.operators.Sampling.BudgetSalt)
      : DataStream =
    next(
      if (df.isStreaming)
        graft.streaming.StreamingBudget.selectToTokenBudget(df, idCol,
          tokenCol, budget, strataCol, salt)
      else
        graft.operators.Sampling.selectToTokenBudget(df, idCol,
          col(tokenCol), budget, strataCol, salt))

  /** PII redaction in place on `textCol` (RE2-safe patterns). */
  def redactPii(textCol: String): DataStream =
    next(df.withColumn(textCol,
      graft.operators.TextAnalysis.redactPii(col(textCol))))

  /** Canonicalize a URL column in place
    * (graft.operators.Urls.normalizeUrl) — pure projection, streams
    * as-is.
    */
  def normalizeUrl(urlCol: String): DataStream =
    next(df.withColumn(urlCol,
      graft.operators.Urls.normalizeUrl(col(urlCol))))

  /** Blocklist scan (graft.operators.TextAnalysis.blocklistStats):
    * adds (n_hits, n_phrases, hit_phrases) — one Aho–Corasick pass
    * per row, pure projection, streams as-is.
    */
  def blocklistStats(textCol: String, phrases: Seq[String]): DataStream =
    next(graft.operators.TextAnalysis.blocklistStats(df, textCol, phrases))

  /** Drop rows containing ANY listed phrase
    * (graft.operators.TextAnalysis.dropBlocklisted) — pure scan
    * filter, streams as-is.
    */
  def dropBlocklisted(textCol: String, phrases: Seq[String]): DataStream =
    next(graft.operators.TextAnalysis.dropBlocklisted(df, textCol, phrases))

  /** C4-family line-level cleaning
    * (graft.operators.TextAnalysis.c4Clean): per-row projection +
    * filter, streams as-is. Replaces the row set with
    * (idCol, clean, n_lines_kept, n_lines_total).
    */
  def c4Clean(idCol: String, textCol: String, minLineWords: Int = 3,
              minKeptLines: Int = 1): DataStream =
    next(graft.operators.TextAnalysis.c4Clean(df, idCol, textCol,
      minLineWords, minKeptLines))

  /** Within-document repeated-line removal
    * (graft.operators.TextAnalysis.dropRepeatedLines): per-row
    * projection, streams as-is.
    */
  def dropRepeatedLines(idCol: String, textCol: String): DataStream =
    next(graft.operators.TextAnalysis.dropRepeatedLines(df, idCol,
      textCol))

  /** Line-level cross-document boilerplate removal: strip every line
    * occurring in ≥ `minDf` distinct documents and rebuild `textCol`
    * (graft.operators.TextAnalysis.stripBoilerplateLines; adds
    * `n_lines`/`n_removed`). Batch frames only — the document
    * frequency is a corpus-wide aggregate a stream cannot know before
    * its lines have already been emitted; strip in the batch
    * compaction pass after ingest.
    */
  def stripBoilerplate(idCol: String, textCol: String,
                       minDf: Int = 2): DataStream = {
    require(!df.isStreaming,
      "stripBoilerplate is batch-only: corpus-wide line frequency " +
        "cannot stream — strip in the compaction pass")
    next(graft.operators.TextAnalysis.stripBoilerplateLines(df, idCol,
      textCol, minDf))
  }

  /** Drop rows whose `textCol` content exactly matches a row of the
    * STATIC `reference` frame (digest anti-join;
    * graft.operators.Dedup.decontaminate). On a streaming frame this
    * plans a stream-static anti-join — continuous decontamination of
    * an ingest pipeline against a fixed benchmark/eval set.
    */
  def decontaminate(reference: DataFrame, textCol: String): DataStream =
    next(graft.operators.Dedup.decontaminate(df, reference, textCol))

  /** Drop rows sharing any word n-gram with the STATIC `reference`
    * frame (graft.operators.Dedup.ngramDecontaminate) — substring-
    * level decontamination, which catches an eval example leaked
    * INSIDE a larger document. Batch frames only: the gram-match id
    * set needs a distinct + second join, both unsupported on streams;
    * on an ingest path run [[decontaminate]] continuously and this
    * form in the batch compaction pass.
    */
  def ngramDecontaminate(reference: DataFrame, textCol: String,
                         idCol: String, n: Int = 13): DataStream =
    next(graft.operators.Dedup.ngramDecontaminate(df, reference,
      textCol, idCol, n))

  /** Drop rows whose EMBEDDING is within `threshold` cosine of any
    * STATIC `reference` row
    * (graft.operators.Dedup.semanticDecontaminate) — paraphrase-level
    * decontamination. Batch frames here; on an ingest path apply the
    * same operator per micro-batch via [[foreachBatch]] — each row's
    * verdict depends only on (row, reference), never on other corpus
    * rows, so micro-batch-local application is EXACTLY the batch
    * semantics (a spec pins the parity), no cross-batch state needed.
    */
  def semanticDecontaminate(reference: DataFrame, embCol: String,
                            idCol: String, threshold: Double = 0.9,
                            nPlanes: Int = 8, dim: Int = 64,
                            nTables: Int = 4): DataStream = {
    require(!df.isStreaming,
      "semanticDecontaminate is batch-only as a plan node (the " +
        "candidate max-cos aggregation + anti-join cannot run inside " +
        "a streaming query): stream via foreachBatch — per-row " +
        "verdicts depend only on the static reference, so " +
        "micro-batch application is exact")
    next(graft.operators.Dedup.semanticDecontaminate(df, reference,
      embCol, idCol, threshold, nPlanes, dim, nTables))
  }

  /** Jaccard (MinHash-banded) decontamination against a static
    * reference (graft.operators.Dedup.minhashDecontaminate) — the
    * n-gram-overlap analogue of [[semanticDecontaminate]], with the
    * same batch-only plan-node contract: per-row verdicts depend only
    * on the static reference, so streams apply it exactly per
    * micro-batch via foreachBatch (parity spec'd).
    */
  def minhashDecontaminate(reference: DataFrame, textCol: String,
                           idCol: String, threshold: Double = 0.5,
                           shingleN: Int = 3, numHashes: Int = 32,
                           bands: Int = 0): DataStream = {
    require(!df.isStreaming,
      "minhashDecontaminate is batch-only as a plan node (the " +
        "candidate max-jaccard aggregation + anti-join cannot run " +
        "inside a streaming query): stream via foreachBatch — " +
        "per-row verdicts depend only on the static reference, so " +
        "micro-batch application is exact")
    next(graft.operators.Dedup.minhashDecontaminate(df, reference,
      textCol, idCol, shingleN, numHashes, bands, threshold))
  }

  /** Winnowing-fingerprint decontamination against a static reference
    * (graft.operators.Dedup.winnowDecontaminate) — MOSS-style
    * partial-overlap dropping (minShared = 1 certifies a shared
    * ≥ window+n−1-token run), same batch-only plan-node contract:
    * per-row verdicts depend only on (row, reference), so streams
    * apply it exactly per micro-batch via foreachBatch.
    */
  def winnowDecontaminate(reference: DataFrame, textCol: String,
                          idCol: String, n: Int = 5, window: Int = 4,
                          minShared: Int = 1): DataStream = {
    require(!df.isStreaming,
      "winnowDecontaminate is batch-only as a plan node (the " +
        "shared-fingerprint aggregation + anti-join cannot run " +
        "inside a streaming query): stream via foreachBatch — " +
        "per-row verdicts depend only on the static reference, so " +
        "micro-batch application is exact")
    next(graft.operators.Dedup.winnowDecontaminate(df, reference,
      textCol, idCol, n, window, minShared))
  }

  /** Decontamination by EXCISION against a static reference
    * (graft.operators.Dedup.exciseContamination): cut only the
    * reference-covered n-gram spans, keeping the document. Batch-only
    * as a plan node (the span interval merge is a window +
    * aggregation); each row's rewrite depends only on (row,
    * reference), so streams apply it exactly per micro-batch via
    * foreachBatch.
    */
  def exciseContamination(reference: DataFrame, textCol: String,
                          idCol: String, n: Int = 13): DataStream = {
    require(!df.isStreaming,
      "exciseContamination is batch-only as a plan node (the span " +
        "interval merge is a window + aggregation): stream via " +
        "foreachBatch — each row's rewrite depends only on the " +
        "static reference, so micro-batch application is exact")
    next(graft.operators.Dedup.exciseContamination(df, reference,
      textCol, idCol, n))
  }

  /** Streaming SimHash NEAR-dup pair lookup against bounded banded
    * state (graft.streaming.StreamingDedup): emits
    * (idCol_1, idCol_2, hamming, ts) for documents within `horizon`
    * event time of each other whose 64-bit SimHash signatures differ
    * by ≤ maxHamming bits — the continuous counterpart of the batch
    * Dedup.simhashNearDupPairs over the Kafka ingest path.
    */
  def nearDupPairs(textCol: String, idCol: String, horizon: String,
                   maxHamming: Int = 3): DataStream =
    next(graft.streaming.StreamingDedup.simhashPairs(df,
      graft.functions.simhash64_text(col(textCol)), idCol, eventTimeCol,
      DataStream.intervalMs(horizon), maxHamming, watermarkDelay))

  /** Streaming embedding-cosine NEAR-dup pair lookup: SRP-bucketed
    * state with exact double cosine verification
    * (graft.streaming.StreamingDedup.embeddingPairs) — emits
    * (idCol_1, idCol_2, cos, ts) for rows within `horizon` whose
    * cosine (rounded to 6) reaches `threshold`. Size nPlanes/nTables
    * per the batch Dedup.embeddingNearDupPairsLsh scaladoc.
    */
  def embeddingNearDupPairs(embCol: String, idCol: String,
                            horizon: String, threshold: Double = 0.9,
                            nPlanes: Int = 16, dim: Int = 64,
                            nTables: Int = 8): DataStream =
    next(graft.streaming.StreamingDedup.embeddingPairs(df, embCol,
      idCol, eventTimeCol, DataStream.intervalMs(horizon), threshold,
      nPlanes, dim, nTables, delay = watermarkDelay))

  // --- streaming window aggregation (reference §2.4) -----------------

  /** Tumbling (slide=None) or sliding window aggregation, grouped by
    * `groupExprs`. Emits the reference's visible output columns
    * `window_start_time`/`window_end_time`
    * (/root/reference/crates/core/src/logical_plan/streaming_window.rs:88-107)
    * flattened from Spark's `window` struct. On a streaming frame this
    * plans Spark's stateful aggregate; with append output mode the
    * emission semantics match the reference (emit once the watermark
    * passes window end; later rows dropped).
    */
  def window(groupExprs: Seq[Column], aggExprs: Seq[Column],
             length: String, slide: Option[String] = None): DataStream = {
    val ts = col(eventTimeCol)
    val w = slide match {
      case Some(s) => org.apache.spark.sql.functions.window(ts, length, s)
      case None    => org.apache.spark.sql.functions.window(ts, length)
    }
    val base = if (df.isStreaming) df.withWatermark(eventTimeCol, watermarkDelay)
               else df
    val agged = base
      .groupBy(w.as("__window") +: groupExprs: _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    next(flattenWindow(agged))
  }

  // --- the monitor family ---------------------------------------------
  //
  // Every monitor takes its window as one [[WindowShape]] value:
  // `Fixed(length, slide)` for tumbling/sliding grids, `Session(gap)`
  // for gap-merged activity bursts (a session closes after `gap` of
  // silence). Every constituent aggregate (KMV sketches, conditional
  // counts, vec_sum partials, Misra–Gries summaries, min/max) is
  // mergeable, so per-window — or per OPEN session, where Spark's
  // session state merges partials as sessions merge — state stays
  // bounded, constant in ingest volume. `by` keys each window per
  // tenant/source; keyed sessions merge per key. The streaming and
  // batch spellings are the same code path.

  /** Aggregate `aggs` per `shape` and per `by` key. */
  private def aggregate(shape: WindowShape, by: Seq[String],
                        aggs: Seq[Column]): DataStream = shape match {
    case WindowShape.Fixed(length, slide) =>
      window(by.map(col), aggs, length, slide)
    case WindowShape.Session(gap) =>
      sessionWindow(by.map(col), aggs, gap)
  }

  import DataStream.Stat

  /** The monitor shape: `n_rows` plus every statistic's aggregates in
    * ONE windowed aggregation, then window bounds, `by` keys, `n_rows`
    * and every statistic's output columns, in order.
    */
  private def monitor(shape: WindowShape, by: Seq[String],
                      stats: Seq[Stat]): DataStream =
    aggregate(shape, by,
      count(lit(1)).as("n_rows") +: stats.flatMap(_.aggs))
      .select(Seq(col("window_start_time"), col("window_end_time")) ++
        by.map(col) ++ (col("n_rows") +: stats.flatMap(_.cols)): _*)

  private def kmvEstimate(k: Int): Column =
    graft.operators.Sketches.kmvDistinct(col("__sk"), k)

  /** KMV distinct estimate of `valueCol` from one ≤ k sketch `__sk`. */
  private def distinctStat(valueCol: String, k: Int): Stat =
    Stat(Seq(graft.operators.Sketches.kmvSketch(col(valueCol), k)
        .as("__sk")),
      Seq(round(kmvEstimate(k), 6).as("n_distinct_est")))

  /** Duplication rate 1 − distinct/rows over [[distinctStat]]'s
    * sketch — clamped at 0: the saturated-regime estimator's
    * ~1/√(k−2) error can read a few % above n_rows, and a negative
    * duplication RATE is nonsense for the alarm this feeds.
    */
  private def dupRateStat(k: Int): Stat =
    Stat(Seq.empty, Seq(greatest(lit(0.0),
      round(lit(1.0) - kmvEstimate(k) / col("n_rows"), 6)).as("dup_rate")))

  /** Overlap of [[distinctStat]]'s sketch with a frozen prior-drop
    * sketch: pure arithmetic against a ≤ k-long literal array.
    */
  private def overlapStat(o: graft.operators.Drift.OverlapBaseline,
                          k: Int): Stat = {
    require(o.sketch.size <= k,
      s"baseline sketch holds ${o.sketch.size} values > this " +
        s"monitor's k = $k — the frozen sketch must be built with " +
        "the SAME k (DedupIndex.writeKmv/readKmv pin it)")
    val est = kmvEstimate(k)
    val inter = graft.operators.Sketches.kmvIntersect(col("__sk"),
      typedLit(o.sketch), k)
    Stat(Seq.empty, Seq(round(inter, 6).as("n_overlap_est"),
      when(est === 0.0, lit(0.0)).otherwise(
        least(lit(1.0), greatest(lit(0.0), round(inter / est, 6))))
        .as("overlap_frac")))
  }

  /** Numeric value-distribution drift: B+1 bucket counts plus a
    * non-null count; n_null/tvd/max_shift/psi.
    */
  private def valueStat(v: graft.operators.Drift.ValueBaseline,
                        eps: Double, tag: String): Stat = {
    import graft.operators.Drift
    Stat(Drift.driftAggs(Drift.histBucket(col(v.valueCol), v.boundaries),
        count(col(v.valueCol)), v.fracs.size, tag),
      Drift.statCols(v.fracs, eps, tag, "", emitNull = true))
  }

  /** Categorical mix drift: one count per baseline category, nulls
    * and unseen categories pooling under `__other__`.
    */
  private def categoryStat(c: graft.operators.Drift.CategoryBaseline,
                           eps: Double, tag: String, outPrefix: String,
                           emitNull: Boolean): Stat = {
    import graft.operators.Drift
    val cats = Drift.categoryWithOther(c.fracs)
    Stat(Drift.driftAggs(Drift.categoryBucket(col(c.catCol),
        cats.map(_._1)), count(lit(1)), cats.size, tag),
      Drift.statCols(cats.map(_._2), eps, tag, outPrefix, emitNull))
  }

  /** Embedding-centroid drift: one vec_sum plus a non-null count. */
  private def centroidStat(e: graft.operators.Drift.CentroidBaseline,
                           tag: String, outPrefix: String): Stat = {
    import graft.operators.Drift
    Stat(Drift.centroidAggs(e.embCol, tag),
      Drift.centroidStatCols(e.sumVec, tag, outPrefix))
  }

  /** Streaming corpus-ingest QUALITY monitor: per window, the row
    * count, the KMV distinct estimate of `valueCol`
    * ([[graft.operators.Sketches]] — exact while a window holds
    * < k distinct values, ~1/√(k−2) error beyond), and the implied
    * duplication rate 1 − distinct/rows. The window's streaming
    * state is ONE bounded ≤ k-long sketch buffer plus a count, where
    * a true streaming `COUNT(DISTINCT)` would hold every distinct
    * value in the state store (Spark rejects it on streams for
    * exactly that reason). This is the "is today's crawl suddenly 40%
    * duplicates" alarm, composing with the streaming dedup operators
    * that answer WHICH rows to drop; over `Session(gap)` it is the
    * "crawl burst" shape, one row per activity burst.
    */
  def distinctMonitor(valueCol: String, window: WindowShape,
                      k: Int = 1024,
                      by: Seq[String] = Seq.empty): DataStream =
    monitor(window, by, Seq(distinctStat(valueCol, k), dupRateStat(k)))

  /** Streaming cross-drop overlap monitor — the "how much of today's
    * crawl is last month's" alarm: per window, the row count, the KMV
    * distinct estimate of `valueCol`, the estimated overlap with a
    * FROZEN prior-corpus sketch ([[graft.operators.DedupIndex
    * .writeKmv]], built once at that drop's ingest), and the overlap
    * fraction of this window's distinct values. Everything beyond the
    * window's own sketch is arithmetic: the baseline rides along as a
    * ≤ k-long literal array — the prior corpus is never rescanned and
    * never joined. k is pinned by the baseline's sidecar (a mismatched
    * k silently breaks the estimator, so it refuses like every index
    * read). Estimates are exact in the unsaturated regime (k ≥
    * distinct of window ∪ baseline — the gate regime); beyond it each
    * carries the ~1/√(k−2) KMV error, with `overlap_frac` clamped to
    * [0, 1].
    */
  def overlapMonitor(valueCol: String, window: WindowShape,
                     baselinePath: String,
                     k: Int = 1024,
                     by: Seq[String] = Seq.empty): DataStream = {
    val sketch = graft.operators.DedupIndex
      .readKmv(df.sparkSession, baselinePath, k).head().getSeq[Long](0)
    monitor(window, by, Seq(distinctStat(valueCol, k),
      overlapStat(graft.operators.Drift.OverlapBaseline(sketch),
        k)))
  }

  /** Streaming distribution-drift monitor — the "did the doc-length/
    * quality-score distribution shift" alarm that fires even when
    * row counts and dup rates look healthy (an upstream extractor
    * change usually moves the SHAPE first): per window, histogram
    * `valueCol` against FROZEN baseline bucket `boundaries`
    * ([[graft.operators.Drift.histBucket]] — B boundaries, B+1
    * buckets) and compare to the baseline's `baselineFracs`
    * ([[graft.operators.Drift.histFractions]], or
    * [[graft.operators.DedupIndex.readHist]] for a persisted
    * baseline). Emits per window: n_rows, n_null (null values are
    * EXCLUDED from the distribution and counted separately — a null
    * surge is its own alarm, not bucket-0 traffic), `tvd`
    * (total-variation distance, 0.5·Σ|p−b|), `max_shift` (worst
    * single bucket |p−b|), and `psi` (population stability index,
    * Σ(p−b)·ln((p+ε)/(b+ε)) — <0.1 stable / 0.1–0.25 moderate /
    * >0.25 act). State per window is B+2 plain COUNTs and the
    * baseline rides as literals: no join, no second scan. All three
    * stats are null for a window with zero non-null rows (it still
    * EMITS — n_rows/n_null carry the alarm).
    */
  def driftMonitor(valueCol: String, window: WindowShape,
                   boundaries: Seq[Double], baselineFracs: Seq[Double],
                   eps: Double = 1e-6,
                   by: Seq[String] = Seq.empty): DataStream =
    monitor(window, by, Seq(valueStat(
      graft.operators.Drift.ValueBaseline(valueCol, boundaries,
        baselineFracs), eps, tag = "")))

  /** Categorical twin of [[driftMonitor]] — the "did the language/
    * event-type mix shift" alarm: per window, the distribution of
    * `catCol` over the baseline's category set (everything outside
    * it — including nulls — pooling under
    * [[graft.operators.Drift.OtherCategory]], mirroring
    * [[graft.operators.Drift.categoryFractions]]; a persisted
    * baseline loads with [[graft.operators.DedupIndex.readCats]]) vs
    * the frozen baseline fractions. One COUNT per baseline category
    * per window. Since nulls pool rather than drop, n_null is always
    * 0 here and every stat covers all rows.
    */
  def categoryDriftMonitor(catCol: String, window: WindowShape,
                           baseline: Seq[(String, Double)],
                           eps: Double = 1e-6,
                           by: Seq[String] = Seq.empty): DataStream =
    monitor(window, by, Seq(categoryStat(
      graft.operators.Drift.CategoryBaseline(catCol, baseline), eps,
      tag = "", outPrefix = "", emitNull = true)))

  /** Streaming embedding-centroid drift monitor — the "did the
    * embedding distribution shift" alarm for multimodal/embedding
    * pipelines (an embedding-model swap or a source going off-topic
    * moves the centroid long before scalar stats do): per window, the
    * cosine between the window's embedding centroid and a FROZEN
    * baseline centroid ([[graft.operators.Drift.sumVector]] or
    * [[graft.operators.DedupIndex.readVec]]; cosine is
    * scale-invariant so both sides ride SUM vectors and no mean is
    * ever materialized). State per window is `dim` doubles + two
    * counts ([[graft.expressions.VecSumAgg]]). Null embeddings are
    * excluded and counted apart; a window with none (or a zero-norm
    * sum) still EMITS with null stats.
    */
  def embeddingDriftMonitor(embCol: String, window: WindowShape,
                            baselineVec: Seq[Double],
                            by: Seq[String] = Seq.empty): DataStream =
    monitor(window, by, Seq(centroidStat(
      graft.operators.Drift.CentroidBaseline(embCol, baselineVec),
      tag = "", outPrefix = "")))

  /** ONE-PASS composite ingest-health monitor — the whole monitor
    * family's answer from a SINGLE windowed aggregation over a
    * single scan of the stream: per window (and per `by` key), the
    * row count, KMV distinct estimate and dup rate of `distinctCol`
    * ([[distinctMonitor]]'s columns), plus — for each baseline
    * supplied — the cross-drop overlap (`n_overlap_est`/
    * `overlap_frac`, [[overlapMonitor]]'s — riding the SAME window
    * sketch the distinct section maintains, so this section costs
    * zero extra state; the frozen sketch must be built with this
    * monitor's k over the same column), the numeric value-distribution
    * drift (`n_null`/`tvd`/`max_shift`/`psi`, [[driftMonitor]]'s),
    * the categorical mix drift (`cat_tvd`/`cat_max_shift`/`cat_psi`,
    * [[categoryDriftMonitor]]'s) and the embedding-centroid drift
    * (`emb_n_null`/`emb_centroid_cos`/`emb_centroid_drift`,
    * [[embeddingDriftMonitor]]'s). The composite's per-window state
    * is the SUM of its sections' — still constant in ingest volume —
    * while the standalone monitors cost one scan (and one state
    * store) EACH of the same drop. Each section is built by the same
    * statistic builder its standalone monitor uses.
    */
  def healthMonitor(distinctCol: String, window: WindowShape,
                    value: Option[graft.operators.Drift.ValueBaseline] = None,
                    category: Option[graft.operators.Drift.CategoryBaseline] = None,
                    embedding: Option[graft.operators.Drift.CentroidBaseline] = None,
                    overlap: Option[graft.operators.Drift.OverlapBaseline] = None,
                    k: Int = 1024, eps: Double = 1e-6,
                    by: Seq[String] = Seq.empty): DataStream =
    monitor(window, by,
      Seq(distinctStat(distinctCol, k), dupRateStat(k)) ++
      overlap.map(overlapStat(_, k)) ++
      value.map(valueStat(_, eps, tag = "v")) ++
      category.map(categoryStat(_, eps, tag = "c",
        outPrefix = "cat_", emitNull = false)) ++
      embedding.map(centroidStat(_, tag = "e",
        outPrefix = "emb_")))

  /** Alarm projection over this frame (any monitor/report output in
    * the family): adds `severity` + `alarms` columns per
    * [[graft.operators.Drift.alarms]] — a pure stateless projection,
    * so it chains onto a streaming monitor before its sink
    * (`.distinctMonitor(...).alarms().sinkKafka(...)`) exactly as it
    * does onto a batch report.
    */
  def alarms(thresholds: graft.operators.Drift.AlarmThresholds =
               graft.operators.Drift.AlarmThresholds()): DataStream =
    next(graft.operators.Drift.alarms(df, thresholds))

  /** Streaming data-quality validation — the per-window spelling of
    * [[graft.operators.Validate.report]]: the SAME declarative check
    * suite, compiled into ONE windowed aggregation (per window and per
    * `by` key), emitting one row per (window, key, check) with
    * `check_name`/`column_name`/`requirement`/`value`/`passed`. Every
    * check is bounded-state by construction (conditional counts,
    * min/max, exact sums, one ≤ k KMV sketch for
    * [[graft.operators.Validate.Uniqueness]]), and the per-check
    * explode is a stateless projection after the aggregation, so
    * batch and streaming emit identical rows (pinned by
    * StreamingSpec's batch-twin test). The "did THIS hour's drop (or
    * burst) meet the contract" alarm, feeding a sink the same way the
    * monitor family does.
    */
  def validationMonitor(checks: Seq[graft.operators.Validate.Check],
                        window: WindowShape,
                        by: Seq[String] = Seq.empty): DataStream = {
    import graft.operators.Validate
    require(checks.nonEmpty, "validate: empty check suite")
    val bounds = Seq(col("window_start_time"), col("window_end_time")) ++
      by.map(col)
    aggregate(window, by, Validate.suiteAggs(checks))
      .select(bounds :+ Validate.reportEntries(checks): _*)
      .select(bounds ++ Seq(col("__chk.check_name"),
        col("__chk.column_name"), col("__chk.requirement"),
        col("__chk.value"), col("__chk.passed")): _*)
  }

  /** [[graft.operators.Validate.severity]] over this frame — alert/
    * warn/ok per validation row; chains onto a streaming
    * `validationMonitor` before its sink like [[alarms]] does for
    * the monitor family.
    */
  def validationSeverity(): DataStream =
    next(graft.operators.Validate.severity(df))

  /** Streaming trending-items monitor: per window, the top-`k` most
    * frequent values of `itemCol` by Misra–Gries bounded summary
    * ([[graft.operators.Sketches]] — counts exact while a window
    * holds < `capacity` distinct items, classic MG lower bounds
    * beyond). One row per (window, rank): window bounds, rank, item,
    * count_min, err (the window summary's undercount bound; true
    * frequency ≤ count_min + err). State per window is ≤ `capacity`
    * counters where an exact streaming `GROUP BY item` would key
    * state by every distinct item ever seen; over sessions the
    * summaries merge as sessions merge (the Agarwal-et-al merge
    * [[graft.expressions.FreqSketchAgg]] implements). Ranking happens
    * INSIDE expressions (sort the bounded map's entries, slice k)
    * because window functions don't exist on streams; ties rank
    * (count desc, item).
    */
  def trendingMonitor(itemCol: String, window: WindowShape,
                      capacity: Int = 4096, k: Int = 10,
                      by: Seq[String] = Seq.empty): DataStream = {
    val bounds = Seq(col("window_start_time"), col("window_end_time")) ++
      by.map(col)
    // bounded-map top-k: sort entries by (count desc, item asc) via
    // a (-count, item) struct sort, keep k, explode with rank
    val ranked = slice(array_sort(transform(
      map_entries(col("__fs.items")),
      e => struct((-e.getField("value")).as("negc"),
        e.getField("key").as("item")))), 1, k)
    // posexplode_OUTER: a window whose items were all null (schema
    // break upstream) must still EMIT — with a null item row — not
    // vanish from the monitor exactly when it should alarm
    aggregate(window, by, Seq(graft.functions.freq_sketch(col(itemCol),
        capacity).as("__fs")))
      .select(bounds ++ Seq(col("__fs.err").as("err"),
        posexplode_outer(ranked).as(Seq("__r", "__e"))): _*)
      .select(bounds ++ Seq((col("__r") + 1).cast("long").as("rank"),
        col("__e.item").as("item"),
        (-col("__e.negc")).as("count_min"), col("err")): _*)
  }

  /** Session window (gap-merged) aggregation — present-but-todo!() in
    * the reference (streaming_window.rs:1062); Spark-native here.
    * Spark rejects a streaming session window with no grouping key
    * ("Global aggregation with session window … is not supported"),
    * so with empty `groupExprs` the sessions group on a CONSTANT key,
    * dropped from the output. The key must be NON-FOLDABLE — a plain
    * literal is stripped from the grouping by
    * `RemoveLiteralFromGroupExpressions` and the plan degenerates back
    * to the rejected global form — hence the always-zero hash of the
    * event time. All session-merge state then rides one key (partials
    * still combine map-side); real group keys shard it.
    */
  def sessionWindow(groupExprs: Seq[Column], aggExprs: Seq[Column],
                    gap: String): DataStream = {
    val base = if (df.isStreaming) df.withWatermark(eventTimeCol, watermarkDelay)
               else df
    val keys =
      if (groupExprs.nonEmpty) groupExprs
      else Seq((xxhash64(col(eventTimeCol)) * lit(0)).as("__gk"))
    val agged = base
      .groupBy(session_window(col(eventTimeCol), gap).as("__window") +: keys: _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    val flat = flattenWindow(agged)
    next(if (groupExprs.nonEmpty) flat else flat.drop("__gk"))
  }

  /** Frame-exact fixed windows behind the fluent surface
    * ([[graft.streaming.ExactWindow.slidingPanes]]): caller-supplied
    * [[graft.streaming.ExactWindow.ExactAgg]] aggregates — any typed
    * Aggregator, including map-state UDAFs — over tumbling (`slide`
    * None) or sliding windows of any length/slide ratio. Emission
    * matches [[window]] in append mode; group keys may be empty
    * (global frames).
    */
  def exactWindow(groupCols: Seq[String],
                  aggs: Seq[graft.streaming.ExactWindow.ExactAgg],
                  length: String,
                  slide: Option[String] = None): DataStream = {
    val lengthMs = DataStream.intervalMs(length)
    val slideMs = slide.map(DataStream.intervalMs).getOrElse(lengthMs)
    next(graft.streaming.ExactWindow.slidingPanes(df, groupCols,
      eventTimeCol, lengthMs, slideMs, aggs, watermarkDelay))
  }

  /** Frame-exact session windows behind the fluent surface
    * ([[graft.streaming.ExactWindow.sessionRows]]): the
    * [[exactWindow]] aggregates over gap-merged sessions. Emission
    * matches [[sessionWindow]] in append mode.
    */
  def exactSessionWindow(groupCols: Seq[String],
                         aggs: Seq[graft.streaming.ExactWindow.ExactAgg],
                         gap: String): DataStream =
    next(graft.streaming.ExactWindow.sessionRows(df, groupCols,
      eventTimeCol, DataStream.intervalMs(gap), aggs, watermarkDelay))

  private def flattenWindow(agged: DataFrame): DataFrame = {
    val others = agged.columns.filterNot(_ == "__window").map(col)
    agged.select(
      (others :+ col("__window.start").as("window_start_time")
        :+ col("__window.end").as("window_end_time")): _*)
  }

  // --- schema / plan introspection (reference datastream.rs:198-241) -

  /** User-visible schema: internal `__`-prefixed columns stripped —
    * the reference hides `_streaming_internal_metadata` the same way
    * (datastream.rs:198-210). Full schema: `df.schema`.
    */
  def schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      df.schema.filterNot(_.name.startsWith("__")))
  def printSchema(): DataStream = { df.printSchema(); this }

  // batch-mode conveniences (reference exposes sort/limit only at the
  // source/batch level; first-class here)
  def sort(cols: Column*): DataStream = next(df.sort(cols: _*))
  def limit(n: Int): DataStream = next(df.limit(n))
  def distinct(): DataStream = next(df.distinct())
  def withColumnRenamed(from: String, to: String): DataStream =
    next(df.withColumnRenamed(from, to))
  def printPlan(): DataStream = { df.explain(false); this }
  def printPhysicalPlan(): DataStream = { df.explain("formatted"); this }
  def explain(mode: String): DataStream = { df.explain(mode); this }

  // --- sinks (reference datastream.rs:311-374, py sink :229-270) -----

  /** Console sink (reference `print_stream`). Returns the running
    * query for streaming frames; prints and returns None for batch.
    */
  def printStream(): Option[StreamingQuery] =
    if (df.isStreaming)
      Some(df.writeStream.outputMode("append").format("console").start())
    else { df.show(false); None }

  /** Per-micro-batch callback sink (reference Python `sink`). */
  def sink(fn: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.outputMode("append").foreachBatch(fn)

  /** Kafka sink: every row JSON-encoded to `value`
    * (reference topic_writer.rs:102-127 → to_json(struct(*))).
    */
  def sinkKafka(bootstrapServers: String, topic: String,
                checkpointLocation: String): DataStreamWriter[Row] =
    Context.encodeKafkaJson(df)
      .writeStream.outputMode("append").format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointLocation)

  /** In-memory named-table sink (test/debug). */
  def sinkMemory(name: String, outputMode: String = "append"): StreamingQuery =
    df.writeStream.outputMode(outputMode).format("memory")
      .queryName(name).start()

  /** Severity-filtered ALERT routing — the last inch of the monitor
    * story: keep only rows at `minSeverity` or above ("warn" routes
    * warn+alert, "alert" routes alerts only) from an [[alarms]] /
    * [[graft.operators.Drift.alarms]] /
    * [[graft.operators.Validate.severity]] output and hand each
    * micro-batch's surviving rows to `fn` (page, post to a topic,
    * enqueue a ticket). Batch frames invoke `fn` once with batchId
    * −1 so the same routing code serves scheduled batch reports.
    * Refuses frames without a `severity` column — an alert hook
    * wired to the wrong frame must fail loudly, not go dead. Zero
    * new state: a stateless filter in front of foreachBatch; an
    * empty surviving batch still invokes `fn` with zero rows
    * (heartbeat semantics — distinguish "no alerts" from "no
    * query").
    */
  def sinkAlerts(minSeverity: String = "warn",
                 checkpointLocation: String = null)(
      fn: (DataFrame, Long) => Unit): Option[StreamingQuery] = {
    require(Seq("warn", "alert").contains(minSeverity),
      s"sinkAlerts: minSeverity must be 'warn' or 'alert', got " +
        s"'$minSeverity'")
    require(df.columns.contains("severity"),
      "sinkAlerts: no 'severity' column — chain .alarms() (monitors) " +
        "or Validate.severity (validation reports) before the sink")
    val keep =
      if (minSeverity == "alert") Seq("alert") else Seq("warn", "alert")
    val filtered = df.filter(col("severity").isin(keep: _*))
    if (df.isStreaming) {
      val w = filtered.writeStream.outputMode("append")
        .foreachBatch(fn)
      Some((if (checkpointLocation == null) w
            else w.option("checkpointLocation", checkpointLocation))
        .start())
    } else { fn(filtered, -1L); None }
  }

  /** JSON-lines sink: batch frames write a .json part-file directory
    * (set `compression` to e.g. "gzip"/"zstd" for compressed drops);
    * streaming frames append micro-batches as new part files with
    * exactly-once tracking via `checkpointLocation` (required for
    * streams). The interchange counterpart of
    * [[graft.api.Context.fromJsonl]].
    *
    * @param mode batch-path save mode. Defaults to "error"
    *   (errorifexists) so a sink pointed at an existing corpus drop
    *   fails loudly instead of deleting it; pass "overwrite"
    *   explicitly for refresh-in-place jobs. Ignored on the
    *   streaming path (always append).
    */
  def sinkJsonl(path: String, checkpointLocation: String = null,
                compression: String = null,
                mode: String = "error"): Option[StreamingQuery] =
    if (df.isStreaming) {
      require(checkpointLocation != null,
        "streaming jsonl sink needs a checkpointLocation")
      val w = df.writeStream.outputMode("append").format("json")
        .option("path", path)
        .option("checkpointLocation", checkpointLocation)
      Some((if (compression == null) w
            else w.option("compression", compression)).start())
    } else {
      val w = df.write.mode(mode)
      (if (compression == null) w
       else w.option("compression", compression)).json(path)
      None
    }

  def toDF: DataFrame = df
}

object DataStream {

  /** One monitor statistic: its aggregates, riding the monitor's one
    * windowed aggregation next to `n_rows`, and its output columns
    * over them. Each statistic has one builder (`DataStream`'s private
    * `distinctStat`, `valueStat`, …), used by its standalone monitor
    * and by [[DataStream.healthMonitor]]; a `tag` keeps internal
    * aggregate names apart where several statistics share that one
    * aggregation.
    */
  private final case class Stat(aggs: Seq[Column], cols: Seq[Column])

  /** Fixed-length interval string → milliseconds (ExactWindow works
    * in epoch millis). Parsed with the Catalyst parser — NOT
    * `expr()`, whose Spark 4 lazy Column defers parsing past this
    * check. Year-month intervals have no fixed length and are
    * rejected.
    */
  private[graft] def intervalMs(s: String): Long =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(s"INTERVAL $s") match {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType.isInstanceOf[
            org.apache.spark.sql.types.DayTimeIntervalType] =>
        l.value.asInstanceOf[Long] / 1000L
      case _ => throw new IllegalArgumentException(
        s"'$s' is not a fixed-length (day-time) interval")
    }

  /** Windowed join of two streams — the reference's flagship
    * stream_join pattern (/root/reference/examples/examples/
    * stream_join.rs:37-80) joins two *windowed aggregate* streams,
    * which Spark forbids inside one continuous query. This rewrites it
    * as tag→union→single windowed aggregation with side-conditional
    * aggregates, which IS expressible as one streaming query
    * (SURVEY §7.2 option (a)).
    *
    * Both streams must share the group-key and event-time columns.
    * Each `(alias, agg)` in leftAggs/rightAggs receives a column that
    * is the side's value on its own rows and NULL on the other side's
    * rows — so the side restriction holds only for null-ignoring
    * aggregates (sum/min/max/avg/count(col)). An aggregate that
    * ignores its input column (count(lit(1)), count(*)) would silently
    * count BOTH sides — such aggregates are REJECTED here at analysis
    * time; for per-side ROW counts (null values included) set
    * `emitSideCounts` and read `n_left`/`n_right`, which are computed
    * from the side tag itself.
    * Windows missing either side are dropped (inner-join semantics).
    */
  def windowedJoin(left: DataStream, right: DataStream,
                   groupCols: Seq[String], length: String,
                   slide: Option[String],
                   leftAggs: Seq[(String, Column => Column)],
                   rightAggs: Seq[(String, Column => Column)],
                   leftValueCol: String, rightValueCol: String,
                   emitSideCounts: Boolean = false): DataStream = {
    // analysis-time guard: probe each agg callback with a marker column
    // and reject any whose expression never references it — the masked
    // input is the ONLY thing restricting the agg to its side. (The
    // marker is matched on the column tree's rendering: Spark 4 Columns
    // carry a ColumnNode tree that Expression traversal can't enter.)
    // HEURISTIC, like the null-masking itself (see class doc): it
    // catches input-IGNORING aggregates, not every both-sides
    // aggregate — e.g. `c => count(lit(1)) + lit(0) * sum(c)`
    // references its input textually yet still counts both sides. It
    // also evaluates f() eagerly here, so a callback that throws on a
    // free-standing Column surfaces its error at this require, not at
    // query analysis.
    (leftAggs ++ rightAggs).foreach { case (name, f) =>
      val marker = "__graft_probe_1c9e4b"
      val usesInput = f(col(marker)).toString.contains(marker)
      require(usesInput,
        s"windowedJoin aggregate '$name' ignores its input column, so it " +
          "would aggregate over BOTH sides of the union (e.g. " +
          "count(lit(1)) counts left+right rows). Aggregate the given " +
          "column (its nulls restrict rows to one side), or set " +
          "emitSideCounts=true and read n_left/n_right for per-side " +
          "row counts.")
    }
    val l = left.df.withColumn("__side", lit("l"))
      .withColumn("__lv", col(leftValueCol))
      .withColumn("__rv", lit(null).cast(right.df.schema(rightValueCol).dataType))
    val r = right.df.withColumn("__side", lit("r"))
      .withColumn("__lv", lit(null).cast(left.df.schema(leftValueCol).dataType))
      .withColumn("__rv", col(rightValueCol))
    val keep = (groupCols :+ left.eventTimeCol :+ "__side" :+ "__lv" :+ "__rv")
      .map(col)
    val unioned = l.select(keep: _*).unionByName(r.select(keep: _*))
    val aggs =
      leftAggs.map { case (n, f) =>
        f(when(col("__side") === "l", col("__lv"))).as(n) } ++
      rightAggs.map { case (n, f) =>
        f(when(col("__side") === "r", col("__rv"))).as(n) } ++
      Seq(sum(when(col("__side") === "l", 1).otherwise(0)).as("__nl"),
          sum(when(col("__side") === "r", 1).otherwise(0)).as("__nr"))
    val joined = left.copy(df = unioned)
      .window(groupCols.map(col), aggs, length, slide)
    val filtered = joined.filter(col("__nl") > 0 && col("__nr") > 0)
    if (emitSideCounts)
      filtered.withColumnRenamed("__nl", "n_left")
        .withColumnRenamed("__nr", "n_right")
    else filtered.dropColumns("__nl", "__nr")
  }
}
