package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}
import org.apache.spark.sql.types._

/** Streaming near-duplicate detection — the continuous counterpart of
  * the batch LSH operators in [[graft.operators.Dedup]], fusing the
  * reference's continuous-operator model (its whole reason to exist is
  * unbounded Kafka ingest,
  * /root/reference/crates/core/src/datasource/kafka/kafka_stream_read.rs:82-298,
  * with custom stateful operators over it,
  * /root/reference/crates/core/src/physical_plan/continuous/grouped_window_agg_stream.rs:110-420)
  * with the LLM-curation dedup surface the reference lacks.
  *
  * Shape: each arriving document explodes into its LSH band keys; state
  * lives per (band index, band key) bucket and holds the signatures
  * seen in that bucket within a bounded event-time horizon. A new row
  * probes its bucket, emits verified pairs against everything stored
  * there, then joins the stored set. Matches therefore emit
  * IMMEDIATELY on arrival of the second element (stream-stream-join
  * timing), not watermark-gated; rows later than the watermark are
  * dropped by Spark's pre-operator late-row filter, and a bucket entry
  * is evicted once the watermark passes `ts + horizon` (event-time
  * timers, the machinery of [[ExactWindow.slidingPanes]]).
  *
  * Duplicate suppression across bands is structural, not a second
  * stateful dedup: every entry carries its full band-key vector, so a
  * bucket at band b emits a pair only when b is the FIRST index at
  * which the two vectors agree ("canonical band"). A pair colliding on
  * all 4 SimHash bands still emits exactly once, and no
  * cross-partition coordination is ever needed.
  *
  * Scale notes (100 TB / 1000-executor lens):
  *  - state is sharded by (band_idx, band_key) — the same key the
  *    batch operators shuffle on — so hot content spreads over
  *    bands × buckets, and each bucket holds only the horizon's worth
  *    of colliding signatures (the LSH premise: buckets are small);
  *  - shuffle rows are (id, ts, bands, payload) — signatures, never
  *    documents;
  *  - state per entry is id + (#bands + #payload words + 1) longs,
  *    held as a LIST per bucket: a micro-batch appends its arrivals
  *    (O(batch) state-store writes — hot buckets never pay a
  *    whole-bucket rewrite per batch); eviction is timer-driven at
  *    the earliest expiry and its purge doubles as compaction, so a
  *    drained bucket drops to zero state rows;
  *  - HOT BUCKETS: a flood of mutually-near-duplicate documents (all
  *    colliding in one bucket) makes that bucket's compare cost
  *    quadratic within the horizon — the pair OUTPUT is inherently
  *    quadratic for such input. If flood pairs aren't individually
  *    needed, exact-dedup upstream first
  *    (`DataStream.dedupWithinWatermark` collapses exact repeats), or
  *    shorten the horizon.
  */
object StreamingDedup {

  /** Verifier for a candidate pair: payloads of the two colliding rows
    * in, `Some(score)` to emit, `None` to reject. Runs only on rows
    * that already collided on a band (the cheap, rare path).
    */
  type Verify = (Array[Long], Array[Long]) => Option[Double]

  /** Generic banded pair stream.
    *
    * @param df      streaming frame
    * @param idCol   document id column (cast to string internally; pair
    *                ordering is lexicographic on the string form)
    * @param tsCol   event-time column (TimestampType; watermarked here)
    * @param bands   array<bigint> of LSH band keys per row
    * @param payload array<bigint> carried into state for verification
    * @param verify  pair verifier over two payloads
    * @param horizonMs how far apart (event time) two rows may be and
    *                still pair; bounds state
    * @param delay   watermark delay (lateness allowance)
    * @return stream of (idCol_1, idCol_2, score double, ts) — ts is the
    *         later of the two rows' event times (when the pair became
    *         knowable), usable for downstream watermarking
    */
  def bandedPairs(df: DataFrame, idCol: String, tsCol: String,
                  bands: Column, payload: Column, verify: Verify,
                  horizonMs: Long,
                  delay: String = "0 seconds"): DataFrame = {
    require(horizonMs > 0, "need horizon > 0")
    val prepared = df
      .select(col(idCol).cast("string").as("__id"), col(tsCol).as("__ts"),
        bands.as("__bands"), payload.as("__payload"))
      // null signature = null text upstream: carries nothing to match,
      // drops (same contract as the batch banding operators)
      .filter(col("__id").isNotNull && col("__ts").isNotNull &&
        col("__bands").isNotNull && col("__payload").isNotNull)
      .withWatermark("__ts", delay)
      // explode stays at Column level: an object-level flatMap would
      // strip the watermark tag the event-time timers depend on
      .select(col("__id"), col("__ts"), col("__bands"), col("__payload"),
        posexplode(col("__bands")).as(Seq("__band_idx", "__band_key")))

    val outSchema = StructType(Seq(
      StructField(s"${idCol}_1", StringType),
      StructField(s"${idCol}_2", StringType),
      StructField("score", DoubleType),
      StructField("ts", TimestampType)))
    val outEnc: Encoder[Row] = ExpressionEncoder(outSchema)
    val keyEnc: Encoder[(Int, Long)] = Encoders.product[(Int, Long)]

    val keyed = prepared.groupByKey { r: Row =>
      (r.getAs[Int]("__band_idx"), r.getAs[Long]("__band_key"))
    }(keyEnc)

    // state entry: (id, event-time ms, band keys, payload)
    type Entry = (String, Long, Array[Long], Array[Long])

    val processor = new StatefulProcessor[(Int, Long), Row, Row] {
      // bucket state is a LIST so a micro-batch touching the bucket
      // APPENDS its new entries (O(batch) state-store writes) instead
      // of rewriting the whole bucket (O(bucket) per batch — hot
      // buckets paid quadratic write amplification under the previous
      // ValueState[Array[Entry]] shape). A re-delivered id appends a
      // fresh entry; reads collapse to the LATEST entry per id
      // (append order = arrival order), and the eviction timer's purge
      // is the compaction pass that physically drops both expired
      // entries and superseded duplicates, so list growth is bounded
      // by arrivals within one horizon.
      // MIGRATION: the state schema changed (ValueState[Array[Entry]]
      // → ListState[Entry]); a query restarted from a checkpoint
      // written by the old shape fails state validation — restart
      // such queries from a fresh checkpoint (pair output is
      // append-only, so a replayed source reproduces it).
      @transient private var st: ListState[Entry] = _
      @transient private var armed: ValueState[Long] = _

      override def init(outputMode: OutputMode,
                        timeMode: TimeMode): Unit = {
        st = getHandle.getListState[Entry]("bucket",
          ExpressionEncoder[(String, Long, Array[Long], Array[Long])](),
          TTLConfig.NONE)
        armed = getHandle.getValueState[Long]("armed",
          Encoders.scalaLong, TTLConfig.NONE)
      }

      /** Stored entries collapsed to the latest per id, expired ones
        * dropped (logical view; physical compaction happens on timer).
        */
      private def live(wm: Long): List[Entry] = {
        val latest = scala.collection.mutable.HashMap.empty[String, Entry]
        st.get().foreach(e => latest(e._1) = e)
        latest.values.toList.filter(_._2 + horizonMs > wm)
      }

      // one eviction timer at the earliest expiry; `armed` remembers
      // what's registered so a batch that doesn't move the minimum
      // doesn't re-register (duplicate registration is a warn + wasted
      // state-store write). A stale earlier timer (minimum moved later
      // by an id refresh) fires harmlessly: the purge finds survivors
      // and re-arms.
      private def armTimer(entries: List[Entry]): Unit =
        if (entries.nonEmpty) {
          val want = entries.map(_._2).min + horizonMs
          if (!armed.exists() || armed.get() != want) {
            getHandle.registerTimer(want)
            armed.update(want)
          }
        } else armed.clear()

      /** True iff this bucket's band index is the first at which the
        * two band-key vectors agree — the one bucket allowed to emit
        * the pair.
        */
      private def canonicalHere(bandIdx: Int, a: Array[Long],
                                b: Array[Long]): Boolean = {
        var i = 0
        while (i < bandIdx) {
          if (a(i) == b(i)) return false
          i += 1
        }
        true
      }

      override def handleInputRows(key: (Int, Long), rows: Iterator[Row],
                                   timers: TimerValues): Iterator[Row] = {
        val wm = timers.getCurrentWatermarkInMs()
        var entries = live(wm)
        val appended = List.newBuilder[Entry]
        val out = List.newBuilder[Row]
        rows.foreach { r =>
          val id = r.getAs[String]("__id")
          val ts = r.getAs[Timestamp]("__ts").getTime
          val bk = r.getAs[scala.collection.Seq[Long]]("__bands").toArray
          val pl = r.getAs[scala.collection.Seq[Long]]("__payload").toArray
          entries.foreach { case (oid, ots, obk, opl) =>
            // the horizon is part of the PAIR PREDICATE, not just the
            // eviction rule: two rows farther apart than the horizon
            // in event time never pair, even when both sit in state
            // because the watermark has not yet passed the older one
            // (e.g. same micro-batch) — so the pair set is a pure
            // function of event time, not of micro-batch boundaries
            if (oid != id && math.abs(ts - ots) <= horizonMs &&
                canonicalHere(key._1, bk, obk)) {
              verify(opl, pl).foreach { score =>
                val (i1, i2) = if (oid < id) (oid, id) else (id, oid)
                out += Row(i1, i2, score, new Timestamp(math.max(ts, ots)))
              }
            }
          }
          // a re-delivered id refreshes its timestamp (extends its
          // pairing horizon) instead of stacking a self-matching copy
          val e = (id, ts, bk, pl)
          entries = e :: entries.filterNot(_._1 == id)
          appended += e
        }
        st.appendList(appended.result().toArray)
        armTimer(entries)
        out.result().iterator
      }

      override def handleExpiredTimer(key: (Int, Long), timers: TimerValues,
          expired: ExpiredTimerInfo): Iterator[Row] = {
        armed.clear() // the fired timer is consumed; re-arm from scratch
        // the purge doubles as list compaction: survivors are written
        // back collapsed (latest per id, expired dropped)
        val still = live(timers.getCurrentWatermarkInMs())
        if (still.isEmpty) st.clear()
        else { st.put(still.toArray); armTimer(still) }
        Iterator.empty
      }
    }
    keyed.transformWithState(processor, TimeMode.EventTime(),
      OutputMode.Append())(outEnc).toDF()
  }

  /** Streaming 64-bit SimHash near-dup pairs: 4×16-bit bands (the
    * batch d5 recipe, [[graft.operators.Dedup.simhashBandCandidates64]])
    * with scalar `bitCount(xor)` verification in state. Output:
    * (idCol_1, idCol_2, hamming int, ts); the pair set over a fully
    * replayed bounded input equals the batch operator's
    * (StreamingDedupSpec pins it on the d5 fixture).
    */
  def simhashPairs(df: DataFrame, sig: Column, idCol: String, tsCol: String,
                   horizonMs: Long, maxHamming: Int = 3,
                   delay: String = "0 seconds"): DataFrame = {
    val bandCols = array((0 until 4).map { b =>
      shiftrightunsigned(sig, b * 16).bitwiseAND(lit(0xFFFFL))
    }: _*)
    val mh = maxHamming
    val verify: Verify = (a, b) => {
      val h = java.lang.Long.bitCount(a(0) ^ b(0))
      if (h <= mh) Some(h.toDouble) else None
    }
    bandedPairs(df, idCol, tsCol, bandCols, array(sig), verify,
        horizonMs, delay)
      .withColumn("hamming", col("score").cast("int"))
      .select(col(s"${idCol}_1"), col(s"${idCol}_2"), col("hamming"),
        col("ts"))
  }

  /** Streaming embedding-cosine near-dup pairs: multi-table SRP
    * buckets as the band keys (the batch
    * [[graft.operators.Dedup.embeddingNearDupPairsLsh]] recipe — same
    * Gaussian planes, same per-table seeds) with EXACT double cosine
    * verification in state. The payload carries the embedding as raw
    * IEEE 754 bit patterns ([[graft.functions.double_bits]]), so the
    * in-state verify is bit-identical to the batch operator's
    * double-accumulated cosine: a fully replayed bounded input yields
    * the batch operator's pair set (spec-pinned), with the streaming
    * horizon as the one additional predicate. The canonical-band
    * machinery of [[bandedPairs]] is exactly the batch form's
    * canonical-TABLE emission, so each pair surfaces once.
    *
    * Size nPlanes for YOUR corpus exactly as in the batch scaladoc —
    * bucket state holds a horizon's worth of colliding embeddings
    * (dim + nTables + 1 longs per entry), and a too-coarse grid
    * concentrates clusters into hot buckets.
    *
    * Output: (idCol_1, idCol_2, cos double rounded to 6, ts).
    */
  def embeddingPairs(df: DataFrame, embCol: String, idCol: String,
                     tsCol: String, horizonMs: Long,
                     threshold: Double = 0.9, nPlanes: Int = 16,
                     dim: Int = 64, nTables: Int = 8, seed: Long = 42L,
                     delay: String = "0 seconds"): DataFrame = {
    require(nTables >= 1, "nTables must be >= 1")
    val bandCols = array((0 until nTables).map { t =>
      graft.functions.hyperplane_lsh_bucket(col(embCol), nPlanes, dim,
        seed + t * 7919L).cast("long")
    }: _*)
    val payload = graft.functions.double_bits(col(embCol))
    val thr = threshold
    val verify: Verify = (a, b) => {
      val n = math.min(a.length, b.length)
      if (a.length != b.length) None
      else {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < n) {
          val x = java.lang.Double.longBitsToDouble(a(i))
          val y = java.lang.Double.longBitsToDouble(b(i))
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        if (na == 0.0 || nb == 0.0) None
        else {
          // same round(x, 6)-then-threshold as the batch operator —
          // HALF_UP over BigDecimal, matching Spark's Round exactly
          val c = BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (c >= thr) Some(c) else None
        }
      }
    }
    bandedPairs(df, idCol, tsCol, bandCols, payload, verify,
        horizonMs, delay)
      .withColumnRenamed("score", "cos")
  }

  /** Streaming MinHash near-dup pairs. State carries the k-hash
    * signature, so verification here is the SIGNATURE ESTIMATE of
    * Jaccard (matching components / k) — the standard streaming
    * trade-off: exact shingle sets are unbounded per doc and do not
    * belong in bucket state. The batch operator
    * ([[graft.operators.Dedup.minhashNearDupPairs]]) remains the
    * exact-verify path; route its candidates through this operator's
    * output when exactness matters (join back to text offline).
    * Output: (idCol_1, idCol_2, est_jaccard double, ts).
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   tsCol: String, horizonMs: Long, shingleN: Int = 3,
                   numHashes: Int = 16, bands: Int = 0,
                   threshold: Double = 0.5,
                   delay: String = "0 seconds"): DataFrame = {
    // bands = 0 (the default): threshold-derived geometry via
    // [[graft.operators.Dedup.autoBands]] — at the defaults
    // (16 hashes, 0.5) this derives the former hand-picked 8
    val bandsN = if (bands > 0) bands
      else graft.operators.Dedup.autoBands(numHashes, threshold)
    require(numHashes % bandsN == 0,
      s"bands ($bandsN) must divide numHashes ($numHashes)")
    val sigCol = graft.functions.minhash_signature(
      graft.functions.shingle_hashes(col(textCol), shingleN), numHashes)
    val bandCols = graft.operators.Dedup.lshBandKeys(sigCol, bandsN,
      numHashes / bandsN)
    val k = numHashes
    val thr = threshold
    val verify: Verify = (a, b) => {
      var eq = 0
      var i = 0
      while (i < k) { if (a(i) == b(i)) eq += 1; i += 1 }
      val est = eq.toDouble / k
      if (est >= thr) Some(est) else None
    }
    bandedPairs(df, idCol, tsCol, bandCols, sigCol, verify,
        horizonMs, delay)
      .withColumnRenamed("score", "est_jaccard")
  }
}
