package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.DataStream
import graft.api.WindowShape.Fixed
import graft.operators.{Dedup, DedupIndex, Drift, Similarity, TextAnalysis,
  Tokenizer}
import graft.streaming.{ExactWindow, StreamingDedup}

/** Per-round benchmark: every SparkEntry query executed to a noop sink
  * (full materialization — count() would let Catalyst elide projected
  * expressions), one warmup query for session/codegen spin-up, one
  * JSON line on stdout.
  *
  * Each query runs GRAFT_BENCH_REPS times (default 3); the headline
  * per-query number is the MEDIAN, with min/max reported alongside so
  * ambient-load drift (one slow rep) is distinguishable from real code
  * cost (all reps slow) when comparing rounds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "3").toInt
    val spark = Graft.session(appName = "graft-bench")
    val env = Env(spark, sfDir)

    def timeOnce(name: String): Double =
      timeRow(name)(clock(noop(SparkEntry.queries(name)(spark, sfDir))))

    // (median, min, max) over reps; any failed rep marks the query
    // failed outright — a flaky query must not hide behind its median
    def stats(samples: Seq[Double]): (Double, Double, Double) = {
      if (samples.exists(_ < 0)) return (-1.0, -1.0, -1.0)
      val s = samples.sorted
      // lower-middle for even sizes: s(size/2) would make reps=2
      // report the SLOWER rep as the headline, biasing comparisons
      // between runs with different rep counts
      (s((s.size - 1) / 2), s.head, s.last)
    }

    // GRAFT_BENCH_ONLY=q1_agg,d11_... runs a subset (iteration tool;
    // the per-round headline always runs the full suite)
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(n: String): Boolean = only.forall(_.contains(n))
    // warmups (uncounted): session + codegen spin-up, twice so the
    // second run exercises the already-JITed path
    timeOnce("q1_agg"); timeOnce("q1_agg")
    // Ambient-control trio (round-10 postmortem): the rep-spread flag
    // catches ONE-slow-rep noise, but a machine-wide load window slows
    // every rep UNIFORMLY — tight spreads, polluted totals; two rounds'
    // closing snapshots were caught only by manual comparison against
    // known-stable rows. So the snapshot now measures the machine
    // itself first: three stable, cheap, code-frozen rows (scan-agg /
    // pair-join / codec — three different bottleneck shapes) timed
    // before the suite, each compared to its pinned idle sf0.1 record
    // (BASELINE.md round-10 number of record). control_ratio = median
    // of the three measured/record ratios; a ratio beyond ~1.3 marks
    // the WHOLE snapshot ambient-suspect, whatever the per-row spreads
    // say. Records are sf0.1-specific, so the trio only RUNS on
    // sf0.1 dirs — at other SFs no ratio could be derived and the
    // rows are not free (d5 alone is ~3 min at sf10; a subset
    // iteration run should not pay for a flag it cannot get).
    val controlRecords = Map(
      "q1_agg" -> 0.35, "d5_simhash_pairs" -> 1.26,
      "m5_audio_decode" -> 0.87)
    val controlsEnabled =
      sfDir.replaceAll("/+$", "").endsWith("sf0.1")
    val controls =
      if (!controlsEnabled) Seq.empty
      else controlRecords.keys.toSeq.sorted
        .map(n => n -> stats((1 to reps).map(_ => timeOnce(n))))
    val controlRatio: Option[Double] = {
      val rs = controls.collect { case (n, (med, _, _)) if med > 0 =>
        med / controlRecords(n) }.sorted
      if (rs.isEmpty) None else Some(rs((rs.size - 1) / 2))
    }
    val ambientUniform = controlRatio.exists(_ > 1.3)
    controlRatio.foreach { r =>
      if (ambientUniform) System.err.println(
        f"[bench] AMBIENT LOAD SUSPECT: control_ratio $r%.2f > 1.3 " +
          "(machine-wide slow window) — this snapshot is not an idle " +
          "number of record")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(want)
    val runners: Seq[(String, () => Double)] =
      names.map(n => n -> (() => timeOnce(n))) ++
        extraRunners.filter(p => want(p._1))
          .map { case (n, run) => n -> (() => timeRow(n)(run(env))) }
    val runnerByName = runners.toMap
    val firstResults =
      runners.map { case (n, f) => n -> stats((1 to reps).map(_ => f())) }

    // Per-row spike re-run pass (round-11 postmortem: a single
    // transient row — m12 at 41.8 s vs its ~3 s record, re-measured
    // at 3.12 s minutes later — distorted the headline by +39 s and
    // only an after-the-fact judge re-run caught it). Any row whose
    // median exceeds its PINNED sf0.1 record (bench_records.json —
    // the round-10 idle refresh + round-11 new-row medians; refreshed
    // whenever an idle snapshot lands) by >3× gets ONE full re-run,
    // but only after a fresh control probe shows the machine is no
    // worse than it was for the suite (post-ratio ≤ 1.3, or ≤ the
    // in-run control ratio) — re-running inside a NEW load window
    // would just trade one polluted number for another. The re-run
    // median replaces the row (a genuine regression reproduces and
    // stays slow; a transient lands back at record band), with both
    // values carried in the artifact under `spike_reruns`. The 200 ms
    // floor keeps sub-second JIT/GC jitter out; the count cap bounds
    // the pass's cost on a genuinely-degraded machine.
    val pinnedRecords: Map[String, Double] =
      if (!controlsEnabled) Map.empty
      else try {
        val f = new java.io.File("bench_records.json")
        if (!f.exists()) Map.empty
        else {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(f).get("records")
          val it = root.fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) {
            val e = it.next(); b += e.getKey -> e.getValue.asDouble()
          }
          b.result()
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] bench_records.json unreadable: $e")
        Map.empty
      }
    val spikeNames = firstResults.collect {
      case (k, (med, _, _)) if med > 0.2 &&
        pinnedRecords.get(k).exists(r => med > 3 * r) => k
    }
    val spikeReruns: Seq[(String, Double, (Double, Double, Double))] =
      if (spikeNames.isEmpty) Seq.empty
      else {
        val post = controlRecords.keys.toSeq.sorted
          .map(n => timeOnce(n) / controlRecords(n))
          .filter(_ > 0).sorted
        val postRatio =
          if (post.isEmpty) Double.MaxValue
          else post((post.size - 1) / 2)
        val machineOk = postRatio <= 1.3 ||
          controlRatio.exists(r => postRatio <= r)
        if (!machineOk) {
          System.err.println(f"[bench] ${spikeNames.size} row(s) " +
            f"exceed 3x their pinned record but the post-suite " +
            f"control ratio $postRatio%.2f is worse than the " +
            "in-run window — keeping first-pass numbers (re-running " +
            "now would measure the new load window, not the query)")
          Seq.empty
        } else spikeNames.take(8).flatMap { k =>
          val first = firstResults.find(_._1 == k).get._2._1
          System.err.println(f"[bench] spike re-run: $k first-pass " +
            f"$first%.2f s > 3x record ${pinnedRecords(k)}%.2f s " +
            f"(controls $postRatio%.2f)")
          val rr = stats((1 to reps).map(_ => runnerByName(k)()))
          if (rr._1 > 0) Some((k, first, rr)) else None
        }
      }
    val rerunByName = spikeReruns.map { case (k, _, rr) => k -> rr }
      .toMap
    val results = firstResults.map { case (k, v) =>
      k -> rerunByName.getOrElse(k, v)
    }
    // Roster tiers: cross-check rows are deliberate redundancy — the
    // bounded exact twin (d6) and the O(log n) CC escape hatch gated
    // hash-exact against d8 (d13). Users run the recommended tier;
    // round-over-round comparisons should too, so both subtotals are
    // emitted.
    // d32/d33 are persistence round trips of d27/d23 (same compute +
    // a write/read) — redundant with their inline twins by design
    // s10/s11 are append-path round trips of s7/s9 (same fit + an
    // append), q40 an I/O identity — redundancy-by-design rows
    val crossCheckTier = Set("d6_embedding_neardup",
      "d13_dup_components_star",
      "d32_winnow_overlap_indexed", "d33_minhash_overlap_indexed",
      "d34_decontaminate_indexed", "s7_ann_ivf_indexed",
      "s9_ann_pq_indexed", "d37_kmv_overlap_indexed",
      "s10_ann_ivf_appended", "s11_ann_pq_appended",
      "q40_tar_roundtrip")
    // failed queries bill their tier at the same 10×-slowest penalty
    // as the headline total — a newly-failing query must never read
    // as a subtotal speedup in round-over-round comparisons
    def tierTotal(cross: Boolean, penalty: Double): Double =
      results.collect { case (k, (v, _, _))
        if crossCheckTier.contains(k) == cross =>
          if (v >= 0) v else penalty }.sum
    // ms precision on the stdout line: the driver records the LAST
    // ~3KB of the log, and round 4/5 both lost the medians because the
    // full-precision line (median+min+max × ~60 queries ≈ 7KB) had its
    // HEAD truncated away → parsed: null. The headline line now carries
    // medians only, rounded to 1ms (≈2KB — fits the capture window with
    // room to spare); the full-precision median/min/max record goes to
    // target/bench_full.json, which cannot be truncated by log capture.
    def ms(x: Double): Double = math.rint(x * 1000) / 1000
    def jmap(f: ((Double, Double, Double)) => Double,
             r: Double => Double = identity): String =
      results.map { case (k, v) => "\"" + k + "\":" + r(f(v)) }
        .mkString("{", ",", "}")
    val failed = results.collect { case (k, (v, _, _)) if v < 0 => "\"" + k + "\"" }
    // a failed query must never make the headline number look better:
    // count it at 10× the slowest successful query
    val ok = results.map(_._2._1).filter(_ >= 0)
    val penalty = if (ok.nonEmpty) ok.max * 10 else 600.0
    val total = ok.sum + failed.size * penalty
    val tiersJson = results.map { case (k, _) =>
      "\"" + k + "\":\"" +
        (if (crossCheckTier.contains(k)) "cross-check"
         else "recommended") + "\""
    }.mkString("{", ",", "}")
    // ambient-load self-flagging (round-9 postmortem: the snapshot
    // recorded d15 at 18.6 s on a loaded box vs 4.9 s idle and the
    // number of record was polluted). Medians don't protect against a
    // PERSISTENTLY busy machine, but a >3× spread between a query's
    // fastest and slowest rep on a warm JVM is not normal variance —
    // name those rows in the artifact so a polluted snapshot is
    // self-flagging. The 200 ms floor keeps sub-second rows, where
    // JIT/GC jitter legitimately spans 3×, out of the list.
    val ambientSuspect = results.collect {
      case (k, (med, mn, mx)) if med >= 0 && mn > 0.2 && mx / mn > 3.0 =>
        "\"" + k + "\""
    }
    val ambientJson =
      s""","ambient_load_suspect":${ambientSuspect.mkString("[", ",", "]")}"""
    // the control block rides EVERY artifact (full + headline): a
    // snapshot must carry its own machine-state evidence
    val controlsJson = {
      val m = controls.map { case (n, (med, _, _)) =>
        "\"" + n + "\":" + ms(med) }.mkString("{", ",", "}")
      val ratio = controlRatio
        .map(r => (math.rint(r * 100) / 100).toString).getOrElse("null")
      s""","controls":$m,"control_ratio":$ratio""" +
        (if (ambientUniform) ""","ambient_uniform_suspect":true""" else "")
    }
    // spike re-runs (first-pass vs re-run medians) + the ambient-
    // normalized total (total / control_ratio — the round-over-round
    // comparison number when the window was loaded) ride both
    // artifacts too
    val spikeJson =
      if (spikeReruns.isEmpty) ""
      else spikeReruns.map { case (k, first, rr) =>
        "\"" + k + "\":{\"first\":" + ms(first) + ",\"rerun\":" +
          ms(rr._1) + "}"
      }.mkString(""","spike_reruns":{""", ",", "}")
    val normalizedJson = controlRatio
      .map(r => s""","normalized_total":${ms(total / r)}""")
      .getOrElse("")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","recommended_total":${tierTotal(cross = false, penalty)},"crosscheck_total":${tierTotal(cross = true, penalty)},"queries":${jmap(_._1)},"queries_min":${jmap(_._2)},"queries_max":${jmap(_._3)},"tiers":$tiersJson,"reps":$reps,"failed":${failed.mkString("[", ",", "]")}$ambientJson$controlsJson$spikeJson$normalizedJson,"sf":"$sfDir"}"""
    try {
      val out = java.nio.file.Paths.get("target/bench_full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_full.json: $e")
    }
    // The headline line must BOTH be the last bytes the driver's
    // tail capture sees AND fit inside its window. r06 evidence: the
    // window is 2000 chars, sbt appends a ~75-char [success] line,
    // and spark.stop() emits WARN lines (DAGScheduler job-group
    // cancellation) after any earlier println — r06's intact-looking
    // headline still lost its HEAD to the window edge (parsed:
    // null). So: silence logging for shutdown, stop, THEN print a
    // line guaranteed under the window: the full per-query map when
    // it fits, else the slowest 25 queries + an explicit omission
    // count, with target/bench_full.json always carrying the
    // complete median/min/max record.
    def line(qjson: String, extra: String): String =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","recommended_total":${ms(tierTotal(cross = false, penalty))},"crosscheck_total":${ms(tierTotal(cross = true, penalty))},"queries":$qjson$extra,"reps":$reps,"failed":${failed.mkString("[", ",", "]")}${if (ambientSuspect.nonEmpty) ambientJson else ""}$controlsJson$spikeJson$normalizedJson,"sf":"$sfDir","full":"target/bench_full.json"}"""
    val fullMap = jmap(_._1, ms)
    val headline =
      if (line(fullMap, "").length <= 1500) line(fullMap, "")
      else {
        val top = results.sortBy(-_._2._1).take(25)
        val topMap = top.map { case (k, v) => "\"" + k + "\":" + ms(v._1) }
          .mkString("{", ",", "}")
        line(topMap, s""","queries_omitted":${results.size - top.size}""")
      }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(headline)
  }

  /** What a runner reads: the session and the sf directory. */
  private final case class Env(spark: SparkSession, sfDir: String) {
    def read(table: String): DataFrame =
      spark.read.parquet(s"$sfDir/$table.parquet")

    /** `table` replayed as a file stream, in the fixture's own schema. */
    def stream(table: String): DataFrame =
      spark.readStream.schema(read(table).schema)
        .option("pathGlobFilter", s"$table.parquet") // source needs a dir
        .parquet(sfDir)

    /** The events stream as a DataStream; `ts` in whatever encoding
      * the fixture carries (normalizeTs adapts: Long nanos /
      * TIMESTAMP_NTZ micros).
      */
    def events: DataStream =
      DataStream(Graft.normalizeTs(stream("events")), "ts")

    /** Drain a stream into the memory sink `table`. Always stop and
      * drop: a rep that dies mid-stream must not leave a running query
      * or a registered table that makes the NEXT rep fail on a
      * queryName collision instead of its own merits.
      */
    def drain(table: String, out: DataFrame): Unit = {
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName(table).start()
      try q.processAllAvailable()
      finally {
        q.stop()
        spark.sql(s"DROP TABLE IF EXISTS $table")
      }
    }
  }

  /** The one timed-run wrapper every row goes through. GC and a 300 ms
    * settle come first, so one row's garbage never bills the next
    * one's wall-clock (round-1 artifact: a 0.5 s query read 42 s right
    * after the pair-join queries). Then the runner does its untimed
    * prepare step (once-per-drop baselines, sizing probes) and times
    * its body with [[clock]]. Any throw prints
    * `[bench] <row> failed: <msg>` and reads -1.0.
    */
  private def timeRow(row: String)(runner: => Double): Double = {
    System.gc()
    Thread.sleep(300)
    try runner
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] $row failed: ${e.getMessage}")
        -1.0
    }
  }

  /** Seconds `body` takes: a row's timed region. */
  private def clock(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** The rows Bench times beyond SparkEntry.queries, in run order. */
  private val extraRunners: Seq[(String, Env => Double)] = Seq(
    // The reference's representative workload shape (rideshare:
    // sliding window, group by key, count/min/max/avg — BASELINE.md)
    // driven through Structured Streaming end-to-end (file source →
    // watermark → stateful agg → memory sink).
    "streaming_window" -> (e => clock(e.drain("bench_stream",
      e.events.window(Seq(col("event_type")),
        Seq(count(lit(1)).as("n"), min(col("value")).as("mn"),
          max(col("value")).as("mx"), avg(col("value")).as("av")),
        "1 hour", Some("30 minutes")).df))),

    // Streaming near-dup dedup end-to-end: the d5 fixture shape
    // (documents ∪ one-word-mutated copies) replayed as a stream
    // through the banded bucket-state operator → memory sink
    "streaming_neardup" -> (e => clock {
      val base = e.stream("documents").select(col("doc_id"), col("text"))
      val mutated = base
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", regexp_replace(col("text"), "the", "thee"))
      val src = base.unionByName(mutated)
        .withColumn("ts",
          timestamp_millis(pmod(col("doc_id"), lit(1000000L)) * 20))
      e.drain("bench_sneardup", StreamingDedup.simhashPairs(src,
        graft.functions.simhash64_md5(TextAnalysis.tokenize(col("text"))),
        "doc_id", "ts", horizonMs = 86400000L))
    }),

    // Streaming embedding near-dup end-to-end: the d11 fixture shape
    // (embeddings ∪ a tiny-perturbation copy) replayed as a stream
    // through the SRP-bucket-state operator → memory sink
    "streaming_embdedup" -> (e => clock {
      val base = e.stream("embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val src = base.unionByName(perturbed(base))
        .withColumn("ts", timestamp_millis(
          (pmod(col("vec_id"), lit(1000000L)) + 1) * 10))
      e.drain("bench_sembdedup", StreamingDedup.embeddingPairs(src,
        "embedding", "vec_id", "ts", horizonMs = 86400000L,
        threshold = 0.9, nPlanes = 16, dim = 64, nTables = 8))
    }),

    // Streaming ingest-quality monitor: per-hour distinct users + dup
    // rate over the events stream — the bounded-sketch state shape
    // (constant per window) vs the COUNT(DISTINCT) Spark rightly
    // refuses on streams
    "streaming_distinct_monitor" -> (e => clock(e.drain("bench_monitor",
      e.events.distinctMonitor("user_id", Fixed("1 hour")).df))),

    // Streaming trending-items monitor: per-hour top event types by
    // Misra–Gries bounded summary
    "streaming_trending_monitor" -> (e => clock(e.drain("bench_trending",
      e.events.trendingMonitor("event_type", Fixed("1 hour"), k = 5).df))),

    // Streaming cross-drop overlap monitor: per-hour overlap of the
    // incoming users against a frozen prior-drop KMV sketch (built
    // untimed — a once-per-drop ingest artifact); per-window cost over
    // distinctMonitor is pure arithmetic on the window sketch vs a ≤ k
    // literal array
    "streaming_overlap_monitor" -> { e =>
      val idx = java.nio.file.Files
        .createTempDirectory("graft-bench-ovm").toString + "/idx"
      DedupIndex.writeKmv(priorDrop(e).select(col("user_id")),
        "user_id", idx, k = 8192)
      clock(e.drain("bench_overlap",
        e.events.overlapMonitor("user_id", Fixed("1 hour"), idx, k = 8192).df))
    },

    // Streaming distribution-drift monitor: per-hour histogram of event
    // values vs a frozen baseline (fractions computed untimed — a
    // once-per-drop artifact); per-window state is B+2 plain counts,
    // the cheapest of the monitor family
    "streaming_drift_monitor" -> { e =>
      val fracs = Drift.histFractions(priorDrop(e), "value", valueBounds).toSeq
      clock(e.drain("bench_drift",
        e.events.driftMonitor("value", Fixed("1 hour"), valueBounds, fracs).df))
    },

    // Streaming embedding-centroid drift monitor: the embeddings table
    // replayed as a timestamped stream (synthetic event time derived
    // from vec_id, the streaming_embdedup pattern) against a frozen
    // baseline centroid built untimed (a once-per-drop artifact);
    // per-window state = dim doubles + two counts via the native
    // vec_sum aggregate
    "streaming_embdrift_monitor" -> { e =>
      val baseVec = Drift.sumVector(e.read("embeddings"), "embedding").toSeq
      clock {
        val src = e.stream("embeddings")
          .withColumn("ts", timestamp_millis(col("vec_id") * 100))
        e.drain("bench_embdrift", DataStream(src, "ts")
          .embeddingDriftMonitor("embedding", Fixed("1 hour"), baseVec).df)
      }
    },

    // ONE-PASS composite health monitor: distinct/dup-rate + numeric
    // drift + category drift per hour from a SINGLE streaming
    // aggregation over ONE scan of the events stream — compare this
    // row to the SUM of streaming_distinct_monitor +
    // streaming_drift_monitor (+ a category twin's cost): the
    // composite's cost should track ONE monitor's scan, which is the
    // point of fusing them. Baselines are built untimed (once-per-drop
    // artifacts, same as the standalone rows).
    "streaming_health_monitor" -> { e =>
      val baseEv = priorDrop(e)
      val fracs = Drift.histFractions(baseEv, "value", valueBounds).toSeq
      val cats = Drift.categoryFractions(baseEv, "event_type", topN = 3)
      clock(e.drain("bench_health", e.events.healthMonitor("user_id",
        Fixed("1 hour"),
        value = Some(Drift.ValueBaseline("value", valueBounds, fracs)),
        category = Some(Drift.CategoryBaseline("event_type", cats)),
        k = 8192).df))
    },

    // Streaming validation monitor over events: a 4-check suite per
    // event-time hour (completeness + range fraction + KMV uniqueness
    // + size), one windowed aggregation — priced next to the other
    // streaming monitor rows.
    "streaming_validation_monitor" -> { e =>
      import graft.operators.Validate._
      clock(e.drain("bench_validation", e.events.validationMonitor(Seq(
        Completeness("value", 0.99),
        FracBetween("value", 0.0, 500.0, 0.95),
        Uniqueness("user_id", 0.2, k = 8192),
        SizeAtLeast(1)), Fixed("1 hour")).df))
    },

    // The custom exact-emission operator at a 12:1 length/slide ratio
    // (1h windows sliding by 5min): each row ships once into its pane;
    // every closing window merges 12 pane partials
    "exact_window_pane" -> (e => exactWindow(e)),

    // Sparse-tier Aho–Corasick blocklist scan end-to-end: a generated
    // 100k-phrase list (≈1.7M trie nodes — forces the sparse
    // automaton; dense would be ~1.7 GB/executor) over the documents
    // table as one pure scan filter. The measured cost is dominated by
    // the per-JVM automaton build plus the one-pass match — the shape
    // of a production policy-list filter.
    "blocklist_sparse" -> (e => clock {
      val phrases = (0 until 100000).map(i => s"blocked${i}phrase")
      noop(TextAnalysis.dropBlocklisted(
        e.read("documents").select(col("doc_id"), col("text")),
        "text", phrases))
    }),

    // BPE merge training end-to-end: one distributed word-type count
    // over the documents table, then the capped driver-side merge loop
    // (200 merges, 65536-type cap). The count shuffle is the only
    // corpus-size-dependent stage, so this row's SF factor should
    // track the scan, not the merge count.
    "bpe_train" -> (e => clock(require(Tokenizer.learnBpeMerges(
      e.read("documents").select(col("text")), "text", numMerges = 200)
      .nonEmpty, "no merges learned"))),

    // Byte-level BPE training end-to-end: the GPT-2-regex pretoken
    // count shuffle (the only corpus-size-dependent stage) + the
    // capped driver merge loop over byte symbols — the byte-fallback
    // twin of bpe_train; comparing the two rows prices the regex
    // pretokenizer + byte mapping against the whitespace/code-point
    // spelling at the same merge count.
    "byte_bpe_train" -> (e => clock(require(Tokenizer.learnByteBpeMerges(
      e.read("documents").select(col("text")), "text", numMerges = 200)
      .nonEmpty, "no merges learned"))),

    // Unigram-LM trainer + inference over documents: the third
    // tokenizer family's cost curve next to bpe_train/byte_bpe_train
    // (same one-shuffle type count; the EM rounds replace the merge
    // loop as the capped driver stage), plus one full-corpus encode
    // pass with the learned vocab so the Viterbi expression's scan
    // cost is measured, not assumed.
    "unigram_train" -> (e => unigramTrain(e,
      Tokenizer.learnUnigram(_, "text", vocabSize = 512),
      graft.functions.unigram_encode)),

    // Byte-fallback unigram-LM trainer + inference: the fourth
    // tokenizer-family row — prices the GPT-2 pretoken count + the
    // 256-alphabet EM loop against the code-point unigram_train row at
    // the same vocab budget, plus one full-corpus encode pass so the
    // byte-mapped Viterbi scan cost is measured too.
    "byte_unigram_train" -> (e => unigramTrain(e,
      Tokenizer.learnByteUnigram(_, "text", vocabSize = 512),
      graft.functions.byte_unigram_encode)),

    // The d11 grid-scaling knob, measured: the same fixture shape as
    // the d11 gate but with nPlanes from GRAFT_D11_NPLANES (default
    // 20) — the scaladoc remedy when bucket occupancy rises with
    // corpus size (16 planes = 65,536 buckets/table is the gate's
    // small-SF setting; a 400k-vector clustered corpus wants 20–24).
    // Keeping both rows in the roster turns "raise nPlanes at scale"
    // from advice into a measured curve. "auto" (or 0) exercises the
    // autoPlanes default-sizing path — the per-SF re-measure the auto
    // default is gated on.
    "d11_lsh_tuned" -> { e =>
      val nPlanes = sys.env.getOrElse("GRAFT_D11_NPLANES", "20") match {
        case "auto" => 0
        case v => v.toInt
      }
      clock {
        val emb = e.read("embeddings").select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
        noop(Dedup.embeddingNearDupPairsLsh(emb.unionByName(perturbed(emb)),
          "embedding", "vec_id", threshold = 0.9, nPlanes = nPlanes,
          dim = 64, nTables = 8))
      }
    },

    // ANN pruning-path row (round 17, VERDICT #7): the PQ/OPQ gates
    // run at FULL candidate budget (their brute-force-oracle
    // contract), so since the round-16 budget fix the bench could no
    // longer see a pruning or codebook-quality regression. This row
    // times pqTopK at a PARTIAL budget (~5% of the corpus re-ranked —
    // the recall-floor spec's regime, scaled off a count taken
    // untimed) and afterwards, also untimed, checks recall@10 ≥ 0.5
    // against brute force — the recall-floor contract, because
    // approximate output has no exact value oracle by construction. A
    // recall miss marks the row FAILED (the 10×-slowest penalty), so
    // index-quality regressions are visible in the bench again, not
    // just in the unit specs.
    "ann_pq_partial" -> { e =>
      val emb = e.read("embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val budget = // column-pruned count
        math.max(50L, emb.select(col("vec_id")).count() / 20)
          .min(Int.MaxValue.toLong).toInt
      // lazy: the index fit runs on first use, inside the timed region
      lazy val approx = Similarity.pqTopK(emb, queries, "embedding",
        "vec_id", 10, dim = 64, m = 8, nCodes = 16, nCandidates = budget,
        maxIter = 3)
      val dt = clock(noop(approx))
      def pairs(df: DataFrame) = df.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairs(Similarity.bruteForceTopK(emb, queries, "embedding",
        "vec_id", 10))
      val recall =
        if (exact.isEmpty) 1.0
        else exact.intersect(pairs(approx)).size.toDouble / exact.size
      require(recall >= 0.5, f"recall-floor MISS: recall@10 $recall%.3f " +
        f"< 0.5 at budget $budget")
      dt
    })

  /** Row names of [[extraRunners]]: with SparkEntry.queries' keys, the
    * full set of rows a bench artifact (and bench_records.json) can
    * name.
    */
  val extraRows: Seq[String] = extraRunners.map(_._1)

  // event-value histogram boundaries of the drift and health monitors
  private val valueBounds = Seq(10.0, 25.0, 50.0, 100.0, 200.0)

  // the events before 2024-01-15: the "prior drop" monitor baselines
  // are built from
  private def priorDrop(e: Env): DataFrame =
    Graft.normalizeTs(e.read("events"))
      .filter(unix_millis(col("ts")) < 1705276800000L)

  // the d11 near-dup twin of an embedding frame: shifted ids, first
  // coordinate nudged by 2^-6
  private def perturbed(emb: DataFrame): DataFrame = emb
    .withColumn("vec_id", col("vec_id") + 1000000L)
    .withColumn("embedding", concat(
      array(element_at(col("embedding"), 1) + lit(0.015625)),
      slice(col("embedding"), 2, 63)))

  private def exactWindow(e: Env): Double = clock {
    val src = e.events.df.filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"),
        col("value").cast("double").as("value"))
    val aggs = Seq(ExactWindow.ExactAgg.count("n", "value"),
      ExactWindow.ExactAgg.sum("sum", "value"),
      ExactWindow.ExactAgg.min("mn", "value"),
      ExactWindow.ExactAgg.max("mx", "value"),
      ExactWindow.ExactAgg.avg("av", "value"))
    e.drain("bench_ew_pane", ExactWindow.slidingPanes(src,
      Seq("event_type"), "ts", lengthMs = 3600000L, slideMs = 300000L,
      aggs))
  }

  // A unigram trainer, then one full-corpus encode pass with its vocab.
  // Measurement fix (round 17, documented in OPTIMIZATION_r17): the
  // single-file fixture arrives as 1–2 splits, so the Viterbi encode
  // pass — the row's dominant cost — serialized onto 2 of 32 cores
  // (profiled: a 12.6 s two-task job at sf1 inside a 14.2 s row).
  // spread() repartitions under-parallel sources only (a
  // production-scale scan is a no-op), so the row measures encode
  // throughput, not the fixture's split count. The trainer's own count
  // shuffle was already spread.
  private def unigramTrain(e: Env,
      learn: DataFrame => Seq[(String, Double)],
      encode: (Column, Seq[(String, Double)]) => Column): Double = clock {
    val docs = e.read("documents").select(col("text"))
    val vocab = learn(docs)
    require(vocab.nonEmpty, "no vocab learned")
    val n = Graft.spread(docs).select(encode(col("text"), vocab).as("toks"))
      .select(explode(col("toks")).as("t"))
      .count()
    require(n > 0, "no tokens emitted")
  }
}
