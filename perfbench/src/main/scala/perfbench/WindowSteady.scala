package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.api.{Context, DataStream}

/** `window-steady`: the reference's rideshare job fed at one fixed rate
  * by an open-loop generator. Kafka-shaped JSON → decodeKafkaJson →
  * sliding-window count/min/max/avg per driver → foreachBatch sink with
  * a real checkpoint. Each window result is timed from when it became
  * due (window end + watermark delay; event time is the generator's
  * creation time) to its receipt in the sink.
  */
object WindowSteady {

  private val schema = StructType(Seq(
    StructField("driver_id", StringType), StructField("speed", LongType),
    StructField("occurred_at_ms", LongType)))

  final case class Result(key: String, start: Long, end: Long, n: Long,
                          min: Long, max: Long, avg: Double)
  final case class Received(startMs: Double, recvMs: Double,
                            rows: Seq[Result])

  /** The open-loop generator: event i is due at start + i/rate, sent at
    * the first tick at or after that, whatever the system is doing.
    */
  private final class Feeder(mem: MemoryStream[(Array[Byte], Long)],
                             rides: Gen.Rides, rate: Double, tickMs: Long,
                             tracer: Tracer) extends Thread("perfbench-feeder") {
    setDaemon(true)
    @volatile var stopping = false
    @volatile var lagFrom = Double.MaxValue
    val startMs: Double = Clock.nowMs
    private val period = 1000.0 / rate
    var sent = 0L
    var lagMaxMs = 0.0
    val keys = mutable.ArrayBuilder.make[Int]
    val speeds = mutable.ArrayBuilder.make[Int]
    val ts = mutable.ArrayBuilder.make[Long]
    val kinds = mutable.ArrayBuilder.make[Int]
    /** (time, events sent so far) after each addData: block i of the
      * memory source holds events up to sentAt(i).
      */
    val blocks = mutable.ArrayBuffer.empty[(Double, Long)]

    override def run(): Unit = while (!stopping) {
      val now = Clock.nowMs
      val due = ((now - startMs) / period).toLong + 1
      if (due > sent) {
        val batch = (sent until due).map { i =>
          val (k, s, t, kind) = rides.next((startMs + i * period).toLong)
          keys += k; speeds += s; ts += t; kinds += kind
          (Gen.ridePayload(k, s, t), now.toLong)
        }
        mem.addData(batch)
        if (now >= lagFrom)
          lagMaxMs = math.max(lagMaxMs, now - (startMs + sent * period))
        sent = due
        blocks += ((Clock.nowMs, sent))
        if (tracer.listening)
          tracer.add("emit", "generator", now, Clock.nowMs)
      }
      Thread.sleep(tickMs)
    }

    def halt(): Unit = { stopping = true; join() }
  }

  /** One running pipeline: source, generator, query and what the sink
    * received.
    */
  private final class Live(spark: SparkSession, ctx: RunCtx, tracer: Tracer,
                           ckpt: File) {
    private val p = ctx.params
    import spark.implicits._
    val delayMs: Long = Params.intervalMs(p.str("delay"))
    val mem = MemoryStream[(Array[Byte], Long)](spark, p.int("source_partitions"))
    val received = new ConcurrentLinkedQueue[Received]()
    val sinkSpans = new ConcurrentLinkedQueue[(Long, Int)]()

    private val sinkFn: (DataFrame, Long) => Unit = (df, batch) => {
      val s = Clock.nowMs
      val rows = df.collect().toSeq.map { r =>
        Result(r.getString(0), r.getTimestamp(5).getTime,
          r.getTimestamp(6).getTime, r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))
      }
      val e = Clock.nowMs
      received.add(Received(s, e, rows))
      if (tracer.listening)
        sinkSpans.add((batch, tracer.add("foreachBatch", "sink", s, e)))
    }

    val (query: StreamingQuery, planMs: Double) = {
      val t0 = Clock.nowMs
      val q = tracer.span("plan+start", "api") {
        val raw = mem.toDF().select(col("_1").as("value"),
          timestamp_millis(col("_2")).as("timestamp"))
        DataStream(Context.decodeKafkaJson(raw, schema, Some("occurred_at_ms")),
            "__event_time")
          .withWatermarkDelay(p.str("delay"))
          .window(Seq(col("driver_id")),
            Seq(count(lit(1)).as("n"), min(col("speed")).as("min_speed"),
              max(col("speed")).as("max_speed"),
              avg(col("speed")).as("avg_speed")),
            p.str("window"), Some(p.str("slide")))
          .sink(sinkFn)
          .option("checkpointLocation", ckpt.getPath)
          .start()
      }
      (q, Clock.nowMs - t0)
    }

    val feeder = new Feeder(mem, new Gen.Rides(ctx.seed, p.int("keys"),
      p.double("zipf_s"), p.double("ooo_share"), p.long("ooo_max_ms"),
      p.double("late_share"), delayMs + p.long("late_min_extra_ms"),
      delayMs + p.long("late_max_extra_ms")), p.double("rate_eps"),
      p.long("tick_ms"), tracer)
    feeder.start()

    def awaitFirstTrigger(): Unit = {
      val limit = Clock.nowMs + 120000
      while (received.isEmpty) {
        require(Clock.nowMs < limit, "no trigger completed within 120 s")
        query.exception.foreach(e => throw e)
        Thread.sleep(2)
      }
    }

    /** Stop generating, then push the watermark past every window so
      * all results are emitted (two flush records: the second batch
      * runs with the watermark the first one set).
      */
    def flushAndStop(): Unit = {
      feeder.halt()
      val far = feeder.ts.result().max + 100000L
      Seq(far, far + 1).foreach { t =>
        mem.addData(Seq((Gen.ridePayload(-1, 0, t), t)))
        query.processAllAvailable()
      }
      query.stop()
    }

    def stop(): Unit = { feeder.halt(); query.stop() }

    /** Latency of each window end due in (from, to]: receipt of its
      * results minus due time; windows never received count at +inf.
      */
    def latencies(from: Double, to: Double): Seq[Double] = {
      val recv = mutable.Map.empty[Long, Double]
      received.asScala.foreach { r =>
        r.rows.filter(_.key != "d-1").foreach { x =>
          recv(x.end) = math.min(recv.getOrElse(x.end, Double.MaxValue), r.recvMs)
        }
      }
      val slide = Params.intervalMs(p.str("slide"))
      val first = (math.floor((from - delayMs) / slide).toLong + 1) * slide
      (first to (to - delayMs).toLong by slide).map { end =>
        recv.get(end).map(_ - (end + delayMs)).getOrElse(Double.PositiveInfinity)
      }
    }
  }

  /** Reference aggregates over every generated event, and the check of
    * all sink results against them. Windows holding no late event must
    * match exactly; with late events present the count must lie
    * between the on-time and all-events counts. Returns (attempted,
    * failed, on-time results due in (from, to], expected results due in
    * that range, events counted by those on-time results).
    */
  private def check(live: Live, p: Params, limitMs: Double, from: Double,
                    to: Double): (Long, Long, Long, Long, Long) = {
    final class Agg { var nOn = 0L; var nAll = 0L; var min = Long.MaxValue
      var max = Long.MinValue; var sum = 0.0; var late = false }
    val lenMs = Params.intervalMs(p.str("window"))
    val slide = Params.intervalMs(p.str("slide"))
    val keys = live.feeder.keys.result(); val speeds = live.feeder.speeds.result()
    val ts = live.feeder.ts.result(); val kinds = live.feeder.kinds.result()
    val ref = mutable.HashMap.empty[(String, Long), Agg]
    ts.indices.foreach { i =>
      val last = math.floorDiv(ts(i), slide) * slide
      var start = last - lenMs + slide
      while (start <= last) {
        val a = ref.getOrElseUpdate((s"d${keys(i)}", start), new Agg)
        a.nAll += 1
        if (kinds(i) == 2) a.late = true
        else {
          a.nOn += 1; a.sum += speeds(i)
          a.min = math.min(a.min, speeds(i)); a.max = math.max(a.max, speeds(i))
        }
        start += slide
      }
    }
    var failed = 0L
    var onTime = 0L
    var onTimeEvents = 0L
    val seen = mutable.HashSet.empty[(String, Long)]
    live.received.asScala.foreach { r =>
      r.rows.filter(_.key != "d-1").foreach { x =>
        val k = (x.key, x.start)
        val ok = seen.add(k) && ref.get(k).exists { a =>
          if (a.late) a.nOn <= x.n && x.n <= a.nAll
          else x.n == a.nOn && x.min == a.min && x.max == a.max &&
            x.avg == a.sum / a.nOn
        }
        if (!ok) failed += 1
        val due = x.end + live.delayMs
        if (ok && ref(k).nOn > 0 && due > from && due <= to &&
            r.recvMs - due <= limitMs) {
          onTime += 1
          onTimeEvents += x.n
        }
      }
    }
    val expected = ref.filter(_._2.nOn > 0)
    failed += expected.keys.count(k => !seen.contains(k))
    val attempted = expected.size + seen.count(k => ref.get(k).exists(_.nOn == 0))
    val inRange = expected.count { case ((_, start), _) =>
      val due = start + lenMs + live.delayMs
      due > from && due <= to
    }
    (attempted.toLong, failed, onTime, inRange.toLong, onTimeEvents)
  }

  private def sleepUntil(t: Double): Unit = {
    val d = t - Clock.nowMs
    if (d > 0) Thread.sleep(d.toLong)
  }

  def run(ctx: RunCtx): Outcome = {
    val p = ctx.params
    val tracer = new Tracer(ctx.tag, ctx.trace)
    val limitMs = p.double("latency_limit_ms")
    val lenMs = Params.intervalMs(p.str("window"))

    // set-up, several times: session, generator, plan, first trigger
    var live: Live = null
    var spark: SparkSession = null
    val setupsPlans = (0 until ctx.setupPasses).map { i =>
      if (live != null) { live.stop(); spark.stop() }
      val s0 = if (i == 0) ctx.mainEntryMs else Clock.nowMs
      spark = graft.Graft.session(ctx.cores, "perfbench-window-steady")
      live = new Live(spark, ctx, tracer, ctx.dir(s"ckpt-$i"))
      live.awaitFirstTrigger()
      ((Clock.nowMs - s0) / 1000.0, live.planMs)
    }.unzip
    val (setups, plans) = (setupsPlans._1, setupsPlans._2)

    // the timed phase starts once the first timed window is full of
    // generated events and the warm-up has passed; a traced run has the
    // listeners attached for exactly this phase
    val tm0 = math.max(Clock.nowMs + p.double("warmup_s") * 1000,
      live.feeder.startMs + lenMs + live.delayMs)
    live.feeder.lagFrom = tm0
    sleepUntil(tm0)
    if (ctx.trace) tracer.attach(spark)
    val cpu0 = Proc.cpuSeconds
    val tm1 = tm0 + ctx.seconds * 1000.0
    sleepUntil(tm1)
    val cpu = Proc.cpuSeconds - cpu0
    tracer.detach()
    // windows due by tm1 still have the latency limit to arrive on time
    while (Clock.nowMs < tm1 + limitMs &&
           live.latencies(tm0, tm1).exists(_.isInfinite)) Thread.sleep(50)
    val lagMax = live.feeder.lagMaxMs
    live.flushAndStop()

    val (attempted, failed, onTime, inRange, onTimeEvents) =
      check(live, p, limitMs, tm0, tm1)
    val lat = live.latencies(tm0, tm1)
    val p50 = Stats.median(lat)
    val p90 = Stats.quantile(lat, 0.9)
    // events per second whose window results arrived correct and on
    // time (each event is counted by window/slide results)
    val perEvent = lenMs / Params.intervalMs(p.str("slide"))
    val throughput = onTimeEvents.toDouble / perEvent / ctx.seconds
    val lagInvalid = if (lagMax > p.double("generator_lag_limit_ms")) 1L else 0L
    val e2e = Map("setup_s" -> Stats.median(setups), "latency_p50_ms" -> p50,
      "latency_p90_ms" -> p90, "throughput_eps" -> throughput, "cpu_s" -> cpu)
    val named = Map(
      "window_latency_p50_ms" -> p50, "window_latency_p90_ms" -> p90,
      "window_on_time_share" -> onTime.toDouble / math.max(1L, inRange),
      "latency_samples_ms" -> lat, "generator_lag_max_ms" -> lagMax,
      "input_eps" -> live.feeder.ts.result().count(t => t > tm0 && t <= tm1)
        .toDouble / ctx.seconds,
      "setup_s_samples" -> setups)
    if (!ctx.trace) {
      spark.stop()
      return Outcome(attempted + 1, failed + lagInvalid, e2e, Map.empty,
        Map("named" -> named))
    }

    // ------------------------------------------------------------ traced
    val runId = live.query.runId.toString
    val ps = tracer.progress.asScala.toSeq.filter(_.runId.toString == runId)
      .sortBy(_.batchId)
    val addBatch = tracer.addTriggerSpans()
    live.sinkSpans.asScala.foreach { case (b, id) =>
      addBatch.get((runId, b)).foreach(tracer.setParent(id, _))
    }
    // queued events at each trigger start: sent so far minus those in
    // the source blocks already consumed (MemoryStream offsets count
    // addData blocks)
    val blocks = live.feeder.blocks.toSeq
    def sentAt(t: Double): Long =
      blocks.takeWhile(_._1 <= t).lastOption.map(_._2).getOrElse(0L)
    val backlog = ps.map { pr =>
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
      val done = Option(pr.sources.head.startOffset).filter(_ != "null")
        .flatMap(o => blocks.lift(o.trim.toInt)).map(_._2).getOrElse(0L)
      (sentAt(start) - done).toDouble
    }
    val sinkMs = live.received.asScala.filter(r => r.rows.nonEmpty &&
      r.startMs > tm0 && r.recvMs <= tm1).map(r => r.recvMs - r.startMs).toSeq
    val micro = Map(
      "api.decode_eps" -> Micro.decodeEps(spark, {
        val rides = new Gen.Rides(ctx.seed, p.int("keys"), p.double("zipf_s"),
          0, 1, 0, 1, 2)
        (0 until p.int("micro_rows")).map { i =>
          val (k, s, t, _) = rides.next(1700000000000L + i)
          (Gen.ridePayload(k, s, t), t)
        }
      }, schema, tracer),
      "expressions.simhash_eps" -> Micro.simhashEps(spark,
        Gen.docs(new java.util.SplittableRandom(ctx.seed), p.int("micro_rows"))
          .map(_.text).toSeq, tracer))
    val ckptBytes = Files2.size(ctx.dir("ckpt-" + (ctx.setupPasses - 1))).toDouble
    val engine = tracer.engine
    spark.stop()

    // the single-threaded baseline: the same job at local[1]
    val spark1 = graft.Graft.session("1", "perfbench-window-steady-1core")
    val one = new Live(spark1, ctx, new Tracer(ctx.tag + "-1core", false),
      ctx.dir("ckpt-1core"))
    one.awaitFirstTrigger()
    val o0 = math.max(Clock.nowMs + p.double("warmup_s") * 1000,
      one.feeder.startMs + lenMs + one.delayMs)
    val o1 = o0 + ctx.seconds * 500.0
    sleepUntil(o1)
    while (Clock.nowMs < o1 + limitMs &&
           one.latencies(o0, o1).exists(_.isInfinite)) Thread.sleep(50)
    one.flushAndStop()
    val oneP50 = Stats.median(one.latencies(o0, o1))
    spark1.stop()

    val spans = tracer.finalSpans()
    val self = tracer.selfMs(spans)
    val layer = Trace.streaming(ps, tm1 - tm0) ++ engine ++ micro ++
      Map("api.plan_ms" -> Stats.median(plans),
        "streaming.backlog_events" -> (if (backlog.isEmpty) 0.0 else backlog.max),
        "state.checkpoint_bytes" -> ckptBytes,
        "sink.batch_ms" -> Stats.medianOr0(sinkMs),
        "generator.lag_max_ms" -> lagMax,
        "engine.one_core_ratio" -> oneP50 / p50) ++
      Trace.selfMetrics(self)
    Outcome(attempted + 1, failed + lagInvalid, e2e, layer, Map(
      "named" -> named, "one_core_latency_p50_ms" -> oneP50,
      "spans" -> Trace.spanRows(spans)))
  }
}
