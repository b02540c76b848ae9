package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A span: one call into a layer. Times are [[Clock]] milliseconds;
  * `parent` is the id of the span that caused it (-1 for a root).
  */
final case class Span(id: Int, name: String, layer: String, start: Double,
                      end: Double, parent: Int, run: String) {
  def dur: Double = end - start
}

/** In-memory span recorder plus the two listeners of a traced run.
  * Spans are kept only when `recording` (a traced run); the listeners
  * exist only between [[attach]] and [[detach]], the traced phase, so
  * untraced runs carry no listener at all.
  */
final class Tracer(val run: String, recording: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var on = false
  @volatile private var session: SparkSession = _
  private var t0 = 0.0
  private var t1 = 0.0

  /** True in the traced phase, while the listeners are attached. */
  def listening: Boolean = on

  def add(name: String, layer: String, start: Double, end: Double,
          parent: Int = -1): Int =
    if (!recording) -1
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, layer, start, end, parent, run))
      id
    }

  private val parents = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  /** Re-parent a span recorded before its cause was known (a sink call
    * belongs to the addBatch phase of its trigger).
    */
  def setParent(id: Int, parent: Int): Unit = parents.put(id, parent)

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Clock.nowMs
    try body finally add(name, layer, s, Clock.nowMs)
  }

  // ------------------------------------------------------------ listeners

  final case class Task(stage: Int, durMs: Long, cpuNs: Long, gcMs: Long,
                        shWrite: Long, shRead: Long, spill: Long)
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  private val jobs = new ConcurrentLinkedQueue[(Int, Double, Double)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, Clock.nowMs)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { s =>
        jobs.add((e.jobId, s, Clock.nowMs))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorCpuTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    t0 = Clock.nowMs
    on = true
  }

  /** Stop recording. The listener bus delivers asynchronously, so the
    * listeners stay attached for a short drain before removal.
    */
  def detach(): Unit = if (on) {
    t1 = Clock.nowMs
    Thread.sleep(500)
    on = false
    session.sparkContext.removeSparkListener(sparkListener)
    session.streams.removeListener(queryListener)
  }

  // ---------------------------------------------------------- streaming

  /** Trigger spans with their phase children, laid out in the order the
    * micro-batch executor runs them (offsets, WAL, batch, plan, sink,
    * commit); phase durations are Spark's own, positions approximate.
    * The sink spans recorded by the workload become children of their
    * batch's addBatch phase. Returns (query run id, batch id) → the
    * addBatch span id.
    */
  def addTriggerSpans(): Map[(String, Long), Int] = {
    val order = Seq("latestOffset", "walCommit", "getBatch",
      "queryPlanning", "addBatch", "commitOffsets")
    val addBatch = mutable.Map.empty[(String, Long), Int]
    progress.asScala.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val total = d.getOrElse("triggerExecution", 0.0)
      val trig = add(s"trigger ${p.batchId}", "streaming", start,
        start + total)
      var at = start
      order.foreach { ph =>
        val len = d.getOrElse(ph, 0.0)
        val id = add(ph, "streaming", at, at + len, trig)
        if (ph == "addBatch") {
          addBatch((p.runId.toString, p.batchId)) = id
          // commitTimeMs sums the store instances, which commit in
          // parallel tasks: the mean per instance is the wall estimate
          val commit = math.min(len, p.stateOperators.map { o =>
            o.commitTimeMs.toDouble / math.max(1L, o.numStateStoreInstances)
          }.sum)
          if (commit > 0)
            add("state.commit", "state", at + len - commit, at + len, id)
        }
        at += len
      }
    }
    addBatch.toMap
  }

  // ------------------------------------------------------------- report

  def allSpans: Seq[Span] = spans.asScala.toSeq.map { s =>
    Option(parents.get(s.id)).fold(s)(p => s.copy(parent = p))
  }

  /** Engine metrics over the traced interval. */
  def engine: Map[String, Double] = {
    val ts = tasks.asScala.toSeq
    val js = jobs.asScala.toSeq
    val wall = (t1 - t0) / 1000.0
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val d = g.map(_.durMs.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.toSeq
    Map(
      "engine.jobs" -> js.size.toDouble,
      "engine.tasks" -> ts.size.toDouble,
      "engine.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "engine.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "engine.driver_gap_s" ->
        math.max(0.0, wall - unionMs(js.map(j => (j._2, j._3)), t0, t1) / 1e3),
      "engine.shuffle_write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "engine.shuffle_read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "engine.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "engine.task_skew" -> Stats.medianOr0(skew))
  }

  /** All spans, job spans included: each job is parented to the
    * innermost non-state span it started in, and each state commit to
    * the job whose tasks ran it (the one open at the commit's end).
    */
  def finalSpans(): Seq[Span] = {
    val base = allSpans
    def innermost(c: Seq[Span], t: Double): Int =
      c.filter(p => p.start <= t && t <= p.end).sortBy(_.dur).headOption
        .map(_.id).getOrElse(-1)
    val jobSpans = jobs.asScala.toSeq.map { case (id, s, e) =>
      Span(ids.incrementAndGet(), s"job $id", "engine", s, e,
        innermost(base.filter(_.layer != "state"), s), run)
    }
    base.map { s =>
      if (s.layer != "state") s
      else {
        val job = innermost(jobSpans, s.end)
        if (job < 0) s else s.copy(parent = job)
      }
    } ++ jobSpans
  }

  /** Per-layer self time: each span's duration minus the part of it
    * its children cover.
    */
  def selfMs(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        s.dur - unionMs(cs, s.start, s.end)
      }.sum
    }
  }

  private def unionMs(iv: Seq[(Double, Double)], lo: Double,
                      hi: Double): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) covered += curE - curS
    covered
  }
}

object Trace {
  def selfMetrics(self: Map[String, Double]): Map[String, Double] =
    layers.map(l => s"self_ms.$l" -> self.getOrElse(l, 0.0)).toMap

  def spanRows(spans: Seq[Span]): Seq[Map[String, Any]] =
    spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "run" -> s.run))

  val layers: Seq[String] = Seq("api", "formats", "expressions",
    "streaming", "state", "operators", "engine", "sink", "generator")

  /** Per-trigger phase and state readings of one query's progress
    * events, each the median over the triggers.
    */
  def streaming(ps: Seq[StreamingQueryProgress],
                wallMs: Double): Map[String, Double] = {
    def phase(k: String): Seq[Double] =
      ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long)
        : Seq[Double] = ps.map(_.stateOperators.map(f).sum.toDouble)
    val trig = phase("triggerExecution")
    def a(xs: Seq[Double]): Double = Stats.medianOr0(xs)
    Map(
      "streaming.triggers" -> ps.size.toDouble,
      "streaming.trigger_p50_ms" -> Stats.medianOr0(trig),
      "streaming.nodata_triggers" -> ps.count(_.numInputRows == 0).toDouble,
      "streaming.idle_share" ->
        (if (wallMs <= 0) 0.0 else math.max(0.0, 1.0 - trig.sum / wallMs)),
      "streaming.query_planning_ms" -> a(phase("queryPlanning")),
      "streaming.get_batch_ms" -> a(phase("getBatch")),
      "streaming.latest_offset_ms" -> a(phase("latestOffset")),
      "streaming.add_batch_ms" -> a(phase("addBatch")),
      "streaming.wal_commit_ms" -> a(phase("walCommit")),
      "streaming.commit_offsets_ms" -> a(phase("commitOffsets")),
      "state.rows_total" -> a(state(_.numRowsTotal)),
      "state.rows_updated" -> a(state(_.numRowsUpdated)),
      "state.rows_removed" -> a(state(_.numRowsRemoved)),
      "state.memory_bytes" -> a(state(_.memoryUsedBytes)),
      "state.commit_ms" -> a(state(_.commitTimeMs)),
      "state.dropped_late_rows" -> state(_.numRowsDroppedByWatermark).sum)
  }
}
