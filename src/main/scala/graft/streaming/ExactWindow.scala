package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TimeMode, TimerValues, ExpiredTimerInfo, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Reference-exact streaming window emission as a custom stateful
  * operator (SURVEY §7.2 item 2): the reference's GroupedWindowAggStream
  * (/root/reference/crates/core/src/physical_plan/continuous/
  * grouped_window_agg_stream.rs:110-420) keeps one frame per open
  * (group, window-start), runs ARBITRARY accumulators per frame
  * (grouped_window_agg_stream.rs builds GroupsAccumulators from any
  * aggregate exprs; py udaf_example.py:30-89 runs a map-state UDAF
  * inside a window), emits a window exactly when the watermark passes
  * its end, and drops batches for already-emitted windows.
  *
  * Spark's built-in append-mode aggregate matches those semantics
  * closely (StreamingSpec proves it); this operator exists for the
  * cases where frame-exact control matters — custom state layout,
  * per-window side effects, non-standard late policies.
  *
  * One operator per window shape, both on Spark 4's
  * `transformWithState` (StatefulProcessor + event-time timers):
  *  - [[slidingPanes]]: tumbling and sliding windows, grouped or
  *    global. Each row lands in ONE pane; closing windows merge their
  *    panes' partials;
  *  - [[sessionRows]]: gap-merged session windows.
  * Both are spec-checked against the built-in aggregate
  * (`window()`/`session_window` plus `udaf(...)`) on the same rows,
  * and both checkpoint/restore through the state store.
  *
  * Aggregates are caller-supplied [[ExactAgg]]s — any typed
  * `Aggregator` (including map-state UDAFs like Udafs.CountByValue)
  * lifts into the operator via `ExactAgg(name, extract, agg, type)`,
  * matching the reference's arbitrary-accumulator frames. Group keys
  * are any number of columns, or none. The classic
  * count/sum/min/max/avg surface ([[tumbling]]/[[sliding]]) is a thin
  * preset over [[slidingPanes]].
  */
object ExactWindow {

  /** One named aggregate slot inside the exact-emission operator:
    * reduce rows into a buffer, serialize the buffer into the state
    * store between micro-batches (via the aggregator's own
    * bufferEncoder — columnar, restart-safe), finish at emission.
    */
  trait ExactAgg extends Serializable {
    def name: String
    def outputType: DataType
    def init(): Any
    def reduce(buf: Any, row: Row): Any
    /** Combine two partial buffers (session-merge and pane-merge). */
    def merge(b1: Any, b2: Any): Any
    def finish(buf: Any): Any
    def toBytes(buf: Any): Array[Byte]
    def fromBytes(bytes: Array[Byte]): Any
  }

  object ExactAgg {

    /** Lift a typed Aggregator into the operator. `extract` pulls the
      * aggregator's input out of the full row (column access by name),
      * so one operator invocation can aggregate different columns.
      */
    def apply[I, B, O](aggName: String, extract: Row => I,
                       agg: Aggregator[I, B, O],
                       output: DataType): ExactAgg = new ExactAgg {
      // encoder machinery materializes lazily on each executor; the
      // buffer crosses micro-batches as the UnsafeRow bytes of the
      // aggregator's OWN bufferEncoder (same layout Spark would use
      // for this Aggregator in a built-in aggregate)
      @transient private lazy val enc: ExpressionEncoder[B] =
        org.apache.spark.sql.catalyst.encoders.encoderFor(agg.bufferEncoder)
          .resolveAndBind()
      @transient private lazy val ser = enc.createSerializer()
      @transient private lazy val deser = enc.createDeserializer()
      @transient private lazy val proj =
        org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          .create(enc.schema)

      override def name: String = aggName
      override def outputType: DataType = output
      override def init(): Any = agg.zero
      override def reduce(buf: Any, row: Row): Any =
        agg.reduce(buf.asInstanceOf[B], extract(row))
      override def merge(b1: Any, b2: Any): Any =
        agg.merge(b1.asInstanceOf[B], b2.asInstanceOf[B])
      override def finish(buf: Any): Any = agg.finish(buf.asInstanceOf[B])
      override def toBytes(buf: Any): Array[Byte] =
        proj(ser(buf.asInstanceOf[B])).copy().getBytes
      override def fromBytes(bytes: Array[Byte]): Any = {
        val r = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(
          enc.schema.fields.length)
        r.pointTo(bytes, bytes.length)
        deser(r)
      }
    }

    /** Numeric presets over a double column. Null values are skipped at
      * reduce time (built-in agg null semantics), so calling
      * [[ExactWindow.slidingPanes]] directly with a nullable column is
      * safe: count counts non-null rows, and a frame whose rows are all
      * null emits count 0 with null sum/min/max/avg — exactly what
      * `count(col)/sum/min/max/avg` return over an all-null group.
      * ([[ExactWindow.sliding]] additionally pre-filters null rows, so
      * all-null frames never even open on that surface.)
      */
    def count(name: String, valueCol: String): ExactAgg =
      numericPreset[Long, Long](name, valueCol, new CountA, LongType)
    def sum(name: String, valueCol: String): ExactAgg =
      numericPreset[(Long, Double), java.lang.Double](name, valueCol,
        new SumA, DoubleType)
    def min(name: String, valueCol: String): ExactAgg =
      numericPreset[(Long, Double), java.lang.Double](name, valueCol,
        new MinA, DoubleType)
    def max(name: String, valueCol: String): ExactAgg =
      numericPreset[(Long, Double), java.lang.Double](name, valueCol,
        new MaxA, DoubleType)
    def avg(name: String, valueCol: String): ExactAgg =
      numericPreset[(Long, Double), java.lang.Double](name, valueCol,
        new AvgA, DoubleType)

    /** Wrap a double-input Aggregator with a reduce-time null skip (a
      * bare `getAs[Double]` would silently unbox SQL NULL to 0.0).
      */
    private def numericPreset[B, O](aggName: String, valueCol: String,
                                    agg: Aggregator[Double, B, O],
                                    output: DataType): ExactAgg = {
      val lifted = apply[Double, B, O](aggName, _.getAs[Double](valueCol),
        agg, output)
      new ExactAgg {
        override def name: String = lifted.name
        override def outputType: DataType = lifted.outputType
        override def init(): Any = lifted.init()
        override def reduce(buf: Any, row: Row): Any =
          if (row.isNullAt(row.fieldIndex(valueCol))) buf
          else lifted.reduce(buf, row)
        override def merge(b1: Any, b2: Any): Any = lifted.merge(b1, b2)
        override def finish(buf: Any): Any = lifted.finish(buf)
        override def toBytes(buf: Any): Array[Byte] = lifted.toBytes(buf)
        override def fromBytes(bytes: Array[Byte]): Any =
          lifted.fromBytes(bytes)
      }
    }
  }

  private class CountA extends Aggregator[Double, Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, a: Double): Long = b + 1
    override def merge(x: Long, y: Long): Long = x + y
    override def finish(r: Long): Long = r
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
  // sum/min/max/avg buffers carry (non-null count, value) so an empty
  // (all-null-input) frame finishes to SQL NULL instead of a sentinel
  // (0.0 / ±Double.MaxValue) — the structural fix for the old "frames
  // only exist after ≥1 non-null row" comment-level contract
  private class SumA
      extends Aggregator[Double, (Long, Double), java.lang.Double] {
    override def zero: (Long, Double) = (0L, 0.0)
    override def reduce(b: (Long, Double), a: Double): (Long, Double) =
      (b._1 + 1, b._2 + a)
    override def merge(x: (Long, Double), y: (Long, Double)): (Long, Double) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(r: (Long, Double)): java.lang.Double =
      if (r._1 == 0L) null else Double.box(r._2)
    override def bufferEncoder: Encoder[(Long, Double)] =
      ExpressionEncoder[(Long, Double)]()
    override def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }
  private class MinA
      extends Aggregator[Double, (Long, Double), java.lang.Double] {
    override def zero: (Long, Double) = (0L, Double.MaxValue)
    override def reduce(b: (Long, Double), a: Double): (Long, Double) =
      (b._1 + 1, math.min(b._2, a))
    override def merge(x: (Long, Double), y: (Long, Double)): (Long, Double) =
      (x._1 + y._1, math.min(x._2, y._2))
    override def finish(r: (Long, Double)): java.lang.Double =
      if (r._1 == 0L) null else Double.box(r._2)
    override def bufferEncoder: Encoder[(Long, Double)] =
      ExpressionEncoder[(Long, Double)]()
    override def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }
  private class MaxA
      extends Aggregator[Double, (Long, Double), java.lang.Double] {
    override def zero: (Long, Double) = (0L, Double.MinValue)
    override def reduce(b: (Long, Double), a: Double): (Long, Double) =
      (b._1 + 1, math.max(b._2, a))
    override def merge(x: (Long, Double), y: (Long, Double)): (Long, Double) =
      (x._1 + y._1, math.max(x._2, y._2))
    override def finish(r: (Long, Double)): java.lang.Double =
      if (r._1 == 0L) null else Double.box(r._2)
    override def bufferEncoder: Encoder[(Long, Double)] =
      ExpressionEncoder[(Long, Double)]()
    override def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }
  private class AvgA
      extends Aggregator[Double, (Long, Double), java.lang.Double] {
    override def zero: (Long, Double) = (0L, 0.0)
    override def reduce(b: (Long, Double), a: Double): (Long, Double) =
      (b._1 + 1, b._2 + a)
    override def merge(x: (Long, Double), y: (Long, Double)): (Long, Double) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(r: (Long, Double)): java.lang.Double =
      if (r._1 == 0L) null else Double.box(r._2 / r._1)
    override def bufferEncoder: Encoder[(Long, Double)] =
      ExpressionEncoder[(Long, Double)]()
    override def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  /** @param df streaming frame
    * @param groupCol   group key column (string)
    * @param tsCol      event-time column (TimestampType, watermarked here)
    * @param valueCol   numeric column to aggregate
    * @param lengthMs   tumbling window length in ms
    * @param delay      watermark delay (e.g. "0 seconds")
    */
  def tumbling(df: DataFrame, groupCol: String, tsCol: String,
               valueCol: String, lengthMs: Long,
               delay: String = "0 seconds"): DataFrame =
    sliding(df, groupCol, tsCol, valueCol, lengthMs, lengthMs, delay)

  /** Classic single-key count/sum/min/max/avg surface — the reference
    * example set (simple_aggregation.rs:47-52) — as a preset over
    * [[slidingPanes]]. Output columns: group, window_start_time,
    * window_end_time, n, sum, min, max, avg.
    */
  def sliding(df: DataFrame, groupCol: String, tsCol: String,
              valueCol: String, lengthMs: Long, slideMs: Long,
              delay: String = "0 seconds"): DataFrame = {
    val projected = df
      // primitive Double buffers: a null value would kill the query,
      // built-in aggs skip nulls — match that contract here
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("group"),
        col(tsCol).as("__ts"), col(valueCol).cast("double").as("v"))
    slidingPanes(projected, Seq("group"), "__ts", lengthMs, slideMs,
      Seq(ExactAgg.count("n", "v"), ExactAgg.sum("sum", "v"),
        ExactAgg.min("min", "v"), ExactAgg.max("max", "v"),
        ExactAgg.avg("avg", "v")),
      delay)
  }

  @annotation.tailrec
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Tumbling and sliding windows with ARBITRARY aggregates and
    * multi-column group keys — the general form matching the
    * reference's arbitrary-accumulator frames. Window starts are the
    * slide grid (Spark's `window()` and the reference's per-row
    * routing, grouped_window_agg_stream.rs:443-650); slide == length
    * is tumbling. Each row is accumulated into exactly ONE pane rather
    * than into each of its ceil(length/slide) overlapping frames — for
    * a 60s/1s window that is 60× less shuffle volume and 60× fewer
    * state rows, bought at emission time by merging length/slide pane
    * partials per closing window (cheap: panes, not rows).
    *
    * Panes live on the gcd(length, slide) grid: both the window length
    * and the slide are multiples of it, so panes tile every window
    * exactly for ARBITRARY length/slide ratios (a 7s/3s window uses
    * 1s panes, 7 per window). When length % slide == 0 the grid equals
    * the slide — the classic case, with its full length/slide shuffle
    * and state reduction; as the gcd shrinks the operator degrades
    * gracefully toward per-row granularity rather than rejecting the
    * shape. Requires [[ExactAgg.merge]] (any `Aggregator` lift
    * provides it). State per group: MapState pane-start → partial
    * buffers, a frontier marking watermark progress, and one
    * re-armable event-time timer at the earliest unemitted window end.
    * A pane is evicted as soon as the watermark passes the end of the
    * last window containing it, so state holds at most
    * (active time range / paneMs) panes per group. Emission instant
    * matches the built-in append-mode aggregate: a window emits
    * exactly when the watermark passes its end, and only if at least
    * one row fell in it.
    *
    * `groupCols` may be EMPTY: the global form keeps one pane map for
    * the whole stream, mirroring the reference's ungrouped operator
    * pair (`WindowAggStream` partial + `FullWindowAggStream` final,
    * crates/core/src/physical_plan/continuous/streaming_window.rs
    * :640-828, :882-1035). Scale note: a global
    * window concentrates on one task by definition — at high input
    * rates prefer the built-in two-stage global path (partial
    * aggregation before the single-key shuffle, SparkEntry q24)
    * unless frame-exact control is required.
    *
    * Output schema: groupCols (original types) ++ window_start_time,
    * window_end_time ++ one column per [[ExactAgg]].
    */
  def slidingPanes(df: DataFrame, groupCols: Seq[String], tsCol: String,
                   lengthMs: Long, slideMs: Long, aggs: Seq[ExactAgg],
                   delay: String = "0 seconds"): DataFrame = {
    require(slideMs > 0 && lengthMs >= slideMs,
      "need 0 < slide <= length")
    val paneMs = gcd(lengthMs, slideMs)
    val panesPerWindow = (lengthMs / paneMs).toInt
    val nKeys = groupCols.length

    val processor = new StatefulProcessor[Row, Row, Row] {
      @transient private var panes:
        org.apache.spark.sql.streaming.MapState[Long, Array[Array[Byte]]] = _
      @transient private var frontier: ValueState[Long] = _

      override def init(outputMode: OutputMode,
                        timeMode: TimeMode): Unit = {
        panes = getHandle.getMapState[Long, Array[Array[Byte]]]("panes",
          Encoders.scalaLong, ExpressionEncoder[Array[Array[Byte]]](),
          TTLConfig.NONE)
        frontier = getHandle.getValueState[Long]("frontier",
          Encoders.scalaLong, TTLConfig.NONE)
      }

      // window-start index range containing pane p: starts are the
      // slide grid k·slide with k·slide ≤ p < k·slide + length
      private def kRange(p: Long): (Long, Long) =
        (Math.floorDiv(p - lengthMs, slideMs) + 1,
          Math.floorDiv(p, slideMs))

      // earliest window end > wm over the live panes; MaxValue if none
      private def nextEnd(wm: Long): Long = {
        var best = Long.MaxValue
        panes.keys().foreach { p =>
          val (kMin, kMax) = kRange(p)
          val k = math.max(kMin,
            Math.floorDiv(wm - lengthMs, slideMs) + 1)
          if (k <= kMax) {
            val e = k * slideMs + lengthMs
            if (e < best) best = e
          }
        }
        best
      }

      override def handleInputRows(key: Row, rows: Iterator[Row],
                                   timers: TimerValues): Iterator[Row] = {
        // buffer per touched pane for this batch, deserialized once
        val touched = scala.collection.mutable.Map[Long, Array[Any]]()
        rows.foreach { r =>
          val t = r.getAs[java.sql.Timestamp](tsCol).getTime
          val p = t - math.floorMod(t, paneMs)
          val bufs = touched.getOrElseUpdate(p,
            if (panes.containsKey(p)) {
              val bytes = panes.getValue(p)
              Array.tabulate[Any](aggs.length)(i =>
                aggs(i).fromBytes(bytes(i)))
            } else Array.tabulate[Any](aggs.length)(i => aggs(i).init()))
          var i = 0
          while (i < bufs.length) { bufs(i) = aggs(i).reduce(bufs(i), r); i += 1 }
        }
        touched.foreach { case (p, bufs) =>
          panes.updateValue(p,
            Array.tabulate(aggs.length)(i => aggs(i).toBytes(bufs(i))))
        }
        val e = nextEnd(timers.getCurrentWatermarkInMs())
        if (e != Long.MaxValue) getHandle.registerTimer(e)
        Iterator.empty
      }

      override def handleExpiredTimer(key: Row, timers: TimerValues,
          expired: ExpiredTimerInfo): Iterator[Row] = {
        val wm = timers.getCurrentWatermarkInMs()
        val fr = if (frontier.exists()) frontier.get() else Long.MinValue
        // candidate windows: derived from live panes, ending in
        // (frontier, wm] — ascending so panes are merged before any of
        // them becomes evictable
        val live: Map[Long, Array[Array[Byte]]] = panes.iterator().toMap
        val toEmit = live.keysIterator.flatMap { p =>
          val (kMin, kMax) = kRange(p)
          (kMin to kMax).iterator.map(k => k * slideMs + lengthMs)
            .filter(e => e > fr && e <= wm).map(e => e - lengthMs)
        }.toSet.toSeq.sorted
        val out = toEmit.map { w =>
          var bufs = Array.tabulate[Any](aggs.length)(i => aggs(i).init())
          var j = 0
          while (j < panesPerWindow) {
            live.get(w + j * paneMs).foreach { bytes =>
              var i = 0
              while (i < bufs.length) {
                bufs(i) = aggs(i).merge(bufs(i), aggs(i).fromBytes(bytes(i)))
                i += 1
              }
            }
            j += 1
          }
          Row.fromSeq(
            (0 until nKeys).map(key.get) ++
              Seq(new Timestamp(w), new Timestamp(w + lengthMs)) ++
              aggs.indices.map(i => aggs(i).finish(bufs(i))))
        }
        // a pane dies once the watermark passes its LAST window's end
        live.keysIterator
          .filter(p => kRange(p)._2 * slideMs + lengthMs <= wm)
          .foreach(panes.removeKey)
        if (!panes.exists()) {
          // key fully drained → drop ALL its state, frontier included
          // (a later row can only open windows ending > wm ≥ this
          // frontier, so re-emission is impossible without it); keeping
          // it would leak one ValueState row per key ever seen
          frontier.clear()
        } else {
          frontier.update(wm)
          val e = nextEnd(wm)
          if (e != Long.MaxValue) getHandle.registerTimer(e)
        }
        out.iterator
      }
    }
    runKeyed(df, groupCols, tsCol, aggs, delay, processor)
  }

  /** Session windows with gap merging in the custom stateful operator —
    * EXCEEDS the reference: its logical plan declares `Session(gap)`
    * but the physical operator `todo!()`s it
    * (/root/reference/crates/core/src/logical_plan/streaming_window.rs:69-74,
    * crates/core/src/physical_plan/continuous/streaming_window.rs:1062).
    * The built-in `session_window` covers the declarative path
    * (SparkEntry q9); this form gives sessions the same frame-exact
    * custom-state control [[slidingPanes]] gives fixed windows, with the
    * same caller-supplied [[ExactAgg]] aggregates (their `merge` powers
    * session coalescing).
    *
    * State per group: the open sessions `[start, last, bufs]`. A row at
    * t merges every session whose `[start, last+gap)` interval touches
    * `(t-gap, t+gap)` — interval connectivity is order-independent, so
    * batch iteration order doesn't matter. One event-time timer tracks
    * the earliest open end; a session emits exactly when the watermark
    * passes its end (last + gap), the built-in append-mode instant.
    */
  def sessionRows(df: DataFrame, groupCols: Seq[String], tsCol: String,
                  gapMs: Long, aggs: Seq[ExactAgg],
                  delay: String = "0 seconds"): DataFrame = {
    require(gapMs > 0, "need gap > 0")
    val nKeys = groupCols.length

    // state row: (session start ms, last event ms, one serialized
    // buffer per aggregate) — spelled concretely where an encoder is
    // derived (a local type alias has no TypeTag)
    type Sess = (Long, Long, Array[Array[Byte]])

    def emitRow(key: Row, start: Long, last: Long,
                bufs: Array[Any]): Row =
      Row.fromSeq(
        (0 until nKeys).map(key.get) ++
          Seq(new Timestamp(start), new Timestamp(last + gapMs)) ++
          aggs.indices.map(i => aggs(i).finish(bufs(i))))

    val processor = new StatefulProcessor[Row, Row, Row] {
      @transient private var st: ValueState[Array[Sess]] = _
      override def init(outputMode: OutputMode,
                        timeMode: TimeMode): Unit =
        st = getHandle.getValueState[Array[Sess]]("sessions",
          ExpressionEncoder[Array[(Long, Long, Array[Array[Byte]])]](),
          TTLConfig.NONE)

      private def load(): List[(Long, Long, Array[Any])] =
        if (!st.exists()) Nil
        else st.get().toList.map { case (s, e, bytes) =>
          (s, e, Array.tabulate[Any](aggs.length)(i =>
            aggs(i).fromBytes(bytes(i))))
        }
      private def store(open: List[(Long, Long, Array[Any])]): Unit =
        if (open.isEmpty) st.clear()
        else st.update(open.map { case (s, e, bufs) =>
          (s, e, Array.tabulate(aggs.length)(i => aggs(i).toBytes(bufs(i))))
        }.toArray)

      override def handleInputRows(key: Row, rows: Iterator[Row],
                                   timers: TimerValues): Iterator[Row] = {
        var open = load()
        rows.foreach { r =>
          val t = r.getAs[java.sql.Timestamp](tsCol).getTime
          // half-open session intervals: an event at exactly last+gap
          // starts a NEW session (built-in session_window semantics)
          val (touch, rest) = open.partition(s =>
            s._1 < t + gapMs && t < s._2 + gapMs)
          var start = t
          var last = t
          val bufs = Array.tabulate[Any](aggs.length)(i => aggs(i).init())
          var i = 0
          while (i < bufs.length) {
            bufs(i) = aggs(i).reduce(bufs(i), r); i += 1
          }
          touch.foreach { s =>
            start = math.min(start, s._1)
            last = math.max(last, s._2)
            var j = 0
            while (j < bufs.length) {
              bufs(j) = aggs(j).merge(bufs(j), s._3(j)); j += 1
            }
          }
          open = (start, last, bufs) :: rest
        }
        store(open)
        if (open.nonEmpty)
          getHandle.registerTimer(open.map(_._2).min + gapMs)
        Iterator.empty
      }

      override def handleExpiredTimer(key: Row, timers: TimerValues,
          expired: ExpiredTimerInfo): Iterator[Row] = {
        val open = load()
        if (open.isEmpty) Iterator.empty
        else {
          val wm = timers.getCurrentWatermarkInMs()
          val (closed, still) = open.partition(s => s._2 + gapMs <= wm)
          store(still)
          // stale timers (superseded by a session extension) land here
          // with nothing closed; re-arm for the earliest pending end so
          // emission is never lost
          if (still.nonEmpty)
            getHandle.registerTimer(still.map(_._2).min + gapMs)
          closed.sortBy(_._1).iterator
            .map { case (s, e, bufs) => emitRow(key, s, e, bufs) }
        }
      }
    }
    runKeyed(df, groupCols, tsCol, aggs, delay, processor)
  }

  /** What both operators share: check the aggregates, watermark the
    * input, key it by `groupCols` and run `processor` on
    * transformWithState in event time. Output: groupCols (original
    * types) ++ window_start_time, window_end_time ++ one column per
    * [[ExactAgg]]. transformWithState refuses an empty key, so the
    * global form keys every row on one constant (opaque to Catalyst
    * inside the key function, so never folded away) and emits no key
    * column.
    */
  private def runKeyed(df: DataFrame, groupCols: Seq[String],
                       tsCol: String, aggs: Seq[ExactAgg], delay: String,
                       processor: StatefulProcessor[Row, Row, Row])
      : DataFrame = {
    require(aggs.nonEmpty, "need at least one aggregate")
    require(aggs.map(_.name).distinct.length == aggs.length,
      "aggregate names must be unique")
    val prepared = df.withWatermark(tsCol, delay)
    val keyFields = groupCols.map(c => prepared.schema(c))
    val keySchema = StructType(
      if (groupCols.isEmpty) Seq(StructField("__gk", IntegerType))
      else keyFields)
    val outSchema = StructType(keyFields ++
      Seq(StructField("window_start_time", TimestampType),
        StructField("window_end_time", TimestampType)) ++
      aggs.map(a => StructField(a.name, a.outputType)))
    prepared.groupByKey { r: Row =>
        if (groupCols.isEmpty) Row(0)
        else Row.fromSeq(groupCols.map(c => r.getAs[Any](c)))
      }(ExpressionEncoder(keySchema))
      .transformWithState(processor, TimeMode.EventTime(),
        OutputMode.Append())(ExpressionEncoder(outSchema)).toDF()
  }
}
