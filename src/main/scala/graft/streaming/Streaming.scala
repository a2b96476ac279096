package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

import graft.core.{DatapointStore, DirSwap}
import graft.model.Granularity
import graft.operators.Downsample

/** Incremental (streaming) mode of the engine — SURVEY §2.1 A2/A10 as
  * Structured Streaming pipelines.
  *
  * Mapping of reference semantics:
  *  - "only completed buckets are emitted" (the downsample job's rule) is
  *    exactly watermark-triggered window close in Append mode: a window
  *    emits once the watermark passes its end.
  *  - per-stream derive state (last point, last counter value) lives in
  *    `transformWithState` [[ValueState]] keyed by stream_id (the Spark 4
  *    arbitrary-stateful-processing primitive, RocksDB-backed) — the
  *    distributed replacement for the reference's per-stream state docs.
  *
  * Scale design: all state is keyed by stream_id, so it shards across
  * executors; watermarks bound state size (old windows are dropped);
  * nothing ever collects to the driver.
  */
object Streaming {

  /** One datapoint flowing through a streaming pipeline. */
  case class Point(stream_id: String, t: Timestamp, v: Double)

  /** Derive-op state: the last seen point of each stream. */
  case class LastPoint(t: Long, v: Double)

  /** Declarative streaming downsample to one granularity. Input: streaming
    * (stream_id, t, v). Output (Append mode): one row per closed bucket
    * with the 10 aggregates, same columns as the batch path.
    *
    * @param watermarkDelay how long to wait for late data before a bucket
    *   is considered complete (the reference's `check_timestamp=True`
    *   rejects late appends, so "0 seconds" reproduces it exactly)
    */
  def downsample(src: DataFrame, g: Granularity,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    val bucketEpoch = unix_timestamp(col("window.start"))
    val aggs = Downsample.aggColumns(col("v"), col("t"), bucketEpoch)
    src.withWatermark("t", watermarkDelay)
      .groupBy(col("stream_id"), window(col("t"), g.windowDuration))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("stream_id") +: lit(g.name).as("granularity") +:
        col("window.start").as("t") +:
        Seq("c", "s", "q", "l", "u", "m", "d", "t_first", "t_last", "t_mean")
          .map(col): _*)
  }

  /** Sliding (hopping) windowed aggregation: width/slide overlapping
    * buckets per stream, emitted on watermark close — the streaming twin
    * of the batch `ds_agg_sliding` query. Each point expands to
    * width/slide window rows before ONE hash aggregation; state is
    * (stream × open windows), bounded by the watermark.
    */
  def sliding(src: DataFrame, width: String, slide: String,
      watermarkDelay: String = "0 seconds"): DataFrame =
    src.withWatermark("t", watermarkDelay)
      .groupBy(col("stream_id"), window(col("t"), width, slide))
      .agg(count(lit(1)).as("c"), sum(col("v")).as("s"))
      .select(col("stream_id"), col("window.start").as("bucket"),
        col("c"), col("s"))

  /** Streaming V1 `sum`: pointwise sum of all source streams per closed
    * bucket (union → one windowed agg, same shuffle shape as batch).
    */
  def streamSum(src: DataFrame, g: Granularity, outStreamId: String,
      watermarkDelay: String = "0 seconds"): DataFrame =
    src.withWatermark("t", watermarkDelay)
      .groupBy(window(col("t"), g.windowDuration))
      .agg(sum(col("v")).as("v"))
      .select(lit(outStreamId).as("stream_id"),
        col("window.start").as("t"), col("v"))

  /** Stream-stream interval join: pair each left point with the right
    * points of the SAME stream whose timestamp falls within
    * `[t − before, t + after]` — the streaming form of the batch
    * interval-overlap join (enrich a measurement stream with a co-flowing
    * annotation/reset stream, V4's reset-suppression shape).
    *
    * Both sides carry watermarks and the join condition bounds event time
    * in BOTH directions, which is what lets Spark expire join state: a
    * buffered right row can be dropped once the left watermark passes
    * `rt + before`. Without the two-sided bound the state grows with the
    * stream — the unbounded-join trap at 100 TB.
    *
    * Left columns: (stream_id, t, v); right: (stream_id, rt, rv).
    * Output: inner-join rows (stream_id, t, v, rt, rv).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      delay: String = "0 seconds", before: String = "60 seconds",
      after: String = "60 seconds"): DataFrame = {
    val l = left.withWatermark("t", delay)
    val r = right.withColumnRenamed("stream_id", "r_stream_id")
      .withWatermark("rt", delay)
    l.join(r,
      col("stream_id") === col("r_stream_id") &&
        col("rt") >= col("t") - expr(s"interval $before") &&
        col("rt") <= col("t") + expr(s"interval $after"))
      .select("stream_id", "t", "v", "rt", "rv")
  }

  /** `transformWithState` (the Spark 4 stateful-processing primitive the
    * derive ops below run on) only supports the RocksDB state store.
    * Set the provider once per session, before the query plan is built —
    * it also serves the window/session/dedup state stores fine, so one
    * session-wide provider keeps every stateful query on the same engine.
    *
    * RESTART CAVEAT: provider formats are not interchangeable. A stateful
    * query whose checkpoint was written under the stock HDFS-backed
    * provider cannot restore after this flips the session to RocksDB —
    * restart such queries from a fresh checkpoint, or keep them in a
    * separate session. New deployments are unaffected (the flip happens
    * before any state exists).
    */
  private[graft] def ensureRocksDbStateStore(spark: SparkSession): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val cur = spark.conf.get(key, "")
    // only upgrade the stock default (HDFS-backed) — a session that chose
    // some OTHER provider deliberately keeps it, and transformWithState
    // raises its own clear requires-RocksDB error rather than this helper
    // silently rewriting session config behind the user's back
    if (cur.isEmpty || cur.contains("HDFSBackedStateStoreProvider"))
      spark.conf.set(key, rocks)
  }

  /** Shared shape of the per-stream fold processors: carry one small state
    * value across micro-batches, sort each batch's rows by event time
    * before folding (batch arrival order is arbitrary), emit zero-or-one
    * row per input row. The state is created in `init` through the
    * processor handle — the transformWithState lifecycle — and updated
    * once per batch.
    */
  private abstract class PointFoldProcessor[S](stateName: String,
      stateEnc: org.apache.spark.sql.Encoder[S],
      orderInBatch: Point => (Long, Double))
      extends StatefulProcessor[String, Point, Point] {
    @transient private var state: ValueState[S] = _
    protected def fold(key: String, p: Point, prev: Option[S])
        : (Option[Point], S)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S](stateName, stateEnc, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Point],
        timerValues: TimerValues): Iterator[Point] = {
      val sorted = rows.toSeq.sortBy(orderInBatch)
      var prev = if (state.exists()) Some(state.get()) else None
      val out = sorted.flatMap { p =>
        val (emit, next) = fold(key, p, prev)
        prev = Some(next)
        emit
      }
      prev.foreach(state.update)
      out.iterator
    }
  }

  /** Stateful streaming V2 `derivative`: per stream, emit
    * (v − last.v)/(t − last.t) for each arriving point, carrying the last
    * point across micro-batches in `transformWithState` value state.
    */
  def derivative(src: Dataset[Point]): Dataset[Point] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new PointFoldProcessor[LastPoint]("last",
        // (t, v) order, matching batch Derive.lagWindow's tie-break:
        // duplicate-t rows folded in arrival order would diverge from the
        // batch path on exactly the inputs the tie-break exists for
        Encoders.product[LastPoint], p => (p.t.getTime, p.v)) {
      def fold(key: String, p: Point, prev: Option[LastPoint]) =
        CoreFolds.derivativeFold(key, p, prev)
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** [[derivative]] under bounded-skew delivery, as ONE stateful
    * operator: rows buffer in ListState, drain at the watermark in
    * (t, v) order — exactly the in-order feed the fold is pinned
    * against — and fold inside the same processor (state = buffered
    * rows + the fold's LastPoint). Replaces the two-stateful-op chain
    * reorderBuffer → derivative (kept as the test reference,
    * `graft.streaming.ReorderBuffers` in test scope): one shuffle and one
    * state-store commit per partition per micro-batch instead of two (the
    * drv_derivative_stream_skewed bench row; numbers in
    * OPTIMIZATION_r17.md). Same safety inequality as that chain's
    * reorderBuffer: maxDelay must exceed 2× the feed's jitter bound.
    */
  def derivativeSkewed(src: Dataset[Point], maxDelay: String)
      : Dataset[Point] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new StatefulProcessor[String, Point, Point] {
      @transient private var buf: ListState[Point] = _
      @transient private var state: ValueState[LastPoint] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        buf = getHandle.getListState[Point]("reorder",
          Encoders.product[Point], TTLConfig.NONE)
        state = getHandle.getValueState[LastPoint]("last",
          Encoders.product[LastPoint], TTLConfig.NONE)
      }
      private def drain(key: String, wmMs: Long): Iterator[Point] = {
        val all = buf.get().toSeq
        val (due, hold) = all.partition(_.t.getTime <= wmMs)
        buf.clear()
        if (hold.nonEmpty) {
          buf.appendList(hold.toArray)
          getHandle.listTimers().foreach(getHandle.deleteTimer)
          getHandle.registerTimer(hold.map(_.t.getTime).min)
        } else getHandle.listTimers().foreach(getHandle.deleteTimer)
        if (due.isEmpty) Iterator.empty
        else {
          var prev = if (state.exists()) Some(state.get()) else None
          val out = due.sortBy(p => (p.t.getTime, p.v)).flatMap { p =>
            val (emit, next) = CoreFolds.derivativeFold(key, p, prev)
            prev = Some(next)
            emit
          }
          prev.foreach(state.update)
          out.iterator
        }
      }
      override def handleInputRows(key: String, rows: Iterator[Point],
          timerValues: TimerValues): Iterator[Point] = {
        buf.appendList(rows.toArray)
        drain(key, timerValues.getCurrentWatermarkInMs())
      }
      override def handleExpiredTimer(key: String, timerValues: TimerValues,
          expired: ExpiredTimerInfo): Iterator[Point] =
        drain(key, timerValues.getCurrentWatermarkInMs())
    }
    src.withWatermark("t", maxDelay)
      .groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stateful streaming V3 `counter_reset`: emit 1 wherever a
    * monotonically-increasing counter decreased — the O(1)-state twin
    * of [[graft.operators.Derive.counterReset]] (same predicate, no
    * time condition), carrying the last point across micro-batches.
    */
  def counterReset(src: Dataset[Point]): Dataset[Point] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new PointFoldProcessor[LastPoint]("last",
        Encoders.product[LastPoint], p => (p.t.getTime, p.v)) {
      def fold(key: String, p: Point, prev: Option[LastPoint]) = {
        val emit = prev.collect {
          case LastPoint(_, lv) if p.v < lv => Point(key, p.t, 1.0)
        }
        (emit, LastPoint(p.t.getTime, p.v))
      }
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** Stateful streaming V4 `counter_derivative` (wrap-aware rate). */
  def counterDerivative(src: Dataset[Point], maxValue: Option[Double])
      : Dataset[Point] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new PointFoldProcessor[LastPoint]("last",
        // (t, v) tie-break ≡ batch lagWindow (see derivative above)
        Encoders.product[LastPoint], p => (p.t.getTime, p.v)) {
      def fold(key: String, p: Point, prev: Option[LastPoint]) = {
        val sec = Math.floorDiv(p.t.getTime, 1000L)
        val emit = prev.flatMap {
          case LastPoint(lt, lv) if Math.floorDiv(lt, 1000L) != sec =>
            val dt = sec - Math.floorDiv(lt, 1000L)
            if (p.v >= lv) Some(Point(key, p.t, (p.v - lv) / dt))
            else maxValue.map(m => Point(key, p.t, (m - lv + p.v) / dt))
          case _ => None
        }
        (emit, LastPoint(p.t.getTime, p.v))
      }
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** A reset event on a stream (the second input of the two-stream V4). */
  case class ResetEvent(stream_id: String, t: Timestamp)

  /** Union row of the two V4 inputs; reset rows carry v = 0 (unused).
    * (private[graft], not private: Spark codegen instantiates the
    * encoder's deserialized class reflectively — object-private compiles
    * to bytecode janino cannot reference.)
    */
  private[graft] case class TaggedPoint(stream_id: String, t: Timestamp,
      v: Double, is_reset: Boolean)

  /** Two-input V4 state: last SOURCE point (reset rows never become the
    * lag baseline, matching the batch op's ignoreNulls lag), the latest
    * APPLIED reset time, and the buffered not-yet-applied reset times
    * (resets may be delivered ahead of the source rows they precede; a
    * pending reset applies once a source row at or past its timestamp
    * folds). Sentinel Long.MinValue = "none yet". Times are epoch millis.
    */
  private[graft] case class CounterResetState(prevT: Long, prevV: Double,
      lastResetT: Long, pending: Seq[Long])

  /** Stateful streaming V4 `counter_derivative` with a LIVE reset stream
    * — the composed two-input twin of the batch
    * [[graft.operators.Derive.counterDerivative]] with `reset = Some(_)`:
    * measurement and reset streams UNION into one keyed fold (the same
    * one-shuffle shape as the batch union + running-max core, never a
    * stream-stream join — reset state is one timestamp per stream, not a
    * buffered interval window), and an interval whose baseline point
    * predates the latest reset is suppressed instead of emitted.
    *
    * Semantics, bit-matching the batch core (StreamingSpec pins
    * batch≡streaming on a wrapping counter with mid-stream resets):
    *  - rows fold in (t, reset-first, v) order within each micro-batch —
    *    a reset at EXACTLY a source row's timestamp suppresses the
    *    interval ending at that row (the batch `is_reset DESC` tie rule);
    *  - a source row emits iff a previous source point exists, they fall
    *    in different floor-seconds, and no reset landed strictly after
    *    that previous point (`lastResetT <= prevT`);
    *  - delta: v >= prev ⇒ v − prev; wrapped ⇒ (m − prev) + v with
    *    maxValue m, skipped without one;
    *  - EVERY source row becomes the new baseline, emitted or not.
    *
    * Cross-micro-batch delivery contract (the two-stream refinement of
    * the other twins' per-key in-order rule): each input is in-order per
    * key, SOURCE rows never run ahead of unfolded earlier rows, and a
    * reset may arrive EARLY — in an earlier micro-batch than source rows
    * it precedes in event time — but never LATE (after a source row with
    * a later-or-equal timestamp has folded). Early resets buffer in
    * per-stream state and apply by timestamp as source rows fold, so the
    * output is exactly the batch op's under any such delivery; a replay
    * feeds each common time slice resets-first (the gate query does).
    * Early-not-late is the natural contract: micro-batch sources pick up
    * the two streams' blocks at independent trigger boundaries, so
    * same-slice rows can land in either order — enqueueing the reset
    * feed first makes "early" the only possible skew. State is O(1 +
    * pending resets) per stream.
    *
    * API note: this twin folds through `flatMapGroupsWithState`, not the
    * siblings' `transformWithState` (the two-child union makes the v2
    * operator's per-run grouping deliver a key's rows in more than one
    * handleInputRows call; the classic API sort-merges them).
    */
  def counterDerivativeWithResets(src: Dataset[Point],
      resets: Dataset[ResetEvent], maxValue: Option[Double])
      : Dataset[Point] = {
    import src.sparkSession.implicits._
    val none = Long.MinValue
    val tagged = src.map(p => TaggedPoint(p.stream_id, p.t, p.v, is_reset = false))
      .unionByName(resets.map(r =>
        TaggedPoint(r.stream_id, r.t, 0.0, is_reset = true)))
    def fold(key: String, rows: Iterator[TaggedPoint],
        gs: org.apache.spark.sql.streaming.GroupState[CounterResetState])
        : Iterator[Point] = {
      // (t, !is_reset, v): false < true puts reset rows FIRST at a tied
      // timestamp ≡ the batch core's (t, is_reset DESC, v) sort
      val sorted = rows.toSeq.sortBy(p => (p.t.getTime, !p.is_reset, p.v))
      val st0 = gs.getOption.getOrElse(CounterResetState(none, 0.0, none, Nil))
      val (out, st1) = CoreFolds.foldCounterReset(key, sorted, st0, maxValue)
      gs.update(st1)
      out.iterator
    }
    tagged.groupByKey(_.stream_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(fold)
  }

  /** Serializable holder for the fold cores shared between each
    * chained twin and its fused skewed lane: a closure that called
    * these as `Streaming.foldX` would capture the (non-serializable)
    * enclosing object and fail task serialization — the holder object
    * is the closure's only capture.
    */
  private[graft] object CoreFolds extends Serializable {

  /** The V2 per-point fold body, shared verbatim by [[derivative]] and
    * the one-stateful-op skewed lane [[derivativeSkewed]] so the two can
    * never drift: compare/divide on floor-second resolution like the
    * batch path (sub-second pairs dropped, never divided by 0).
    */
  def derivativeFold(key: String, p: Point,
      prev: Option[LastPoint]): (Option[Point], LastPoint) = {
    val sec = Math.floorDiv(p.t.getTime, 1000L)
    val emit = prev.collect {
      case LastPoint(lt, lv) if Math.floorDiv(lt, 1000L) != sec =>
        Point(key, p.t, (p.v - lv) / (sec - Math.floorDiv(lt, 1000L)))
    }
    (emit, LastPoint(p.t.getTime, p.v))
  }

  /** The V4 counter-reset core over one key's IN-ORDER slice of tagged
    * rows: `sorted` must be (t, reset-first, v) ordered. Shared verbatim
    * by [[counterDerivativeWithResets]] and the one-stateful-op skewed
    * lane [[counterDerivativeWithResetsSkewed]] so the two folds can
    * never drift. Returns the emitted points and the advanced state.
    */
  def foldCounterReset(key: String, sorted: Seq[TaggedPoint],
      st0: CounterResetState, maxValue: Option[Double])
      : (Seq[Point], CounterResetState) = {
    val none = Long.MinValue
    var st = st0
    var pending = st.pending
    val out = sorted.flatMap { p =>
      if (p.is_reset) {
        pending = pending :+ p.t.getTime
        None
      } else {
        val tMs = p.t.getTime
        // apply every buffered reset at or before this row (<= = the
        // reset-first tie rule: a reset ON this timestamp suppresses
        // the interval ending here)
        val (due, later) = pending.partition(_ <= tMs)
        if (due.nonEmpty)
          st = st.copy(lastResetT = math.max(st.lastResetT, due.max))
        pending = later
        val sec = Math.floorDiv(tMs, 1000L)
        val emit =
          if (st.prevT == none) None
          else {
            val prevSec = Math.floorDiv(st.prevT, 1000L)
            val suppressed =
              st.lastResetT != none && st.lastResetT > st.prevT
            if (prevSec == sec || suppressed) None
            else {
              val dt = sec - prevSec
              if (p.v >= st.prevV)
                Some(Point(key, p.t, (p.v - st.prevV) / dt))
              else maxValue.map(m =>
                Point(key, p.t, (m - st.prevV + p.v) / dt))
            }
          }
        st = st.copy(prevT = tMs, prevV = p.v)
        emit
      }
    }
    (out, st.copy(pending = pending))
  }

  /** One drain of the fused skewed V4 buffer ([[counterDerivativeWithResetsSkewed]]):
    * buffered rows with t < `wmMs` release into [[foldCounterReset]] in
    * (t, reset-first, v) order; the rest stay held. Strict `<`: late rows
    * are dropped against the PREVIOUS batch's watermark but drain
    * against the current one, so a row with t == watermark can be due on
    * arrival — and a union-fed operator may hand a key's rows to
    * handleInputRows in more than one call per micro-batch. Holding it
    * one more drain lets a same-t reset from a later call of the batch
    * still fold first. Returns (emitted, held, state after the fold).
    */
  def drainCounterReset(key: String, buffered: Seq[TaggedPoint],
      st0: CounterResetState, wmMs: Long, maxValue: Option[Double])
      : (Seq[Point], Seq[TaggedPoint], CounterResetState) = {
    val (due, hold) = buffered.partition(_.t.getTime < wmMs)
    val (out, st1) = foldCounterReset(key,
      due.sortBy(p => (p.t.getTime, !p.is_reset, p.v)), st0, maxValue)
    (out, hold, st1)
  }
  } // CoreFolds

  /** [[counterDerivativeWithResets]] under bounded-skew delivery on BOTH
    * feeds, as ONE stateful operator: the feeds tag-union FIRST, a single
    * shared event-time reorder buffer holds the union, and due rows drain
    * at the watermark straight into the V4 fold inside the same processor
    * (state = buffered rows + the fold's CounterResetState). This replaces
    * the three-stateful-op chain reorderBuffer ×2 → fold (the test
    * reference `graft.streaming.ReorderBuffers`) — one shuffle and
    * one state-store commit per partition per micro-batch instead of three
    * (the drv_counter_derivative_stream_skewed bench row; numbers in
    * OPTIMIZATION_r17.md).
    *
    * Equivalence (StreamingSpec pins unified ≡ chained bit-equal on the
    * skewed replay, and the gate shares the batch oracle): the shared
    * buffer releases each key's due rows in (t, reset-first, v) order —
    * exactly the in-order feed the fold is pinned against — and the
    * early-not-late reset contract is mechanical: a reset with
    * t_r <= t_s drains in the same-or-earlier drain as that source row
    * (both release once wm > their t — strict, so a reset ON the
    * watermark that arrives in a later call of the same micro-batch
    * still precedes its same-t source row; see
    * [[CoreFolds.drainCounterReset]]).
    *
    * Watermark shape: each feed keeps its OWN EventTimeWatermark node
    * BEFORE the union, so the operator's watermark is the min-policy
    * combination — exactly the chained twin's. A single post-union
    * node would take the MAX over both feeds' seen events, and a
    * sparse reset feed whose micro-batch slices run ahead in EVENT
    * time (the gate replay's count-based thirds do) would advance the
    * watermark past in-flight source rows and silently drop them —
    * observed: 46 of 70 rows survived on the StreamingSpec fixture.
    * Per-feed safety inequality unchanged: arrival trails the feed's
    * OWN max event time by <= 2×jitter < maxDelay.
    */
  def counterDerivativeWithResetsSkewed(src: Dataset[Point],
      resets: Dataset[ResetEvent], maxDelay: String,
      maxValue: Option[Double]): Dataset[Point] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val none = Long.MinValue
    val tagged = src
      .map(p => TaggedPoint(p.stream_id, p.t, p.v, is_reset = false))
      .withWatermark("t", maxDelay)
      .unionByName(resets
        .map(r => TaggedPoint(r.stream_id, r.t, 0.0, is_reset = true))
        .withWatermark("t", maxDelay))
    val proc = new StatefulProcessor[String, TaggedPoint, Point] {
      @transient private var buf: ListState[TaggedPoint] = _
      @transient private var fst: ValueState[CounterResetState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        buf = getHandle.getListState[TaggedPoint]("reorder",
          Encoders.product[TaggedPoint], TTLConfig.NONE)
        fst = getHandle.getValueState[CounterResetState]("fold",
          Encoders.product[CounterResetState], TTLConfig.NONE)
      }
      private def drain(key: String, wmMs: Long): Iterator[Point] = {
        val all = buf.get().toSeq
        val st0 =
          if (fst.exists()) fst.get()
          else CounterResetState(none, 0.0, none, Nil)
        val (out, hold, st1) =
          CoreFolds.drainCounterReset(key, all, st0, wmMs, maxValue)
        buf.clear()
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        if (hold.nonEmpty) {
          buf.appendList(hold.toArray)
          // one armed timer 1 ms past the earliest held row (the
          // reorderBuffer discipline): fires once the watermark passes
          // it even if this key never sees another row. Not AT the row:
          // under the strict release rule that timer could fire at
          // wm == t, release nothing, and take the re-armed timer (same
          // key and time) with it when the fired one is deleted
          getHandle.registerTimer(hold.map(_.t.getTime).min + 1L)
        }
        if (hold.size < all.size) fst.update(st1)
        out.iterator
      }
      override def handleInputRows(key: String, rows: Iterator[TaggedPoint],
          timerValues: TimerValues): Iterator[Point] = {
        buf.appendList(rows.toArray)
        drain(key, timerValues.getCurrentWatermarkInMs())
      }
      override def handleExpiredTimer(key: String, timerValues: TimerValues,
          expired: ExpiredTimerInfo): Iterator[Point] =
        drain(key, timerValues.getCurrentWatermarkInMs())
    }
    tagged.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.EventTime(), OutputMode.Append())
  }

  /** One emitted gap-fill row (real closed hour or filled gap hour). */
  case class GapRow(stream_id: String, hr: Long, filled: Double,
      is_gap: Boolean)

  /** Gap-fill fold state: the OPEN hour's partial mean. Sentinel
    * curHr = Long.MinValue = no hour open yet. */
  private[streaming] case class GapFillState(curHr: Long, sum: Double,
      cnt: Long)

  /** Streaming forward-fill gap detection — the in-flight variant of
    * the ds_gapfill_hours batch lane: per stream, each CLOSED hour
    * emits its rounded mean, and when a new point skips hours the
    * intervening grid rows emit immediately with the last closed mean
    * carried forward (`is_gap = true`). An hour closes when the first
    * point of a LATER hour arrives, so the final (still-open) hour of
    * each stream never emits — exactly the batch grid minus each
    * stream's last hour, which is what the gate oracle pins (the batch
    * SQL with an end-exclusive grid). State is O(1) per stream: the
    * open hour's (sum, count). Per-key in-order delivery, like every
    * derive twin; mean rounding replicates Spark `round` (HALF_UP) so
    * ordered replay equals the batch op bit-for-bit.
    */
  def gapFillHours(src: Dataset[Point]): Dataset[GapRow] = {
    import src.sparkSession.implicits._
    val none = Long.MinValue
    def close(sum: Double, cnt: Long): Double =
      BigDecimal(sum / cnt)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    def fold(key: String, rows: Iterator[Point],
        gs: org.apache.spark.sql.streaming.GroupState[GapFillState])
        : Iterator[GapRow] = {
      val sorted = rows.toSeq.sortBy(p => (p.t.getTime, p.v))
      var st = gs.getOption.getOrElse(GapFillState(none, 0.0, 0L))
      val out = Seq.newBuilder[GapRow]
      sorted.foreach { p =>
        val hr = Math.floorDiv(Math.floorDiv(p.t.getTime, 1000L), 3600L)
        if (st.curHr == none || hr == st.curHr)
          st = GapFillState(hr, st.sum + p.v, st.cnt + 1)
        else if (hr > st.curHr) {
          val m = close(st.sum, st.cnt)
          out += GapRow(key, st.curHr, m, is_gap = false)
          var g = st.curHr + 1
          while (g < hr) { out += GapRow(key, g, m, is_gap = true); g += 1 }
          st = GapFillState(hr, p.v, 1L)
        }
        // hr < curHr would be out-of-order delivery — contract-excluded
      }
      gs.update(st)
      out.result().iterator
    }
    src.groupByKey(_.stream_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(fold)
  }

  /** EWMA state: the running smoothed value of one stream. */
  case class EwmaState(value: Double)

  /** Stateful streaming EWMA — the O(1)-state smoother the batch
    * [[graft.operators.Derive.ewma]] bounded-history guard points at:
    * `ewma_i = α·v_i + (1−α)·ewma_{i−1}`, state one double per stream
    * regardless of history length. Rows sort by (t, v) within each
    * micro-batch like the batch path's global sort, so in-order delivery
    * reproduces the batch output exactly (asserted in StreamingSpec).
    */
  def ewma(src: Dataset[Point], alpha: Double): Dataset[Point] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new PointFoldProcessor[EwmaState]("ewma",
        Encoders.product[EwmaState], p => (p.t.getTime, p.v)) {
      def fold(key: String, p: Point, prev: Option[EwmaState]) = {
        val next = prev.fold(p.v)(s => alpha * p.v + (1 - alpha) * s.value)
        (Some(Point(key, p.t, next)), EwmaState(next))
      }
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** One detected silence outage on a stream. */
  case class Outage(stream_id: String, outage_start: Timestamp,
      outage_end: Timestamp, outage_sec: Long)

  /** Streaming OUTAGE detection — the in-flight view of the batch
    * ds_downtime summary: when a point arrives more than `gapSec`
    * seconds (floor-second resolution, exact integers) after its
    * stream's previous point, the silence interval emits immediately as
    * an [[Outage]] event — the alerting shape; the batch lane's
    * per-stream summary is exactly the aggregate of these events (the
    * gate query pins that against ds_downtime's oracle verbatim). An
    * outage is only knowable when the NEXT point arrives, matching the
    * batch lag semantics — a currently-silent stream has no emission
    * (that live view is ds_staleness' job). State is one (t, v) pair
    * per stream; per-key in-order delivery as everywhere.
    */
  def downtime(src: Dataset[Point], gapSec: Long = 3600)
      : Dataset[Outage] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new StatefulProcessor[String, Point, Outage] {
      @transient private var state: ValueState[LastPoint] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[LastPoint]("last",
          Encoders.product[LastPoint], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[Point],
          timerValues: TimerValues): Iterator[Outage] = {
        val sorted = rows.toSeq.sortBy(p => (p.t.getTime, p.v))
        var prev = if (state.exists()) Some(state.get()) else None
        val out = sorted.flatMap { p =>
          val sec = Math.floorDiv(p.t.getTime, 1000L)
          val emit = prev.collect {
            case LastPoint(lt, _)
                if sec - Math.floorDiv(lt, 1000L) > gapSec =>
              Outage(key, new Timestamp(lt), p.t,
                sec - Math.floorDiv(lt, 1000L))
          }
          prev = Some(LastPoint(p.t.getTime, p.v))
          emit
        }
        prev.foreach(state.update)
        out.iterator
      }
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** One Holt smoother snapshot: the stream's state after this point. */
  case class HoltRow(stream_id: String, t: Timestamp, level: Double,
      trend: Double)

  private[streaming] case class HoltState(level: Double, trend: Double)

  /** Stateful streaming Holt (level + trend) — the O(1)-state twin of
    * [[graft.operators.Derive.holt]]: two doubles per stream, identical
    * fold arithmetic (the bt term recomputes lt inline exactly like the
    * batch fold and the oracle lambda), per-batch rows sorted (t, v)
    * like every derive twin. Emits the refreshed (level, trend) after
    * each point; the latest row per stream is the live forecast state.
    * In-order delivery reproduces the batch op bit-for-bit (pinned in
    * StreamingSpec).
    */
  def holt(src: Dataset[Point], alpha: Double, beta: Double)
      : Dataset[HoltRow] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new StatefulProcessor[String, Point, HoltRow] {
      @transient private var state: ValueState[HoltState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[HoltState]("holt",
          Encoders.product[HoltState], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[Point],
          timerValues: TimerValues): Iterator[HoltRow] = {
        val sorted = rows.toSeq.sortBy(p => (p.t.getTime, p.v))
        var st = if (state.exists()) Some(state.get()) else None
        val out = sorted.map { p =>
          st = st match {
            case None => Some(HoltState(p.v, 0.0))
            case Some(HoltState(l, b)) =>
              val lt = alpha * p.v + (1 - alpha) * (l + b)
              Some(HoltState(lt, beta * (lt - l) + (1 - beta) * b))
          }
          HoltRow(key, p.t, st.get.level, st.get.trend)
        }
        st.foreach(state.update)
        out.iterator
      }
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** One Holt–Winters snapshot: state + 1-step forecast after a point. */
  case class HwRow(stream_id: String, t: Timestamp, level: Double,
      trend: Double, forecast_1: Double)

  private[streaming] case class HwState(level: Double, trend: Double,
      ring: Seq[Double], n: Long)

  /** Stateful streaming additive Holt–Winters — the O(period)-state
    * twin of [[graft.operators.Derive.holtWinters]]: level + trend +
    * the seasonal ring per stream, identical fold arithmetic
    * (zero-init ring, lt recomputed inline in the bt/ring terms), rows
    * sorted (t, v) per batch like every derive twin. Emits the
    * refreshed state and 1-step forecast after each point; the latest
    * row per stream is the live forecast. In-order delivery reproduces
    * the batch op bit-for-bit (StreamingSpec).
    */
  def holtWinters(src: Dataset[Point], alpha: Double, beta: Double,
      gamma: Double, period: Int): Dataset[HwRow] = {
    require(period >= 2, "period must be >= 2")
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new StatefulProcessor[String, Point, HwRow] {
      @transient private var state: ValueState[HwState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[HwState]("hw",
          Encoders.product[HwState], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[Point],
          timerValues: TimerValues): Iterator[HwRow] = {
        val sorted = rows.toSeq.sortBy(p => (p.t.getTime, p.v))
        var st = if (state.exists()) Some(state.get()) else None
        val out = sorted.map { p =>
          st = st match {
            case None =>
              Some(HwState(p.v, 0.0, Seq.fill(period)(0.0), 1L))
            case Some(HwState(l, b, ring, n)) =>
              val ph = (n % period).toInt
              val sOld = ring(ph)
              val lt = alpha * (p.v - sOld) + (1 - alpha) * (l + b)
              val bt = beta * (lt - l) + (1 - beta) * b
              Some(HwState(lt, bt,
                ring.updated(ph, gamma * (p.v - lt) + (1 - gamma) * sOld),
                n + 1))
          }
          val cur = st.get
          HwRow(key, p.t, cur.level, cur.trend,
            cur.level + cur.trend + cur.ring((cur.n % period).toInt))
        }
        st.foreach(state.update)
        out.iterator
      }
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** Per-(stream, lag) ACF sufficient statistics — mirrors the batch
    * [[graft.operators.Temporal.autocorr]] integer sums exactly.
    */
  case class AcfStat(stream_id: String, lag: Int, n_pairs: Long,
      c_fp: Long, sa_fp: Long, sb_fp: Long, sqa_fp: Long, sqb_fp: Long)

  /** ACF maintenance state: the last `maxLag` quantized values (most
    * recent LAST) plus the running sums per lag, flattened lag-major in
    * the same (n, c, sa, sb, sqa, sqb) order the batch op aggregates.
    */
  case class AcfState(ring: Seq[Long], sums: Seq[Long])

  /** Streaming lag-k autocorrelation maintenance — the incremental form
    * of the batch [[graft.operators.Temporal.autocorr]]: state per stream
    * is a `max(lags)`-deep ring of quantized values plus 6 integer sums
    * per lag — O(maxLag) regardless of history length, the only ACF
    * shape that survives an unbounded stream. Because the sufficient
    * statistics are BIGINT fixed-point sums (associative, order-fixed by
    * the same (t, v) in-batch sort as the other derive ops), in-order
    * delivery reproduces the batch op's statistics EXACTLY — pinned in
    * StreamingSpec.
    *
    * Emits the refreshed per-lag statistics rows for each key once per
    * micro-batch (the "current ACF" snapshot a monitoring sink wants);
    * the latest row per (stream, lag) is the live value.
    */
  def autocorrStats(src: Dataset[Point], lags: Seq[Int]): Dataset[AcfStat] = {
    require(lags.nonEmpty && lags.forall(_ > 0), "lags must be positive")
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val maxLag = lags.max
    val proc = new StatefulProcessor[String, Point, AcfStat] {
      @transient private var state: ValueState[AcfState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[AcfState]("acf",
          Encoders.product[AcfState], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[Point],
          timerValues: TimerValues): Iterator[AcfStat] = {
        val sorted = rows.toSeq.sortBy(p => (p.t.getTime, p.v))
        val st = if (state.exists()) state.get()
          else AcfState(Seq.empty, Seq.fill(lags.length * 6)(0L))
        val ring = scala.collection.mutable.ArrayBuffer(st.ring: _*)
        val sums = st.sums.toArray
        sorted.foreach { p =>
          val q = math.floor(p.v * 1000.0).toLong
          var li = 0
          while (li < lags.length) {
            val k = lags(li)
            if (ring.length >= k) {
              val a = ring(ring.length - k) // value k steps earlier
              val o = li * 6
              sums(o) += 1L        // n_pairs
              sums(o + 1) += a * q // c  = Σ q_i·q_{i+k}
              sums(o + 2) += a     // sa = Σ earlier
              sums(o + 3) += q     // sb = Σ later
              sums(o + 4) += a * a // sqa
              sums(o + 5) += q * q // sqb
            }
            li += 1
          }
          ring += q
          if (ring.length > maxLag) ring.remove(0)
        }
        state.update(AcfState(ring.toSeq, sums.toSeq))
        lags.indices.iterator.map { li =>
          val o = li * 6
          AcfStat(key, lags(li), sums(o), sums(o + 1), sums(o + 2),
            sums(o + 3), sums(o + 4), sums(o + 5))
        }
      }
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** Silence alert: the stream went quiet — no event for `gap_sec`
    * seconds of EVENT time past `last_seen`. */
  case class SilenceAlert(stream_id: String, last_seen: Timestamp,
      gap_sec: Long)

  /** Silence-watch state: last-seen event time + the armed timer (0 =
    * fired, awaiting re-arm). Public: Spark's state-encoder codegen
    * needs constructor/accessor visibility (a private class silently
    * falls back to interpreted projections). */
  case class SilenceState(lastSeenMs: Long, timerMs: Long)

  /** One (group, token) observation for the streaming KMV sketch. */
  case class TokenRow(g: String, tok: String)

  /** Per-group KMV snapshot: emitted whenever a batch CHANGED the
    * sketch and the k-set is full. */
  case class KmvSnapshot(g: String, kth_hash: Long, est_floor: Long)

  /** KMV streaming state: the k smallest distinct (hash, token) pairs,
    * as parallel seqs (product-encodable). */
  private[streaming] case class KmvState(hs: Seq[Long], toks: Seq[String])

  /** Streaming K-minimum-values distinct sketch — the live twin of
    * [[graft.operators.TextStats.kmvDistinct]]'s estimator lane: state
    * per group is EXACTLY the sketch (the k smallest distinct md5-lane
    * hashes with their tokens — O(k), never the vocabulary), folding is
    * a commutative-monoid merge (take-k-smallest of a union), so ANY
    * delivery order and ANY batch split — duplicates included — yields
    * the same final snapshot, which equals the batch op's (kth_hash,
    * est_floor) verbatim. Emits a snapshot per batch once the set is
    * full; consumers elect the final row per group as
    * `min(struct(kth_hash, est_floor))` (the sketch only improves).
    */
  def kmvDistinct(src: Dataset[TokenRow], k: Int): Dataset[KmvSnapshot] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val hConst = 1.152921504606846976e18 // 2^60, exact in double
    val proc = new StatefulProcessor[String, TokenRow, KmvSnapshot] {
      @transient private var state: ValueState[KmvState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[KmvState]("kmv",
          Encoders.product[KmvState], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[TokenRow],
          timerValues: TimerValues): Iterator[KmvSnapshot] = {
        val cur =
          if (state.exists()) {
            val s = state.get(); s.hs.zip(s.toks)
          } else Seq.empty[(Long, String)]
        val merged = (cur ++ rows.map(r => (md5Hash60(r.tok), r.tok)))
          .distinct.sorted.take(k)
        if (merged == cur) Iterator.empty
        else {
          state.update(KmvState(merged.map(_._1), merged.map(_._2)))
          if (merged.size < k) Iterator.empty
          else {
            val kth = merged.last._1
            Iterator.single(KmvSnapshot(key, kth,
              math.floor((k - 1).toDouble * hConst / kth.toDouble).toLong))
          }
        }
      }
    }
    src.groupByKey(_.g)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** First 15 md5 hex chars as a BIGINT — MUST stay bit-equal to the
    * [[graft.functions]] Md5TokenHashes lane (first 8 digest bytes
    * big-endian, >>> 4) so the streaming sketch equals the batch op. */
  private def md5Hash60(tok: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** Dead-feed detection with EVENT-TIME TIMERS — the push-based twin of
    * the batch ds_staleness audit: per stream, a timer is (re)armed at
    * `last event + gapSec`; when the WATERMARK passes it without new
    * data, one [[SilenceAlert]] fires. This is the only shape that
    * alerts without polling: state is O(1) per stream (last-seen + one
    * armed timer), nothing scans idle streams, and the watermark — not
    * wall clock — drives expiry, so replays and live runs alert
    * identically (deterministic, testable). A new event after an alert
    * re-arms the timer, so each silence window alerts once.
    */
  def silenceAlerts(src: Dataset[Point], gapSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[SilenceAlert] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new StatefulProcessor[String, Point, SilenceAlert] {
      @transient private var state: ValueState[SilenceState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[SilenceState]("silence",
          Encoders.product[SilenceState], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[Point],
          timerValues: TimerValues): Iterator[SilenceAlert] = {
        val maxMs = rows.map(_.t.getTime).max
        val prev = if (state.exists()) Some(state.get()) else None
        val last = math.max(maxMs, prev.map(_.lastSeenMs).getOrElse(Long.MinValue))
        // re-arm: one live timer per stream
        prev.filter(_.timerMs > 0L).foreach(p => getHandle.deleteTimer(p.timerMs))
        val timer = last + gapSec * 1000L
        getHandle.registerTimer(timer)
        state.update(SilenceState(last, timer))
        Iterator.empty
      }
      override def handleExpiredTimer(key: String, timerValues: TimerValues,
          expired: ExpiredTimerInfo): Iterator[SilenceAlert] = {
        val st = state.get()
        // the timer that fired is the armed one (stale timers are deleted
        // on re-arm); leave state so a later event can re-arm
        state.update(st.copy(timerMs = 0L))
        Iterator.single(SilenceAlert(key, new Timestamp(st.lastSeenMs), gapSec))
      }
    }
    src.withWatermark("t", watermarkDelay)
      .groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.EventTime(), OutputMode.Append())
  }

  /** Burstiness snapshot row — mirrors the batch ds_burstiness columns:
    * Fano factor of per-minute event counts in exact integer bp. */
  case class BurstStat(stream_id: String, n_minutes: Long,
      total_events: Long, q_sum: Long, fano_bp: Long)

  /** Burstiness maintenance state: the in-progress minute bucket plus
    * the folded (n, Σc, Σc²) sufficient statistics over CLOSED minutes —
    * O(1) per stream regardless of history length. */
  case class BurstState(curMin: Long, curCnt: Long, n: Long, s: Long,
      q: Long)

  /** Streaming burstiness (Fano factor) maintenance — the incremental
    * twin of the ds_burstiness gate query: per stream, the per-minute
    * event counts' variance/mean ratio in exact integer basis points
    * (10000·(n·Σc² − (Σc)²) div (n·Σc)). State is one open minute bucket
    * + three BIGINT sums; snapshots emitted per key per micro-batch
    * INCLUDE the open minute (folded virtually at emit, not committed),
    * so the latest snapshot always equals the batch op over everything
    * delivered so far — bit-equal under in-order delivery, pinned in
    * StreamingSpec. Out-of-order events within the open minute are fine;
    * an event for an already-closed minute is counted into the current
    * one (monotonicity is the store's ingest gate's job, not this op's).
    */
  def burstinessStats(src: Dataset[Point]): Dataset[BurstStat] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new StatefulProcessor[String, Point, BurstStat] {
      @transient private var state: ValueState[BurstState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[BurstState]("burst",
          Encoders.product[BurstState], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[Point],
          timerValues: TimerValues): Iterator[BurstStat] = {
        val sorted = rows.toSeq.sortBy(p => (p.t.getTime, p.v))
        var st = if (state.exists()) state.get()
          else BurstState(Long.MinValue, 0L, 0L, 0L, 0L)
        sorted.foreach { p =>
          val m = Math.floorDiv(p.t.getTime / 1000L, 60L)
          if (m == st.curMin || st.curMin == Long.MinValue)
            st = st.copy(curMin = m, curCnt = st.curCnt + 1L)
          else // minute advanced: fold the closed bucket, open the new one
            st = BurstState(m, 1L, st.n + 1L, st.s + st.curCnt,
              st.q + st.curCnt * st.curCnt)
        }
        state.update(st)
        // snapshot includes the open minute
        val (n, s, q) =
          if (st.curMin == Long.MinValue) (st.n, st.s, st.q)
          else (st.n + 1L, st.s + st.curCnt,
            st.q + st.curCnt * st.curCnt)
        val fano = if (n > 0L && s > 0L) (10000L * (n * q - s * s)) / (n * s)
          else 0L
        Iterator.single(BurstStat(key, n, s, q, fano))
      }
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** One keyed event day for decayed-popularity maintenance. */
  case class KeyDay(key: String, day: Long)

  /** Decayed-popularity state/snapshot: trailing per-day event counts,
    * packed `day·10¹² + cnt` (cnt < 10¹² per key·day — comfortably above
    * any real per-type daily volume; epoch-day ~2·10⁴ keeps the pack
    * under 2·10¹⁶). `version` counts events ever seen for the key — it
    * strictly increases on every batch that touches the key, so
    * `max(struct(version, …))` elects the final snapshot on replay. */
  case class DecaySnap(key: String, version: Long, packed: Array[Long])

  /** Streaming twin of the q_decay_popularity batch op: per key, the
    * trailing `horizonDays`-day per-day event counts, pruned relative to
    * the KEY's own max day. Pruning per key is safe for a later GLOBAL
    * horizon cut: global max ≥ key max, so the global window
    * `d ≥ gmax − horizon` is a subset of the kept `d ≥ kmax − horizon`
    * — the reader applies the final global cut and the power-of-2
    * weights (`2^(horizon − age)`, exact BIGINTs) batch-side, which is
    * what lets the gate query share q_decay_popularity's oracle SQL
    * verbatim. State is O(horizon) integers per key. */
  def decayPopularity(src: Dataset[KeyDay],
      horizonDays: Int = 30): Dataset[DecaySnap] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val PACK = 1000000000000L
    val proc = new StatefulProcessor[String, KeyDay, DecaySnap] {
      @transient private var state: ValueState[DecaySnap] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[DecaySnap]("decay",
          Encoders.product[DecaySnap], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[KeyDay],
          timerValues: TimerValues): Iterator[DecaySnap] = {
        val prev = if (state.exists()) state.get()
          else DecaySnap(key, 0L, Array.empty[Long])
        var m = prev.packed.iterator
          .map(p => (p / PACK) -> (p % PACK)).toMap
        var n = prev.version
        rows.foreach { r =>
          m = m.updated(r.day, m.getOrElse(r.day, 0L) + 1L); n += 1L
        }
        val maxDay = m.keysIterator.max
        m = m.filter { case (d, _) => d >= maxDay - horizonDays }
        val snap = DecaySnap(key, n,
          m.toArray.sortBy(_._1).map { case (d, c) =>
            // pack invariants enforced, not assumed: a count reaching
            // 10¹² or a day outside the pack's headroom (negative, or
            // ≥ ~9.2·10⁶ ≈ year 27k) would silently corrupt the packed
            // snapshot and every downstream horizon cut — fail loudly
            require(c < PACK, s"decayPopularity: per-day count $c for " +
              s"key=$key day=$d overflows the $PACK pack")
            require(d >= 0 && d < Long.MaxValue / PACK,
              s"decayPopularity: epoch-day $d outside pack headroom")
            d * PACK + c
          })
        state.update(snap)
        Iterator.single(snap)
      }
    }
    src.groupByKey(_.key)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** Per-point CUSUM output row (fixed-point milli-units). */
  case class CusumPoint(stream_id: String, t: Timestamp, q_fp: Long,
      s_plus_fp: Long, s_minus_fp: Long, alarm: Boolean)

  /** CUSUM state: prefix sum of deviations + its running min/max. The
    * min/max initialize at 0 — the empty prefix the closed form's
    * `min(0, …)` term represents. */
  case class CusumState(p: Long, minP: Long, maxP: Long)

  /** Streaming two-sided CUSUM drift detector — O(1) integer state per
    * stream (prefix sum + running min/max), emitting per point the same
    * `S⁺ = P − min(0, min P)` / `S⁻ = max(0, max P) − P` closed form the
    * batch [[graft.operators.Temporal.cusumPoints]] computes with window
    * functions — bit-equal under in-order delivery (StreamingSpec).
    * `targetFp`/`thresholdFp` in fixed-point milli-units; streaming needs
    * the target up front (a global mean doesn't exist mid-stream).
    */
  def cusum(src: Dataset[Point], targetFp: Long,
      thresholdFp: Long): Dataset[CusumPoint] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new StatefulProcessor[String, Point, CusumPoint] {
      @transient private var state: ValueState[CusumState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[CusumState]("cusum",
          Encoders.product[CusumState], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[Point],
          timerValues: TimerValues): Iterator[CusumPoint] = {
        val sorted = rows.toSeq.sortBy(p => (p.t.getTime, p.v))
        var st = if (state.exists()) state.get() else CusumState(0L, 0L, 0L)
        val out = sorted.map { pt =>
          val q = math.floor(pt.v * 1000.0).toLong
          val p = st.p + (q - targetFp)
          st = CusumState(p, math.min(st.minP, p), math.max(st.maxP, p))
          val sPlus = p - st.minP
          val sMinus = st.maxP - p
          CusumPoint(key, pt.t, q, sPlus, sMinus,
            sPlus > thresholdFp || sMinus > thresholdFp)
        }
        state.update(st)
        out.iterator
      }
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** Streaming gap-based sessionization — the incremental form of the
    * batch q_sessionize (lag + running-sum) shape: Spark's native
    * `session_window` merges per-key events within `gap` of each other;
    * Append mode emits a session once the watermark passes its end (the
    * same closed-session rule as the batch formulation over complete
    * data). State is one open session per key, watermark-bounded. Output:
    * (stream_id, sess_start, sess_end, n_events, v_sum).
    */
  def sessionize(src: DataFrame, gap: String,
      watermarkDelay: String = "0 seconds"): DataFrame =
    src.withWatermark("t", watermarkDelay)
      .groupBy(col("stream_id"), session_window(col("t"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("v_sum"))
      .select(col("stream_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"), col("v_sum"))

  /** Outcome of the streaming monotonicity gate for one point. */
  case class GatedPoint(stream_id: String, t: Timestamp, v: Double,
      accepted: Boolean)

  /** The reference's `check_timestamp=True` in streaming form: per-stream
    * stateful gate that marks points older than the stream's last accepted
    * timestamp. A streaming job cannot raise per-row [[graft.model.InvalidTimestamp]]
    * usefully, so violations are FLAGGED (route `accepted=false` rows to a
    * dead-letter sink, or filter them) while the state only advances on
    * accepted rows — identical acceptance set to the batch check.
    */
  def monotonicityGate(src: Dataset[Point]): Dataset[GatedPoint] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new StatefulProcessor[String, Point, GatedPoint] {
      @transient private var state: ValueState[LastPoint] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[LastPoint]("last",
          Encoders.product[LastPoint], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[Point],
          timerValues: TimerValues): Iterator[GatedPoint] = {
        val sorted = rows.toSeq.sortBy(_.t.getTime)
        var lastT =
          if (state.exists()) state.get().t else Long.MinValue
        val out = sorted.map { p =>
          val ok = p.t.getTime >= lastT
          if (ok) lastT = p.t.getTime
          GatedPoint(key, p.t, p.v, ok)
        }
        state.update(LastPoint(lastT, 0.0))
        out.iterator
      }
    }
    src.groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.None(), OutputMode.Append())
  }

  /** Streaming ingestion into a [[graft.core.Datastream]] store: each
    * micro-batch is bulk-appended (which also recomputes dependent derived
    * streams), then the rollup ladder advances to the batch's max t.
    *
    * Idempotency under foreachBatch's at-least-once re-delivery:
    * `dedupExisting=true` drops rows whose exact (stream_id, rounded t,
    * value) already exist in the store, so a retried micro-batch never
    * double-appends the raw level while a genuinely new value landing in
    * an already-seen second still appends (matching the batch path); the
    * rollup ladder is high-water-mark guarded and derived recomputes are
    * full overwrites. Residual caveat: a legitimately duplicated identical
    * datapoint arriving in a LATER batch is indistinguishable from a
    * retry and is dropped.
    *
    * Every append writes one file per touched leaf partition, so an
    * unbounded ingest fragments the store linearly in batch count;
    * `compactEvery = n` runs the selective [[graft.core.Datastream.compactStore]]
    * after every n-th non-empty batch (cost ∝ fragmentation, and reads
    * stay correct throughout via the crash-safe leaf swap), keeping
    * per-leaf file counts bounded without an external maintenance
    * scheduler. 0 disables it for deployments that schedule compaction
    * off-peak themselves.
    */
  def ingest(src: DataFrame, store: graft.core.Datastream,
      checkTimestamp: Boolean = false, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // foreachBatch closures must not capture mutable local state across
    // restarts — the counter is advisory cadence only, so a restart
    // resetting it is harmless
    val sinceCompact = new java.util.concurrent.atomic.AtomicInteger(0)
    src.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val res = store.appendMultiple(batch, checkTimestamp, dedupExisting = true)
          // a fully-deduped re-delivery wrote nothing: the store did not
          // change, so the ladder advance and the compaction cadence are
          // pure fixed overhead — skip both (appendMultiple already
          // healed any crash-stale derived stream). maxT comes from the
          // append's own bounds aggregation, not a second max(t) job.
          if (res.written > 0) {
            res.maxT.foreach(hi => store.downsampleStreams(hi))
            if (compactEvery > 0 &&
                sinceCompact.incrementAndGet() >= compactEvery) {
              sinceCompact.set(0)
              // lenient: a maintenance-only rename failure must not fail
              // the data micro-batch (a skipped leaf is put back at once)
              store.compactStore(lenient = true)
            }
          }
          ()
        }
      }
  }

  /** Streaming quality routing (dead-letter pattern): every micro-batch is
    * split by `accept` into an accepted and a rejected parquet sink in ONE
    * pass — the batch is persisted so the two filtered writes don't
    * recompute the (potentially expensive) quality columns, then
    * unpersisted before the next trigger. At 100 TB ingest this is the
    * alternative to filter-and-drop: nothing is silently lost, and the
    * reject side is re-processable after a filter fix.
    *
    * Row-conservation details that make the contract real:
    *  - a NULL `accept` verdict routes to the REJECT sink (a plain
    *    `where(accept)` + `where(!accept)` pair would drop the row from
    *    both sides — three-valued logic);
    *  - both sinks are partitioned by `batch_id` and written with dynamic
    *    partition overwrite, so foreachBatch's at-least-once re-delivery
    *    replaces the batch's own partition instead of double-appending.
    */
  def routeByQuality(src: DataFrame, accept: org.apache.spark.sql.Column,
      acceptDir: String, rejectDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    src.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch
          .withColumn("_accept", coalesce(accept, lit(false)))
          .withColumn("batch_id", lit(batchId))
          .persist()
        try {
          def sink(df: DataFrame, dir: String): Unit =
            df.drop("_accept").write
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id").mode("overwrite").parquet(dir)
          sink(b.where(col("_accept")), acceptDir)
          sink(b.where(!col("_accept")), rejectDir)
        } finally { b.unpersist(); () }
      }
  }

  /** Streaming exact dedup of a document stream (the in-flight variant of
    * [[graft.operators.Dedup.exact]]): keep the first arrival of each
    * content hash, dropping later duplicates that land within the
    * watermark horizon. `dropDuplicatesWithinWatermark` bounds the hash
    * state by the watermark — a plain `dropDuplicates` would grow state
    * with corpus size, which is exactly what cannot happen on an unbounded
    * 100 TB ingest. Duplicates farther apart than the horizon are the
    * batch compaction's job (the store-and-sweep pattern).
    */
  def dedupExact(docs: DataFrame, tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      textCol: String = "text"): DataFrame =
    docs.withColumn("content_hash", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming twin of [[graft.operators.Dedup.normalized]]: exact dedup
    * on the NORMALIZED content key (lowercase, strip non-[a-z0-9 space],
    * collapse spaces, trim), so case/punctuation/whitespace variants
    * arriving in different micro-batches still collapse to one survivor.
    * Same bounded-state shape as [[dedupExact]] — the state store keeps
    * only 16-byte hashes inside the watermark.
    */
  def dedupNormalized(docs: DataFrame, tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      textCol: String = "text"): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""), " +", " "))
    docs.withColumn("content_hash", md5(norm.cast("binary")))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")
  }

  /** Resolve a streaming-dedup state subdirectory for reading, after
    * healing its state dir (a sub a crashed [[compactDedupState]] left
    * in the backup is restored), or empty. Rows of batches >=
    * `maxBatchExclusive` are filtered out (re-delivery: a batch must not
    * see its own earlier write); the compacted base partition
    * (batch_id = -1) survives every filter because -1 < any real batch
    * id.
    */
  private def stateOrEmpty(s: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxBatchExclusive: Long): DataFrame = {
    // Hadoop FS, never java.io.File: a File check is silently FALSE on
    // any non-local FS, and "no state yet" here would re-admit every
    // duplicate (the worst failure mode of this lane — silent)
    val fs = DatapointStore.fsFor(s, dir)
    val live = new org.apache.hadoop.fs.Path(dir)
    DirSwap.heal(fs, live.getParent)
    if (fs.exists(live)) s.read.schema(schema).parquet(dir)
      .where(col("batch_id") < maxBatchExclusive)
    else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Compact the per-batch state partitions of a streaming-dedup query
    * ([[dedupNear]] / [[semDedupStream]]): `batch_id=N` partitions under
    * each state subdirectory fold into one base partition `batch_id=-1`,
    * so partition/file counts stay bounded on long-running queries
    * instead of growing one directory per micro-batch (the listing cost
    * that would otherwise dominate state reads after ~10⁴ triggers). The
    * base id -1 is smaller than every real batch id, so the readers'
    * `batch_id < current` re-delivery filter keeps working unchanged
    * after a restart.
    *
    * `keepSince` makes the fold safe MID-STREAM (r10): only partitions
    * with `batch_id < keepSince` fold into the base; later partitions are
    * carried through unchanged. Called from inside batch N's foreachBatch
    * with `keepSince = N`, this folds exactly the COMMITTED horizon —
    * batches 0..N-1 can never be re-delivered once N is running, while a
    * crash-re-delivered batch N still excludes its own rows via the
    * `batch_id < N` filter (folding N into -1 would smuggle them past
    * it). The default (MaxValue) is the original stopped-query fold-all.
    * Re-compacting at the same horizon is idempotent.
    *
    * Crash safety: every sub is rewritten into the state dir's stage,
    * then the subs [[DirSwap.publish]] together — each sub reads wholly
    * old or wholly new at every crash point, and readers and the next
    * compaction heal a half-swap first.
    */
  def compactDedupState(s: SparkSession, stateDir: String,
      keepSince: Long = Long.MaxValue): Unit = {
    val fs = DatapointStore.fsFor(s, stateDir)
    val root = new org.apache.hadoop.fs.Path(stateDir)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return
    DirSwap.heal(fs, root)
    DirSwap.dropStage(fs, root) // an incomplete write from a crash
    val subs = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq
    subs.foreach { sub =>
      s.read.parquet(new org.apache.hadoop.fs.Path(root, sub).toString)
        .withColumn("batch_id",
          when(col("batch_id").cast("long") < keepSince, lit(-1L))
            .otherwise(col("batch_id").cast("long")))
        .write.partitionBy("batch_id").mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(DirSwap.stage(root), sub)
          .toString)
    }
    DirSwap.publish(fs, root, subs)
  }

  /** Streaming SEMANTIC dedup — [[graft.operators.Similarity.semDedup]]'s
    * first-arrival-wins in-flight variant, completing the semantic family
    * (batch / incremental / streaming) the way [[dedupNear]] completes
    * MinHash. Each arriving vector is cell-assigned (zero-shuffle argmax
    * projection over the metadata-scale centroids) and is a duplicate iff
    * some same-cell vector within `tau` was seen earlier — a prior
    * batch's vector (dup or not: every seen vector indexes, so chains
    * collapse batch-split-independently) or a smaller-vec_id vector of
    * its own batch. `outDir` receives every batch row as (vec_id, cell,
    * dup_of, sim) — dup_of null for keepers — and `stateDir/vectors`
    * holds the persistent cell index ([[Similarity.assignCells]] rows).
    * Both sinks partition by batch_id with dynamic overwrite and state
    * reads filter batch_id < current: re-delivery idempotent.
    *
    * With vec_id-ordered arrival the decision table equals the batch
    * [[Similarity.semDedup]] output exactly (earlier arrival ⇔ smaller
    * id) — the emb_semdedup_stream gate query shares emb_semdedup's
    * oracle SQL verbatim, and StreamingSpec pins split-invariance.
    */
  def semDedupStream(vecs: DataFrame, cents: Array[(Long, Seq[Double])],
      stateDir: String, outDir: String, tau: Double,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types._
    import graft.operators.Similarity
    val stateSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("emb", ArrayType(DoubleType)),
      StructField("norm", DoubleType),
      StructField("cell", LongType),
      StructField("batch_id", LongType)))
    vecs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val b = Similarity.assignCells(batch, cents)
          .select("vec_id", "emb", "norm", "cell")
          .localCheckpoint(true)
        val seen = stateOrEmpty(s, s"$stateDir/vectors", stateSchema, batchId)
          .drop("batch_id")
        def other(df: DataFrame) = df.select(col("cell"),
          col("vec_id").as("o_id"), col("emb").as("o_emb"),
          col("norm").as("o_norm"))
        // same-cell candidates: smaller-id within the batch, ANY id from
        // earlier batches (ordered arrival makes those smaller anyway)
        val cand = b.join(other(b), Seq("cell"))
            .where(col("o_id") < col("vec_id"))
          .unionByName(b.join(other(seen), Seq("cell")))
        val dupOf = cand
          .withColumn("sim",
            graft.operators.Similarity.dot("emb", "o_emb") /
              (col("norm") * col("o_norm")))
          .where(col("sim") >= tau)
          .groupBy("vec_id")
          .agg(min(struct(col("o_id"), col("sim"))).as("k"))
          .select(col("vec_id"), col("k.o_id").as("dup_of"),
            col("k.sim").as("sim"))
        def sink(df: DataFrame, dir: String): Unit =
          df.withColumn("batch_id", lit(batchId)).write
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").mode("overwrite").parquet(dir)
        sink(b.select("vec_id", "cell").join(dupOf, Seq("vec_id"), "left"),
          outDir)
        sink(b, s"$stateDir/vectors") // EVERY seen vector indexes
        // in-loop maintenance: fold the committed horizon (< batchId) at a
        // deterministic batch-counter cadence — re-delivery re-compacts
        // the same horizon, idempotent
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactDedupState(s, stateDir, keepSince = batchId)
      }
  }

  /** Streaming winnow DECONTAMINATION — the in-flight variant of
    * [[graft.operators.Dedup.winnowContamination]], closing the curation
    * funnel's streaming story: every arriving micro-batch of documents
    * is screened against the eval set's winnowing fingerprints, and a
    * doc sharing >= `minShared` non-boilerplate fingerprints with any
    * eval doc is flagged (it contains a verbatim run of >= w+n−1 eval
    * words — the leakage mode exact containment misses — structurally,
    * per the winnowing theorem).
    *
    * The batch op's boilerplate prune (corpus fingerprint df > maxDf) is
    * corpus-GLOBAL, so the streaming lane takes the boilerplate
    * fingerprint set as a REFERENCE INPUT — the deployment computes it
    * from the standing corpus snapshot it already maintains — instead of
    * accreting df in flight (an in-flight df would un-flag docs
    * retroactively as counts cross the threshold: not split-invariant).
    * Both screening inputs are metadata-scale by premise (the eval set
    * is a benchmark, boilerplate is the df tail) and broadcast; the
    * per-doc decision is then a pure function of the doc itself, so the
    * output is batch-split-invariant, and with boilerplate = the
    * replayed corpus's own df tail it equals the batch op row-for-row
    * (the pipe_contam_winnow_stream gate shares the batch oracle
    * verbatim; StreamingSpec pins split invariance). Sinks partition by
    * batch_id with dynamic overwrite: at-least-once re-delivery
    * recomputes identical rows and replaces its own partitions.
    */
  def winnowContaminationStream(docs: DataFrame, evalDocs: DataFrame,
      boilerplateFps: DataFrame, outDir: String, n: Int = 4, w: Int = 8,
      minShared: Int = 1)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // fixed screening inputs, computed ONCE per stream start
    val evalFps = graft.operators.Dedup.winnowFingerprints(evalDocs, n, w)
      .select(col("fp"), col("doc_id").as("eval_id")).localCheckpoint(true)
    val boil = boilerplateFps.select("fp").localCheckpoint(true)
    docs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val flagged = graft.operators.Dedup
          .winnowFingerprints(
            batch.select(col("doc_id").cast("long"), col("text")), n, w)
          .join(broadcast(boil), Seq("fp"), "left_anti")
          .join(broadcast(evalFps), Seq("fp"))
          .where(col("doc_id") =!= col("eval_id"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared_fps"),
            countDistinct("eval_id").as("n_eval_docs"))
          .where(col("n_shared_fps") >= minShared)
        flagged.withColumn("batch_id", lit(batchId)).write
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").mode("overwrite").parquet(outDir)
      }
  }

  /** Streaming n-gram NOVELTY scoring — the in-flight variant of the
    * text_ngram_novelty lane: each arriving document is scored by the
    * fraction of its distinct word-3-grams whose global FIRST occurrence
    * is this document, against everything seen earlier (prior batches via
    * the persistent gram index, smaller doc_ids within its own batch).
    * The curriculum/dup-pressure signal, computed as data lands instead
    * of in a nightly sweep.
    *
    * State (`stateDir/grams`) holds one row per DISTINCT gram ever seen —
    * (gh, first_doc), written only in the batch that first sees the gram
    * — so state size is corpus-distinct-gram scale and per-batch state
    * writes are novel-grams-only, never a rewrite. Grams travel as
    * 60-bit md5-prefix BIGINTs (the oracle-reproducible hash lane).
    * Sinks partition by batch_id with dynamic overwrite and state reads
    * filter batch_id < current: at-least-once re-delivery recomputes
    * identical rows and replaces its own partitions. First-arrival-wins
    * makes the scores batch-split-invariant, and under doc_id-ordered
    * replay the output equals the batch lane exactly — the
    * text_novelty_stream gate query shares text_ngram_novelty's oracle
    * SQL verbatim. [[compactDedupState]] folds the per-batch state
    * partitions like every other streaming-dedup state dir.
    */
  def ngramNoveltyStream(docs: DataFrame, stateDir: String, outDir: String,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types._
    val gramSchema = StructType(Seq(
      StructField("gh", LongType), StructField("first_doc", LongType),
      StructField("batch_id", LongType)))
    docs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.select(col("doc_id").cast("long"), col("text"))
          .withColumn("w", expr("filter(split(text, ' '), x -> x != '')"))
          .where(size(col("w")) >= 3)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(w) - 3), " +
              "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("g"))
          .select(col("doc_id"),
            expr("CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)")
              .as("gh"))
          .distinct()
          .localCheckpoint(true)
        val seen = stateOrEmpty(s, s"$stateDir/grams", gramSchema, batchId)
          .select(col("gh"), col("first_doc"))
        // per gram: the smallest doc_id in THIS batch, and whether an
        // earlier batch already owns it
        val batchFirst = b.groupBy("gh").agg(min("doc_id").as("batch_first"))
        val attributed = batchFirst
          .join(seen, Seq("gh"), "left")
          .withColumn("owner", coalesce(col("first_doc"), col("batch_first")))
          .localCheckpoint(true)
        val scored = b.join(attributed.select("gh", "owner"), Seq("gh"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty_bp", expr("(10000 * n_novel) div n_grams"))
        def sink(df: DataFrame, dir: String): Unit =
          df.withColumn("batch_id", lit(batchId)).write
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").mode("overwrite").parquet(dir)
        sink(scored, outDir)
        // index only the grams this batch saw FIRST
        sink(attributed.where(col("first_doc").isNull)
          .select(col("gh"), col("batch_first").as("first_doc")),
          s"$stateDir/grams")
        // same committed-horizon in-loop fold as the dedup streams
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactDedupState(s, stateDir, keepSince = batchId)
      }
  }

  /** Streaming NEAR-dup dedup (MinHash+LSH) — the in-flight variant of
    * [[graft.operators.Dedup.incrementalNearDuplicatesPrebanded]], with
    * first-arrival-wins keeper election. A document is a duplicate iff it
    * verifies (banding candidate + exact shingle Jaccard >= threshold)
    * against ANY document seen earlier: a prior micro-batch's doc (dup or
    * not — every seen doc indexes, so A~B~C chains with A≁C collapse the
    * same way regardless of how batches split) or a smaller-id doc of its
    * own batch. Survivors land in `outDir`; the state under `stateDir` is
    * the seen-document store (`docs/`, the ingest corpus itself) plus the
    * LSH band index (`bands/`, 3 longs per (doc, band) — sketch-scale).
    *
    * Scale design: per batch, the corpus contributes only its band index
    * partitions to the candidate equi-join and the text of candidate hits
    * to the verify semi-join — corpus text is never re-scanned wholesale,
    * so per-batch work is O(|batch| + candidates), the steady-state 100 TB
    * ingest shape. All three sinks partition by batch_id with dynamic
    * overwrite, and state reads filter `batch_id < current`, so an
    * at-least-once re-delivery recomputes identical survivors and replaces
    * its own partitions — idempotent end to end. Long-running queries
    * bound their state partition counts with [[compactDedupState]] —
    * either stopped (fold-all) or IN-LOOP via `compactEvery = n`, which
    * folds the committed horizon every n batches without pausing the
    * query.
    *
    * Determinism note: results are arrival-order dependent by design
    * (first arrival wins). When arrival order is doc_id order, the
    * survivor set equals the batch rule "drop every doc_b of a qualifying
    * (doc_a < doc_b) pair" regardless of batch boundaries — the
    * batch≡streaming equivalence StreamingSpec pins and the
    * dedup_stream_near oracle recomputes.
    */
  /** Streaming materialized view over a CDC feed: each micro-batch of
    * I/U/D change rows folds into a parquet (group, count, sum) view via
    * [[graft.operators.Mutations.maintainSumCount]] — churn-sized delta
    * agg + MV-sized merge join per batch, never a base-table scan.
    * Exactly-once comes from the batch-id commit gate in
    * [[graft.operators.Mutations.applyMvBatch]]: a checkpoint-replayed
    * batch id is skipped, so crash/restart never double-applies a delta.
    */
  def mvStream(cdc: DataFrame, mvRoot: String,
      groupExpr: org.apache.spark.sql.Column,
      beforeVal: org.apache.spark.sql.Column,
      afterVal: org.apache.spark.sql.Column)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    cdc.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Mutations.applyMvBatch(batch.sparkSession, mvRoot,
          batch, batchId, groupExpr, beforeVal, afterVal)
        ()
      }

  /** One micro-batch of the END-TO-END curation funnel — the streaming
    * twin of the `pipe_e2e_curation` composition (lang filter → quality
    * gate → exact dedup → benchmark decontamination → per-source cap),
    * with per-stage (n_docs, n_tokens) DELTAS accumulated on disk so the
    * running funnel report is one metadata-scale aggregation away.
    *
    * State (the [[dedupNear]] dynamic-partition discipline — re-running
    * a batch under the SAME id, the checkpointed-foreachBatch contract,
    * overwrites its own partitions and is exactly-once):
    *  - `seen/batch_id=N`: md5 content hashes that passed the quality
    *    gate — cross-batch first-arrival dedup (within a batch the
    *    lowest doc_id wins, so a doc_id-ordered replay reproduces the
    *    batch pipeline's keep-lowest rule);
    *  - `cap/batch_id=N`: per-source admitted counts — the cap carries
    *    across batches;
    *  - `stats/batch_id=N`: the six stage deltas.
    * `bench` is a REFERENCE input (the winnowContaminationStream rule) —
    * an in-flight benchmark would un-flag docs retroactively. Content
    * re-delivery under a NEW batch id is first-arrival-deduped from the
    * dedup stage on, but the pre-dedup stages count it as the new
    * delivery it is.
    */
  def curateBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
      batchId: Long, bench: DataFrame,
      langs: Seq[String] = Seq("en", "de", "fr"), minChars: Long = 150,
      minToks: Long = 20, capPerSource: Int = 12): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val seenSchema = StructType(Seq(StructField("h", StringType),
      StructField("batch_id", LongType)))
    val capSchema = StructType(Seq(StructField("source", StringType),
      StructField("n", LongType), StructField("batch_id", LongType)))
    val s0 = batch
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .localCheckpoint(true) // feeds every stage + the stats aggs
    val s1 = s0.where(col("lang").isin(langs: _*))
    val s2 = s1.where(col("n_chars") >= minChars && col("n_toks") >= minToks)
      .withColumn("h", md5(col("text").cast("binary")))
      .localCheckpoint(true) // dedup window + seen-state write
    val wd = Window.partitionBy("h").orderBy("doc_id")
    val s3local = s2.withColumn("rn", row_number().over(wd))
      .where(col("rn") === 1).drop("rn")
    val seenPrev = stateOrEmpty(spark, s"$stateDir/seen", seenSchema, batchId)
      .select("h")
    val s3 = s3local.join(seenPrev, Seq("h"), "left_anti")
      .localCheckpoint(true) // decontam probe + stats
    val contam = graft.operators.Pipeline.contaminationScores(s3, bench)
      .where(col("n_shared") >= 3)
    val s4 = s3.join(contam, Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // cap window + stats
    val admitted = stateOrEmpty(spark, s"$stateDir/cap", capSchema, batchId)
      .groupBy("source").agg(sum("n").as("admitted"))
    val wc = Window.partitionBy("source").orderBy("doc_id")
    val s5 = s4.join(broadcast(admitted), Seq("source"), "left")
      .withColumn("admitted", coalesce(col("admitted"), lit(0L)))
      .withColumn("rn", row_number().over(wc))
      .where(col("rn") + col("admitted") <= capPerSource)
      .localCheckpoint(true) // cap-state write + stats
    def sink(df: DataFrame, dir: String): Unit =
      df.withColumn("batch_id", lit(batchId)).write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").mode("overwrite").parquet(dir)
    // every QUALITY-PASSING hash joins the seen state, dups included —
    // that is what makes the survivor set batch-split-invariant
    sink(s2.select("h").distinct(), s"$stateDir/seen")
    sink(s5.groupBy("source").agg(count(lit(1)).as("n")), s"$stateDir/cap")
    def stat(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_toks"), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    sink(stat("s0_all", s0).unionByName(stat("s1_lang", s1))
      .unionByName(stat("s2_quality", s2))
      .unionByName(stat("s3_dedup", s3))
      .unionByName(stat("s4_decontam", s4))
      .unionByName(stat("s5_cap", s5)), s"$stateDir/stats")
  }

  /** The running funnel report of a [[curateBatch]] loop: per-stage
    * totals over everything delivered so far — equal to the BATCH
    * pipeline over the union under doc_id-ordered delivery (the gate
    * pins it against pipe_e2e_curation's oracle verbatim). */
  def curationStats(spark: SparkSession, stateDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val statsSchema = StructType(Seq(StructField("stage", StringType),
      StructField("n_docs", LongType), StructField("n_tokens", LongType),
      StructField("batch_id", LongType)))
    stateOrEmpty(spark, s"$stateDir/stats", statsSchema, Long.MaxValue)
      .groupBy("stage").agg(sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"))
  }

  /** One micro-batch of the LIVE drift monitor — the streaming twin of
    * the pipe_psi_drift gate (population stability index per source vs
    * the rest of the corpus): the only state is exact per-(source, bin)
    * BIGINT counts (fixed integer length bins — no quantile estimation,
    * so the binning is batch-independent), written as dynamic-overwrite
    * batch partitions (same-id re-delivery replaces its own writes).
    * Counts COMMUTE, so the monitor is split-invariant under ANY
    * delivery order — the strongest invariance class of the streaming
    * twins — and [[psiDriftStats]] over a full replay equals the batch
    * op exactly (the gate shares its oracle verbatim).
    */
  def psiDriftBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
      batchId: Long, binWidth: Long = 200L, maxBin: Long = 9L): Unit = {
    batch.select(col("source"),
        least(expr(s"CAST(n_chars div $binWidth AS BIGINT)"),
          lit(maxBin)).as("bin")) // the batch op's exact integer binning
      .groupBy("source", "bin").agg(count(lit(1)).as("c"))
      .withColumn("batch_id", lit(batchId))
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").mode("overwrite")
      .parquet(s"$stateDir/bins")
  }

  /** The live PSI report over everything delivered so far: fold the
    * per-batch count partitions (one metadata-scale aggregation — state
    * is |sources| × |bins| rows per batch) and compute the batch op's
    * exact grid: PSI = Σ (p−q)·ln(p/q) over bins present on BOTH sides,
    * counts exact, ln + round(4) the only float lane. Output: (source,
    * n_bins_used, psi).
    */
  def psiDriftStats(spark: SparkSession, stateDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("source", StringType),
      StructField("bin", LongType), StructField("c", LongType),
      StructField("batch_id", LongType)))
    val bySrc = stateOrEmpty(spark, s"$stateDir/bins", schema, Long.MaxValue)
      .groupBy("source", "bin").agg(sum("c").as("c_sb"))
      .localCheckpoint(true) // feeds totals AND the grid
    val byBin = bySrc.groupBy("bin").agg(sum("c_sb").as("c_b"))
    val nSrc = bySrc.groupBy("source").agg(sum("c_sb").as("n_s"))
    val nTot = bySrc.agg(coalesce(sum("c_sb"), lit(0L))).head().getLong(0)
    bySrc.join(byBin, "bin").join(broadcast(nSrc), "source")
      .withColumn("c_rest", col("c_b") - col("c_sb"))
      .withColumn("n_rest", lit(nTot) - col("n_s"))
      .where(col("c_sb") > 0 && col("c_rest") > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_bins_used"),
        round(sum(expr(
          "(CAST(c_sb AS DOUBLE) / n_s - CAST(c_rest AS DOUBLE) / n_rest)" +
            " * ln((CAST(c_sb AS DOUBLE) / n_s) / " +
            "(CAST(c_rest AS DOUBLE) / n_rest))")), 4).as("psi"))
  }

  def dedupNear(docs: DataFrame, stateDir: String, outDir: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types._
    import graft.operators.Dedup
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("batch_id", LongType)))
    val bandSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("bh", LongType), StructField("batch_id", LongType)))
    docs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // the batch feeds four consumers (band sketch, within-batch pairs,
        // verify, state/survivor writes) — truncate lineage once
        val b = batch.select(col("doc_id").cast("long"), col("text"))
          .localCheckpoint(true)
        val seen = stateOrEmpty(s, s"$stateDir/docs", docSchema, batchId)
          .select("doc_id", "text")
        val seenBands = stateOrEmpty(s, s"$stateDir/bands", bandSchema, batchId)
          .select("doc_id", "band", "bh")
        // within-batch: doc_b of any verified smaller-id pair is a dup
        val within = Dedup.nearDuplicates(b, n, numHashes, bands, threshold)
          .select(col("doc_b").as("doc_id"))
        // cross-batch: batch vs the prebanded seen corpus
        val cross = Dedup.incrementalNearDuplicatesPrebanded(
          seen, seenBands, b, n, numHashes, bands, threshold)
          .select("doc_id")
        val dups = within.union(cross).distinct()
        val survivors = b.join(dups, Seq("doc_id"), "left_anti")
        def sink(df: DataFrame, dir: String): Unit =
          df.withColumn("batch_id", lit(batchId)).write
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").mode("overwrite").parquet(dir)
        sink(survivors, outDir)
        // state indexes EVERY seen doc (dups included): chains must
        // collapse batch-split-independently
        sink(b, s"$stateDir/docs")
        sink(Dedup.bandTable(b, n, numHashes, bands), s"$stateDir/bands")
        // in-loop maintenance: fold the committed horizon (< batchId) at a
        // deterministic batch-counter cadence — re-delivery re-compacts
        // the same horizon, idempotent
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactDedupState(s, stateDir, keepSince = batchId)
      }
  }
}
