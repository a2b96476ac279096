package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

import graft.streaming.Streaming.{Point, ResetEvent, ensureRocksDbStateStore}

/** The chained bounded-skew lanes the fused skewed twins
  * ([[Streaming.derivativeSkewed]],
  * [[Streaming.counterDerivativeWithResetsSkewed]]) replaced: kept as the
  * reference StreamingSpec pins the fused operators against.
  */
object ReorderBuffers {

  /** Bounded-disorder tolerance for the derive twins: an EVENT-TIME
    * reorder buffer keyed by stream_id. Every twin's contract is
    * per-key in-order delivery (their state is one previous point —
    * a reordered pair silently computes the wrong lag); real feeds
    * violate order within a bounded skew. This wrapper buffers points
    * in `ListState` and releases them in (t, v) order ONLY once the
    * WATERMARK has passed them — the downstream twin then sees exactly
    * the in-order feed it was pinned against, for any disorder ≤
    * `maxDelay`. Flush is driven by event-time timers (one armed at
    * the earliest buffered point), so a key with no further arrivals
    * still drains as the global watermark advances; rows later than
    * the watermark are dropped by Spark's late-row policy upstream —
    * the standard bounded-skew contract. O(points inside the skew
    * window) state per key, nothing corpus-sized. Compose as
    * `derivative(reorderBuffer(src, "10 seconds"))` — the twins run
    * TimeMode.None, so the chain is one watermark + two stateful ops.
    */
  def reorderBuffer(src: Dataset[Point], maxDelay: String): Dataset[Point] = {
    import src.sparkSession.implicits._
    ensureRocksDbStateStore(src.sparkSession)
    val proc = new StatefulProcessor[String, Point, Point] {
      @transient private var buf: ListState[Point] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        buf = getHandle.getListState[Point]("reorder",
          Encoders.product[Point], TTLConfig.NONE)
      private def drain(wmMs: Long): Iterator[Point] = {
        val all = buf.get().toSeq
        val (due, hold) = all.partition(_.t.getTime <= wmMs)
        buf.clear()
        if (hold.nonEmpty) {
          buf.appendList(hold.toArray)
          // one armed timer at the earliest held point: fires when the
          // watermark passes it even if this key never sees another row
          getHandle.listTimers().foreach(getHandle.deleteTimer)
          getHandle.registerTimer(hold.map(_.t.getTime).min)
        } else getHandle.listTimers().foreach(getHandle.deleteTimer)
        due.sortBy(p => (p.t.getTime, p.v)).iterator
      }
      override def handleInputRows(key: String, rows: Iterator[Point],
          timerValues: TimerValues): Iterator[Point] = {
        buf.appendList(rows.toArray)
        drain(timerValues.getCurrentWatermarkInMs())
      }
      override def handleExpiredTimer(key: String, timerValues: TimerValues,
          expired: ExpiredTimerInfo): Iterator[Point] =
        drain(timerValues.getCurrentWatermarkInMs())
    }
    src.withWatermark("t", maxDelay)
      .groupByKey(_.stream_id)
      .transformWithState(proc, TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[reorderBuffer]] for the V4 reset feed: ResetEvents ride the Point
    * buffer (v unused, 0) and come back out in per-key event-time order
    * once the watermark passes them — so the two-input
    * [[counterDerivativeWithResets]] runs under bounded-skew delivery on
    * BOTH inputs. The early-not-late reset contract holds mechanically:
    * the query's global watermark is the MIN over both buffered inputs,
    * and a source row only releases once that watermark passed its event
    * time — by which point every reset at or before it (arrival trails
    * its own stream's max event time by ≤ 2×jitter < maxDelay) has
    * already released in the same or an earlier micro-batch.
    */
  def reorderBufferResets(src: Dataset[ResetEvent],
      maxDelay: String): Dataset[ResetEvent] = {
    import src.sparkSession.implicits._
    reorderBuffer(src.map(r => Point(r.stream_id, r.t, 0.0)), maxDelay)
      .map(p => ResetEvent(p.stream_id, p.t))
  }
}
