package graft.operators

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.AccumulatorV2

import graft.model.Granularity

/** The rollup ladder as ONE kernel job per store root: every coarser
  * level of every stream in a `downsampleStreams` run folds in a single
  * pass over the root's store frame, and the folded rows go straight
  * into that root's partitioned write, so a run costs the same jobs
  * however many levels it folds.
  *
  * Shape: the store rows each level folds — raw rows at the stream's
  * highest granularity, and the on-disk partials of each level below a
  * folded one — are restricted by each stream's per-level thresholds
  * (one broadcast plan map), exchanged once by the root's leaf key minus
  * the level (UTC day for the primary root, (stream_id, UTC day) for the
  * derived rollups root), sorted by (stream_id, t), and folded by
  * `mapPartitions` per (stream, UTC day) group. Every bucket of every
  * level nests in its input row's UTC day (all ladder widths divide
  * 86400), so a group is self-contained, the kernel holds one
  * stream-day in memory, never a whole stream, and every output leaf
  * (granularity, ymd) is produced by one task: written as one file.
  * A primary-root day therefore folds in one task.
  *
  * Within a group the levels fold in ladder order and reproduce the
  * level-by-level chain ([[Downsample.toGranularity]] /
  * [[Downsample.countOnlyToGranularity]] for the first level above the
  * stream's highest granularity, [[Downsample.foldToCoarser]] /
  * [[Downsample.countOnlyFold]] above it) row for row:
  *  - level g folds level g−1's disk partials plus the g−1 buckets this
  *    run just produced, each from the stream's threshold at g (its
  *    high-water bucket + g.seconds — the chain's `newBuckets`);
  *  - only completed buckets (bucket end <= until) are emitted;
  *  - Spark's null rules: a null value is not counted, s/q/l/u are null
  *    over no values, m = s/c, and d = sqrt(greatest(q/c − m², 0)) is 0.0
  *    when q/c is null (`greatest` skips nulls);
  *  - t_mean is floored at EVERY level — raw: bucket + floor(avg offset);
  *    folds: bucket + floor(Σ((t_mean − bucket)·c) / Σc) — as
  *    [[Downsample.foldAggColumns]] does, not the exact mean of
  *    [[DownsampleAggregator]]. A fold bucket whose counts are all 0
  *    (every value null) has a null t_mean.
  * Sums accumulate in t order, so s/q/m/d can differ from a Spark
  * aggregate over the same rows in the last ulps (float addition order);
  * counts, extrema and time columns are exact.
  *
  * The kernel also reports each stream's new high-water marks: the
  * latest bucket it emitted per level ([[Marks]]), so the caller keeps
  * the marks on the driver instead of rescanning the rollups per run.
  */
object RollupLadder {

  /** One stream's part in a ladder run. `threshold(k)` for ladder index k
    * is the first epoch second level k may fold (Long.MinValue: no
    * high-water mark) or [[Skip]] when the run does not fold level k for
    * this stream. `hg` is the ladder index of the stream's highest
    * granularity; `numeric` selects the ten-aggregate lane, otherwise the
    * count-only lane of nominal and graph streams.
    */
  final case class StreamPlan(numeric: Boolean, hg: Int, threshold: Array[Long])

  val Skip: Long = Long.MaxValue

  private val ladder = Granularity.ladder
  private val widths: Array[Long] = ladder.map(_.seconds).toArray
  private val levelOf: Map[String, Int] = ladder.map(g => g.name -> g.level).toMap

  private val inputColumns = Seq("stream_id", "granularity", "t", "v_num",
    "v_json", "c", "s", "q", "l", "u", "t_first", "t_last", "t_mean")

  /** Output columns: the aggregate subset of the store schema plus the
    * level name (count-only rows leave s, q, l, u, m, d null). */
  val schema: StructType = StructType(Seq(
    "stream_id" -> StringType, "t" -> TimestampType, "c" -> LongType,
    "s" -> DoubleType, "q" -> DoubleType, "l" -> DoubleType,
    "u" -> DoubleType, "m" -> DoubleType, "d" -> DoubleType,
    "t_first" -> TimestampType, "t_last" -> TimestampType,
    "t_mean" -> TimestampType, "granularity" -> StringType)
    .map { case (n, t) => StructField(n, t, nullable = true) })

  /** The latest bucket start (epoch seconds) a fold emitted per stream
    * and ladder index ([[NoMark]]: none): once the fold's rows are
    * written, each stream's high-water marks. Max is idempotent, so a
    * retried task cannot skew it. Registered unnamed, so Spark's status
    * store never renders it per task. */
  final class Marks extends AccumulatorV2[(String, Int, Long), Map[String, Array[Long]]] {
    private val m = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    def isZero: Boolean = m.isEmpty
    def copy(): Marks = { val c = new Marks; c.merge(this); c }
    def reset(): Unit = m.clear()
    def add(x: (String, Int, Long)): Unit = {
      val a = m.getOrElseUpdate(x._1, Array.fill(ladder.size)(NoMark))
      if (x._3 > a(x._2)) a(x._2) = x._3
    }
    def merge(o: AccumulatorV2[(String, Int, Long), Map[String, Array[Long]]]): Unit =
      o.value.foreach { case (id, a) =>
        a.indices.foreach(k => if (a(k) != NoMark) add((id, k, a(k))))
      }
    def value: Map[String, Array[Long]] = m.toMap
  }

  val NoMark: Long = Long.MinValue

  /** A fold's rows (schema [[schema]]; not yet run) and the marks the
    * run that consumes them accumulates. */
  final case class Fold(rows: DataFrame, marks: Marks)

  /** Fold every level `plans` asks for (at least one), for every planned
    * stream, out of `store` (the store schema: stream_id, t, v_num,
    * v_json, the aggregates, granularity, ymd; ONE store root's rows),
    * emitting only buckets that end by `untilSec`. The one exchange is
    * `partitions` wide, keyed by the UTC day, and by (stream_id, day)
    * when `byStream` (a root partitioned by stream_id first): each task
    * holds every row of the output leaves it produces.
    */
  def fold(store: DataFrame, plans: Map[String, StreamPlan], untilSec: Long,
      partitions: Int, byStream: Boolean): Fold = {
    val spark = store.sparkSession
    // (input granularity, threshold) of every planned level
    val planned = plans.values.toSeq.flatMap(p => (p.hg + 1 until ladder.size)
      .collect { case k if p.threshold(k) != Skip => (ladder(k - 1).name, p.threshold(k)) })
    val inputs = planned.map(_._1).distinct
    val lo = planned.map(_._2).min
    val scanned = store.where(col("granularity").isin(inputs: _*))
    // every planned stream past its high-water mark: whole older days
    // prune at the partition level (ymd is the UTC day, zero-padded)
    val pruned =
      if (lo == Long.MinValue) scanned
      else scanned.where(col("ymd") >=
        f"${math.max(Math.floorDiv(lo, 86400L), 0L)}%09d")
    val bc = spark.sparkContext.broadcast(plans)
    // a row feeds the level above its own granularity, from that level's
    // threshold on: raw rows the level above the stream's highest
    // granularity, level k−1 partials level k
    val feeds = udf { (id: String, g: String, sec: Long) =>
      bc.value.get(id).exists { p =>
        val k = levelOf(g) + 1
        k > p.hg && k < ladder.size && p.threshold(k) != Skip && sec >= p.threshold(k)
      }
    }
    val marks = new Marks
    spark.sparkContext.register(marks)
    val key = if (byStream) Seq(col("stream_id"), col("ymd")) else Seq(col("ymd"))
    val rows = pruned
      .where(feeds(col("stream_id"), col("granularity"), unix_timestamp(col("t"))))
      .select((inputColumns :+ "ymd").map(col): _*)
      .repartition(partitions, key: _*)
      .sortWithinPartitions("stream_id", "t")
      .mapPartitions(rows => foldSorted(rows, bc.value, untilSec, marks))(
        Encoders.row(schema))
    Fold(rows, marks)
  }

  /** One partial bucket feeding the next level: a disk row of some level,
    * or a bucket this run just folded. `t` and `tMean` are epoch seconds
    * ([[NoMean]]: null t_mean); `a` holds its aggregates. */
  private final class Part(val t: Long, val tMean: Long, val a: Acc)

  private val NoMean = Long.MinValue

  /** A raw row: time in micros, value null-ness and the numeric value. */
  private final class Raw(val tMicros: Long, val isNull: Boolean, val v: Double)

  /** One bucket's aggregates (times in micros; has* flags carry SQL
    * nulls). `tmNum / tmDen` is the t_mean offset quotient: Σ offsets
    * over rows (raw), Σ offset·c over Σ c (folds). Spark sums start at 0
    * and are null over no input. */
  private final class Acc {
    var c = 0L
    var hasS = false; var s = 0.0
    var hasQ = false; var q = 0.0
    var hasL = false; var l = 0.0
    var hasU = false; var u = 0.0
    var tFirst = Long.MaxValue; var tLast = Long.MinValue
    var tmNum = 0L; var tmDen = 0L
    // Spark's min/max order: NaN above every number, ties keep the first
    def lower(x: Double): Unit =
      if (!hasL || x < l || (l.isNaN && !x.isNaN)) { l = x; hasL = true }
    def upper(x: Double): Unit =
      if (!hasU || x > u || (x.isNaN && !u.isNaN)) { u = x; hasU = true }
    def times(first: Long, last: Long): Unit = {
      if (first < tFirst) tFirst = first
      if (last > tLast) tLast = last
    }
  }

  private def micros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  private def timestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Fold rows sorted by (stream_id, t), one (stream, UTC day) at a time. */
  private def foldSorted(rows: Iterator[Row], plans: Map[String, StreamPlan],
      untilSec: Long, marks: Marks): Iterator[Row] = {
    val in = rows.buffered
    new Iterator[Iterator[Row]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[Row] = {
        val id = in.head.getString(0)
        val day = Math.floorDiv(micros(in.head.getTimestamp(2)), 86400000000L)
        val plan = plans(id)
        val raw = ArrayBuffer.empty[Raw]
        val disk = Array.fill(ladder.size)(ArrayBuffer.empty[Part])
        while (in.hasNext && in.head.getString(0) == id &&
            Math.floorDiv(micros(in.head.getTimestamp(2)), 86400000000L) == day) {
          val r = in.next()
          val k = levelOf(r.getString(1))
          val us = micros(r.getTimestamp(2))
          if (k == plan.hg) {
            val vi = if (plan.numeric) 3 else 4
            raw += new Raw(us, r.isNullAt(vi), if (plan.numeric && !r.isNullAt(3)) r.getDouble(3) else 0.0)
          } else disk(k) += readPart(r, Math.floorDiv(us, 1000000L))
        }
        foldDay(id, plan, raw, disk, untilSec, marks).iterator
      }
    }.flatten
  }

  private def readPart(r: Row, tSec: Long): Part = {
    val a = new Acc
    if (!r.isNullAt(5)) a.c = r.getLong(5)
    if (!r.isNullAt(6)) { a.s = r.getDouble(6); a.hasS = true }
    if (!r.isNullAt(7)) { a.q = r.getDouble(7); a.hasQ = true }
    if (!r.isNullAt(8)) a.lower(r.getDouble(8))
    if (!r.isNullAt(9)) a.upper(r.getDouble(9))
    if (!r.isNullAt(10)) a.tFirst = micros(r.getTimestamp(10))
    if (!r.isNullAt(11)) a.tLast = micros(r.getTimestamp(11))
    new Part(tSec, if (r.isNullAt(12)) NoMean
      else Math.floorDiv(r.getTimestamp(12).getTime, 1000L), a)
  }

  /** Every planned level of one stream-day, in ladder order. */
  private def foldDay(id: String, plan: StreamPlan,
      raw: ArrayBuffer[Raw], disk: Array[ArrayBuffer[Part]],
      untilSec: Long, marks: Marks): Seq[Row] = {
    val out = Seq.newBuilder[Row]
    var fresh: Seq[Part] = Nil // the level below's buckets from this run
    for (k <- plan.hg + 1 until ladder.size) {
      val thr = plan.threshold(k)
      if (thr == Skip) fresh = Nil
      else {
        val w = widths(k)
        val accs = scala.collection.mutable.LongMap.empty[Acc]
        def acc(b: Long) = accs.getOrElseUpdate(b, new Acc)
        if (k == plan.hg + 1) raw.foreach { x =>
          val sec = Math.floorDiv(x.tMicros, 1000000L)
          if (sec >= thr) {
            val b = Math.floorDiv(sec, w) * w
            val a = acc(b)
            a.tmNum += sec - b; a.tmDen += 1
            a.times(x.tMicros, x.tMicros)
            if (!x.isNull) {
              a.c += 1
              if (plan.numeric) {
                a.s += x.v; a.hasS = true
                a.q += x.v * x.v; a.hasQ = true
                a.lower(x.v); a.upper(x.v)
              }
            }
          }
        } else (disk(k - 1).iterator ++ fresh.iterator).foreach { p =>
          if (p.t >= thr) {
            val b = Math.floorDiv(p.t, w) * w
            val (a, x) = (acc(b), p.a)
            a.c += x.c; a.tmDen += x.c
            if (p.tMean != NoMean) a.tmNum += (p.tMean - b) * x.c
            if (x.hasS) { a.s += x.s; a.hasS = true }
            if (x.hasQ) { a.q += x.q; a.hasQ = true }
            if (x.hasL) a.lower(x.l)
            if (x.hasU) a.upper(x.u)
            a.times(x.tFirst, x.tLast)
          }
        }
        val g = ladder(k).name
        fresh = accs.keys.toSeq.sorted.filter(_ + w <= untilSec).map { b =>
          val a = accs(b)
          val tMean =
            if (a.tmDen == 0L) NoMean
            else b + math.floor(a.tmNum.toDouble / a.tmDen).toLong
          out += toRow(id, g, b, tMean, a, plan.numeric)
          new Part(b, tMean, a)
        }
        fresh.lastOption.foreach(p => marks.add((id, k, p.t)))
      }
    }
    out.result()
  }

  private def toRow(id: String, g: String, b: Long, tMean: Long, a: Acc,
      numeric: Boolean): Row = {
    val tFirst = if (a.tFirst == Long.MaxValue) null else timestamp(a.tFirst)
    val tLast = if (a.tLast == Long.MinValue) null else timestamp(a.tLast)
    val tm = if (tMean == NoMean) null else timestamp(tMean * 1000000L)
    if (!numeric) Row(id, timestamp(b * 1000000L), a.c, null, null, null,
      null, null, null, tFirst, tLast, tm, g)
    else {
      // m = s/c and d = sqrt(greatest(q/c − m², 0)): a null operand
      // propagates to m and is skipped by greatest, so d is 0.0
      val m: java.lang.Double = if (a.hasS && a.c != 0L) a.s / a.c else null
      val d =
        if (m == null || !a.hasQ) 0.0
        else math.sqrt(math.max(a.q / a.c - m * m, 0.0))
      def opt(has: Boolean, x: Double): java.lang.Double = if (has) x else null
      Row(id, timestamp(b * 1000000L), a.c, opt(a.hasS, a.s), opt(a.hasQ, a.q),
        opt(a.hasL, a.l), opt(a.hasU, a.u), m, d, tFirst, tLast, tm, g)
    }
  }
}
