package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Datastream
import graft.model.{DeriveOps, EnsureSpec, Granularity}

/** One source point: the events of one (user, type) stream summed per
  * second, so every stream has at most one value per timestamp.
  */
final case class Pt(key: String, user: Long, sec: Long, v: Double)

/** Shape of a store workload. Everything a run varies by seed is drawn
  * from these settings and the seed; the store only sees the batches.
  */
final case class StoreShape(
    userLimit: Option[Long],
    derived: Int,
    preloadHours: Int,
    batchHours: Int,
    batches: Int,
    compactEvery: Int,
    redeliver: Boolean,
    readsPerBatch: Int,
    zipfReads: Boolean)

object StoreShape {
  /** Batch counts are fixed per workload, so every run does the same work
    * and per-call counts repeat at a seed; they are sized so the timed
    * loop takes about `--seconds` at 4 cores.
    */
  def apply(workload: String, seconds: Int): StoreShape = workload match {
    // day-long batches: every batch closes a day, so the ladder runs all
    // six levels on each and the batches of a run are alike, which keeps
    // their median steady; one with its reads takes about 10 s
    case "ingest_plain" => StoreShape(None, 0, 0, 24,
      batches = math.max(1, (seconds / 10.0).round.toInt), compactEvery = 2,
      redeliver = true, readsPerBatch = 9, zipfReads = false)
    // 34 derived streams: the derived roots are partitioned by stream id
    // first, and Spark lists a directory of more than 32 subdirectories
    // with a distributed job, the listing cost this workload exists to show
    case "serve_derived" => StoreShape(Some(100L), 34, 12, 6,
      batches = math.max(1, (seconds / 20.0).round.toInt), compactEvery = 0,
      redeliver = false, readsPerBatch = 8, zipfReads = true)
  }
}

/** One `getData(...).collect()` the loop made, kept for the check. */
final case class Read(key: String, g: Granularity, start: Option[Long],
    end: Option[Long], untilSec: Long, deliveredHi: Long,
    rows: Seq[(Long, Double, Double, Double, Long)])

/** What a store workload run draws from its points and the seed before
  * any Spark session exists: the stream keys, their users and the derived
  * streams. Built outside the set-up clock, since it is harness work.
  */
final class StoreInputs(val shape: StoreShape, seed: Long, val pts: Array[Pt]) {
  val rnd = new scala.util.Random(seed)

  val keys: Array[String] = pts.map(_.key).distinct.sorted
  val userOf: Map[String, Long] = pts.map(p => p.key -> p.user).toMap
  val t0Sec: Long = Math.floorDiv(pts.map(_.sec).min, 86400L) * 86400L

  /** Derived streams, picked by seed among the streams that have points
    * both in the preload and in the first timed batch, so every run's timed
    * batch drives the whole cascade (events are sparse, about 0.4 a stream
    * a day): one fifth single-source derivatives, the rest per-user sums
    * over all of that user's types.
    */
  val (derivs, sums): (Seq[String], Seq[Long]) = {
    val n = shape.derived
    val preEnd = t0Sec + shape.preloadHours * 3600L
    val pre = pts.filter(_.sec < preEnd)
    val next = pts.filter(p => p.sec >= preEnd && p.sec < preEnd + shape.batchHours * 3600L)
    val both = pre.map(_.key).toSet intersect next.map(_.key).toSet
    val users = pre.map(_.user).toSet intersect next.map(_.user).toSet
    val s = rnd.shuffle(users.toSeq.sorted).take(n - n / 5).sorted
    val d = rnd.shuffle(both.toSeq.sorted).take(n - s.size).sorted
    require(d.size + s.size == n, s"only ${d.size + s.size} of $n derived streams qualify")
    (d, s)
  }
}

/** One store workload run: the calls it makes into `Datastream` in the
  * order of `Streaming.ingest`'s `foreachBatch` body, and what those calls
  * returned.
  */
final class StoreRun(spark: SparkSession, tr: Tracer, in: StoreInputs) {
  import spark.implicits._
  import in.{derivs, keys, pts, rnd, shape, sums, t0Sec, userOf}

  private def specs(ids: Map[String, String]): Seq[EnsureSpec] =
    derivs.map(k => EnsureSpec(Map("drv" -> s"d:$k"), deriveFrom = Seq(ids(k)),
      deriveOp = Some(DeriveOps.Derivative))) ++
    sums.map { u =>
      val srcs = keys.filter(k => userOf(k) == u).map(ids).toSeq
      EnsureSpec(Map("drv" -> s"s:$u"), deriveFrom = srcs,
        deriveOp = Some(DeriveOps.Sum))
    }

  /** Open a store at a fresh root and declare every stream; returns the
    * store and the stream id of every source and derived key.
    */
  def declare(root: String): (Datastream, Map[String, String]) = {
    val ds = new Datastream(spark, root)
    tr.span("catalog.ensure") {
      val src = ds.ensureStreams(keys.toSeq.map(k => EnsureSpec(Map("src" -> k))))
      val ids = keys.zip(src.map(_.streamId.get)).toMap
      val drv = ds.ensureStreams(specs(ids))
      val drvIds = (derivs.map(k => s"d:$k") ++ sums.map(u => s"s:$u"))
        .zip(drv.map(_.streamId.get)).toMap
      (ds, ids ++ drvIds)
    }
  }

  def frame(ids: Map[String, String], rows: Seq[Pt]): DataFrame =
    rows.map(p => (ids(p.key), new Timestamp(p.sec * 1000L), p.v))
      .toDF("stream_id", "t", "v")

  def between(lo: Long, hi: Long): Seq[Pt] =
    pts.iterator.filter(p => p.sec >= lo && p.sec < hi).toSeq

  // ---- run state ------------------------------------------------------

  val fresh = mutable.ArrayBuffer.empty[Double]
  val readMs = mutable.ArrayBuffer.empty[Double]
  val reads = mutable.ArrayBuffer.empty[Read]
  var attempted = 0L
  var failed = 0L
  var offered = 0L
  var written = 0L
  var preloaded = 0L
  var untilSec = Long.MinValue
  var deliveredHi: Long = t0Sec
  val errors = mutable.ArrayBuffer.empty[String]
  private var sinceCompact = 0
  private var batchNo = 0

  private def fail(msg: String): Unit = { failed += 1; errors += msg }

  /** Untimed warm-up, so JIT and codegen cost lands in set-up and not in
    * the first sample: the preload when the workload has one, else the
    * first batch; then one read at the finest and one at the coarsest
    * granularity (the raw and the rollup read path).
    */
  def warmUp(ds: Datastream, ids: Map[String, String]): Unit = {
    if (shape.preloadHours > 0) preload(ds, ids)
    else batch(ds, ids, sample = false, redeliver = false)
    Seq(Granularity.ladder.head, Granularity.ladder.last).foreach(g =>
      read(ds, ids, keys(rnd.nextInt(keys.length)), g, None, None, sample = false))
  }

  /** The first `preloadHours` as one bulk append (through the same
    * re-delivery-safe call the batches use), its ladder and a compaction.
    */
  private def preload(ds: Datastream, ids: Map[String, String]): Unit = {
    val hi = t0Sec + shape.preloadHours * 3600L
    val rows = between(t0Sec, hi)
    tr.span("preload") {
      val r = ds.appendMultiple(frame(ids, rows), checkTimestamp = false,
        dedupExisting = true)
      if (r.written != rows.size) fail(s"preload wrote ${r.written} of ${rows.size} rows")
      r.maxT.foreach { m =>
        ds.downsampleStreams(m)
        untilSec = math.max(untilSec, m.getTime / 1000L)
      }
      ds.compactStore()
      preloaded += r.written
    }
    deliveredHi = hi
  }

  /** The timed closed loop: each call starts when the previous returned. */
  def loop(ds: Datastream, ids: Map[String, String]): Unit = {
    val readable = ids.keys.toSeq.sorted
    // Zipf(1.0) over a seeded ranking of the source streams and another of
    // the derived ones; Zipf reads alternate between the two in pairs, so
    // every run reads the same mix of source and derived streams
    val (drvKeys, srcKeys) = readable.partition(Checks.isDerived)
    val zipf = Seq(drvKeys, srcKeys).filter(_.nonEmpty).map { ks =>
      val rank = rnd.shuffle(ks).toIndexedSeq
      val w = rank.indices.map(i => 1.0 / (i + 1))
      (rank, w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray)
    }
    val zipfReads = shape.batches * shape.readsPerBatch
    val redeliverAt = if (shape.redeliver) rnd.nextInt(shape.batches) else -1
    var n = 0
    for (i <- 0 until shape.batches) {
      val touched = batch(ds, ids, sample = true, redeliver = i == redeliverAt)
      for (_ <- 0 until shape.readsPerBatch) {
        // Zipf reads take evenly spaced quantiles, so every run reads the
        // same rank positions and the seed only decides which streams
        // hold them
        val key =
          if (shape.zipfReads) {
            val (rank, cdf) = zipf((n / 2) % zipf.size)
            val k = n / (2 * zipf.size) * 2 + n % 2
            val i = java.util.Arrays.binarySearch(cdf, (k + 0.5) / (zipfReads / zipf.size))
            rank(math.min(if (i >= 0) i else -i - 1, rank.length - 1))
          } else if (touched.nonEmpty) touched(rnd.nextInt(touched.length))
          else readable(rnd.nextInt(readable.length))
        // the granularity and window mix is the same in every run (levels
        // in ladder order, windows alternating between the last day and
        // the full range); the seed picks the streams
        val g = Granularity.ladder(n % Granularity.ladder.length)
        val (s, e) =
          if (n % 2 == 0) (Some(untilSec - 86400L), Some(untilSec))
          else (None, None)
        n += 1
        read(ds, ids, key, g, s, e, sample = true)
      }
    }
  }

  /** Next micro-batch of `batchHours` in event-time order: append, ladder
    * when rows landed, compaction every `compactEvery` written batches,
    * and, when asked, the same batch delivered again, which must write
    * nothing. Returns the keys it touched.
    */
  private def batch(ds: Datastream, ids: Map[String, String],
      sample: Boolean, redeliver: Boolean): Seq[String] = {
    val b = batchNo
    batchNo += 1
    val lo = deliveredHi
    val hi = lo + shape.batchHours * 3600L
    val rows = between(lo, hi)
    val df = frame(ids, rows)
    tr.span("batch") {
      val t0 = System.nanoTime()
      val r = tr.span("append")(ds.appendMultiple(df, checkTimestamp = false,
        dedupExisting = true))
      attempted += 1; offered += rows.size; written += r.written
      if (r.written != rows.size)
        fail(s"batch $b wrote ${r.written} of ${rows.size} rows")
      if (r.written > 0) r.maxT.foreach { m =>
        tr.span("ladder")(ds.downsampleStreams(m))
        untilSec = math.max(untilSec, m.getTime / 1000L)
      }
      if (sample) fresh += (System.nanoTime() - t0) / 1e9
      if (shape.compactEvery > 0 && r.written > 0) {
        sinceCompact += 1
        if (sinceCompact >= shape.compactEvery) {
          sinceCompact = 0
          tr.span("compact")(ds.compactStore(lenient = true))
        }
      }
      if (redeliver) {
        val r2 = tr.span("redeliver")(ds.appendMultiple(df,
          checkTimestamp = false, dedupExisting = true))
        attempted += 1; offered += rows.size
        if (r2.written != 0) fail(s"re-delivery of batch $b wrote ${r2.written} rows")
      }
    }
    deliveredHi = hi
    rows.map(_.key).distinct.sorted
  }

  private def read(ds: Datastream, ids: Map[String, String], key: String,
      g: Granularity, s: Option[Long], e: Option[Long], sample: Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val got = tr.span("read") {
        ds.getData(ids(key), g, start = s.map(x => new Timestamp(x * 1000L)),
          end = e.map(x => new Timestamp(x * 1000L))).collect()
      }
      if (sample) readMs += (System.nanoTime() - t0) / 1e6
      val rows = got.toSeq.map { r =>
        val t = r.getAs[Timestamp]("t").getTime / 1000L
        if (g == Granularity.Seconds) {
          val v = r.getAs[Double]("v")
          (t, v, v, v, 1L)
        } else (t, r.getAs[Double]("sum"), r.getAs[Double]("min"),
          r.getAs[Double]("max"), r.getAs[Long]("count"))
      }
      reads += Read(key, g, s, e, untilSec, deliveredHi, rows)
    } catch {
      case ex: Exception => fail(s"getData($key, ${g.name}) threw $ex")
    }
  }
}
