package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.gates.Fixtures
import graft.model.Granularity
import graft.operators.{Derive, Downsample}
import graft.streaming.{ReorderBuffers, Streaming}

/** M5 batch≡streaming equivalence (SURVEY §5.4): the streaming pipelines
  * must produce exactly the batch results for completed buckets.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.obs.GraftSession.local(4)

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming downsample emits exactly the closed buckets of the batch path") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val src = mem.toDF.toDF("stream_id", "t", "v")
    val q = Streaming.downsample(src, Granularity.Minutes)
      .writeStream.format("memory").queryName("ds_out")
      .outputMode("append").start()

    val b1 = Seq(("s1", ts("2024-01-01 00:00:05"), 1.0),
      ("s1", ts("2024-01-01 00:00:15"), 2.0),
      ("s1", ts("2024-01-01 00:01:15"), 3.0))
    val b2 = Seq(("s1", ts("2024-01-01 00:05:30"), 4.0))
    val b3 = Seq(("s1", ts("2024-01-01 00:09:30"), 5.0))
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    mem.addData(b3); q.processAllAvailable()
    q.stop()

    // processAllAvailable drains until the final watermark (max t seen =
    // 00:09:30) is applied, so every bucket ending at or before it closes:
    // minutes 0, 1, 5. Minute 9 (end 10:00) stays open.
    val got = spark.table("ds_out")
      .select("stream_id", "t", "c", "s", "q", "l", "u", "m", "d",
        "t_first", "t_last", "t_mean")
      .collect().map(_.toSeq).toSet
    val batch = (b1 ++ b2 ++ b3).toDF("stream_id", "t", "v")
    val expected = Downsample
      .toGranularity(batch, Granularity.Minutes, Some(ts("2024-01-01 00:09:30")))
      .select("stream_id", "t", "c", "s", "q", "l", "u", "m", "d",
        "t_first", "t_last", "t_mean")
      .collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.size == 3) // minutes 0, 1, 5
  }

  test("stateful streaming derivative == batch derivative across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.derivative(mem.toDS())
      .writeStream.format("memory").queryName("drv_out")
      .outputMode("append").start()
    val pts = Seq(
      Streaming.Point("a", ts("2024-01-01 00:00:00"), 10.0),
      Streaming.Point("a", ts("2024-01-01 00:00:10"), 30.0),
      Streaming.Point("b", ts("2024-01-01 00:00:00"), 1.0),
      Streaming.Point("a", ts("2024-01-01 00:00:20"), 25.0),
      Streaming.Point("b", ts("2024-01-01 00:00:30"), 4.0))
    mem.addData(pts.take(3)); q.processAllAvailable()
    mem.addData(pts.drop(3)); q.processAllAvailable()
    q.stop()
    val got = spark.table("drv_out")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
    val batch = Derive
      .derivative(pts.toDF("stream_id", "t", "v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(got == batch)
    assert(got.size == 3)
  }

  test("reorder buffer: bounded-skew shuffled replay through the twins == in-order delivery (V2 / V4 / EWMA / CUSUM / Holt)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // every twin's contract is per-key in-order delivery; real feeds
    // violate it within a bounded skew. The wrapper must hand the twin
    // an in-order feed under ANY disorder <= maxDelay — pinned here by a
    // seeded random bounded-skew shuffle across micro-batch cuts.
    def t0 = ts("2024-01-01 00:00:00").getTime
    val ptsA = (0 until 30).map(i => Streaming.Point("a",
      new java.sql.Timestamp(t0 + i * 10000L), 10.0 + 7.0 * math.sin(i)))
    // counter with a wrap at i=20 for the V4 lane
    val ptsB = (0 until 30).map(i => Streaming.Point("b",
      new java.sql.Timestamp(t0 + i * 10000L),
      if (i < 20) 100.0 + i * 7 else i * 3.0))
    val real = (ptsA ++ ptsB)
    val rnd = new scala.util.Random(11)
    // bounded skew: delivery order = event time + jitter in [-15s, +15s]
    val shuffled = real.sortBy(p => p.t.getTime + (rnd.nextInt(31) - 15) * 1000L)
    // sentinels drive the watermark past every real point so held
    // buffers drain through their timers (distinct key; filtered below)
    val sentinels = Seq(
      Streaming.Point("zz", new java.sql.Timestamp(t0 + 3600 * 1000L), 1.0),
      Streaming.Point("zz", new java.sql.Timestamp(t0 + 7200 * 1000L), 2.0))
    def run(name: String,
        twin: org.apache.spark.sql.Dataset[Streaming.Point] =>
          org.apache.spark.sql.Dataset[_]) = {
      val mem = MemoryStream[Streaming.Point]
      val q = twin(ReorderBuffers.reorderBuffer(mem.toDS(), "60 seconds"))
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        shuffled.grouped(13).foreach { b => mem.addData(b); q.processAllAvailable() }
        sentinels.foreach { p => mem.addData(Seq(p)); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name).where(col("stream_id") =!= "zz")
        .collect().map(_.toSeq).toSet
    }
    def ordered(name: String,
        twin: org.apache.spark.sql.Dataset[Streaming.Point] =>
          org.apache.spark.sql.Dataset[_]) = {
      val mem = MemoryStream[Streaming.Point]
      val q = twin(mem.toDS())
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try { mem.addData(real); q.processAllAvailable() } finally q.stop()
      spark.table(name)
        .collect().map(_.toSeq).toSet
    }
    val lanes = Seq[(String,
        org.apache.spark.sql.Dataset[Streaming.Point] =>
          org.apache.spark.sql.Dataset[_])](
      ("v2", Streaming.derivative),
      ("v4", s => Streaming.counterDerivative(s, Some(250.0))),
      ("ewma", s => Streaming.ewma(s, 0.3)),
      // r14: the remaining in-order-contract twins under the same
      // bounded-skew pin — a leaky buffer folds CUSUM's running min/max
      // or Holt's level/trend in the wrong order and diverges
      ("cusum", s => Streaming.cusum(s, 10000L, 40000L)),
      ("holt", s => Streaming.holt(s, 0.5, 0.3)))
    for ((nm, twin) <- lanes) {
      val got = run(s"rob_$nm", twin)
      val ref = ordered(s"rob_ref_$nm", twin)
      assert(got == ref,
        s"$nm under bounded-skew replay diverged from in-order delivery")
      assert(got.nonEmpty)
    }
  }

  test("fused skewed twins (one stateful op) == chained reorderBuffer -> fold, bit-equal (V2 / V4 with resets)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // r17: the skewed gates fold behind a buffer FUSED into the same
    // stateful processor (one shuffle + one state-store commit per
    // partition per micro-batch instead of two/three). Pin: on a seeded
    // bounded-skew replay, fused output == the r16 chained formulation's
    // output, row for row (same doubles — both run foldCounterReset /
    // derivativeFold verbatim).
    def t0 = ts("2024-01-01 00:00:00").getTime
    val pts = (0 until 40).flatMap { i =>
      Seq(Streaming.Point("a", new java.sql.Timestamp(t0 + i * 10000L),
          10.0 + 7.0 * math.sin(i)),
        Streaming.Point("b", new java.sql.Timestamp(t0 + i * 10000L),
          if (i < 25) 50.0 + i * 5 else i * 2.0))
    }
    val resets = pts.filter(p => p.v.toLong % 5 == 2)
      .map(p => Streaming.ResetEvent(p.stream_id, p.t))
    val rnd = new scala.util.Random(23)
    def jit(s: Seq[Streaming.Point]) =
      s.sortBy(p => p.t.getTime + (rnd.nextInt(31) - 15) * 1000L)
    val rndR = new scala.util.Random(29)
    val shuffledP = jit(pts)
    val shuffledR = resets.sortBy(r =>
      r.t.getTime + (rndR.nextInt(31) - 15) * 1000L)
    val maxT = pts.map(_.t.getTime).max
    def sentinelsAt(off: Long) = Seq(
      Streaming.Point("zz", new java.sql.Timestamp(maxT + off), 0.0))

    // --- V2: derivativeSkewed vs derivative(reorderBuffer(...)) ---
    def runV2(name: String, fused: Boolean) = {
      val mem = MemoryStream[Streaming.Point]
      val out =
        if (fused) Streaming.derivativeSkewed(mem.toDS(), "60 seconds")
        else Streaming.derivative(
          ReorderBuffers.reorderBuffer(mem.toDS(), "60 seconds"))
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        shuffledP.grouped(17).foreach { b =>
          mem.addData(b); q.processAllAvailable()
        }
        Seq(3600000L, 7200000L).foreach { off =>
          mem.addData(sentinelsAt(off)); q.processAllAvailable()
        }
      } finally q.stop()
      spark.table(name).where(col("stream_id") =!= "zz")
        .collect().map(_.toSeq).toSet
    }
    val v2Fused = runV2("fused_v2", fused = true)
    val v2Chain = runV2("chain_v2", fused = false)
    assert(v2Fused == v2Chain, "V2 fused diverged from chained")
    assert(v2Fused.nonEmpty)

    // --- V4 + resets: counterDerivativeWithResetsSkewed vs chained ---
    def runV4(name: String, fused: Boolean) = {
      val memS = MemoryStream[Streaming.Point]
      val memR = MemoryStream[Streaming.ResetEvent]
      val out =
        if (fused) Streaming.counterDerivativeWithResetsSkewed(
          memS.toDS(), memR.toDS(), "60 seconds", Some(120.0))
        else Streaming.counterDerivativeWithResets(
          ReorderBuffers.reorderBuffer(memS.toDS(), "60 seconds"),
          ReorderBuffers.reorderBufferResets(memR.toDS(), "60 seconds"),
          Some(120.0))
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val sCut = shuffledP.grouped(shuffledP.length / 3 + 1).toSeq
        val rCut = shuffledR.grouped(shuffledR.length / 3 + 1).toSeq
        (0 until 3).foreach { i =>
          if (i < rCut.length) memR.addData(rCut(i))
          if (i < sCut.length) memS.addData(sCut(i))
          q.processAllAvailable()
        }
        Seq(3600000L, 7200000L).foreach { off =>
          memS.addData(sentinelsAt(off))
          memR.addData(Seq(Streaming.ResetEvent("zz",
            new java.sql.Timestamp(maxT + off))))
          q.processAllAvailable()
        }
      } finally q.stop()
      spark.table(name).where(col("stream_id") =!= "zz")
        .collect().map(_.toSeq).toSet
    }
    val v4Fused = runV4("fused_v4", fused = true)
    val v4Chain = runV4("chain_v4", fused = false)
    assert(v4Fused == v4Chain, "V4 fused diverged from chained")
    assert(v4Fused.nonEmpty)
  }

  test("fused skewed V4 drain holds rows on the watermark: a reset from a later call of the batch still folds first") {
    // Late rows are dropped against the PREVIOUS batch's watermark but
    // drain against the current one, so a row with t == watermark is due
    // on arrival, and a union-fed stateful operator can hand a key's rows
    // to handleInputRows in more than one call per micro-batch. Replay
    // the processor's drains for that split: call 1 brings a counter
    // wrap (100 -> 10) exactly on the watermark, call 2 its reset. The
    // wrap must not fold before the reset arrives.
    import Streaming.{CoreFolds, CounterResetState, TaggedPoint}
    val t0 = ts("2024-01-01 00:00:00").getTime
    val wm = t0 + 60000L
    def pt(ms: Long, v: Double) = TaggedPoint("a", new Timestamp(ms), v, is_reset = false)
    val st0 = CounterResetState(t0, 100.0, Long.MinValue, Nil)
    val (out1, held1, st1) = CoreFolds.drainCounterReset(
      "a", Seq(pt(wm, 10.0)), st0, wm, Some(120.0))
    assert(out1.isEmpty && held1.size == 1,
      s"a row on the watermark folded before its batch ended: $out1")
    val reset = TaggedPoint("a", new Timestamp(wm), 0.0, is_reset = true)
    val (out2, held2, _) = CoreFolds.drainCounterReset(
      "a", held1 :+ reset, st1, wm, Some(120.0))
    assert(out2.isEmpty && held2.size == 2)
    // the next batch's watermark is past both: reset first, interval
    // suppressed
    val (out3, held3, _) = CoreFolds.drainCounterReset(
      "a", held2, st1, wm + 1000L, Some(120.0))
    assert(held3.isEmpty && out3.isEmpty,
      s"the reset on the watermark did not suppress the wrap: $out3")
    // control: without the reset the wrap emits (120 - 100 + 10) / 60
    val (ctl, _, _) = CoreFolds.drainCounterReset(
      "a", held1, st1, wm + 1000L, Some(120.0))
    assert(ctl.map(_.v) == Seq(0.5))
  }

  test("streaming ACF sufficient statistics == batch autocorr across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.autocorrStats(mem.toDS(), Seq(1, 3))
      .writeStream.format("memory").queryName("acf_out")
      .outputMode("append").start()
    // deterministic wavy series over two streams; the 3-batch split cuts
    // mid-stream so ring state must carry pairs ACROSS batch boundaries
    val pts = (0 until 30).map { i =>
      val sid = if (i % 2 == 0) "a" else "b"
      Streaming.Point(sid, ts(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        10.0 + 7.0 * math.sin(i.toDouble) + i * 0.3)
    }
    pts.grouped(11).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    // live value per (stream, lag) = the LAST emitted snapshot — compare
    // against the batch op's exact integer sums (n may be null batch-side
    // only for streams shorter than the lag; none here)
    // snapshots are cumulative: the live row per (stream, lag) is the one
    // with max n_pairs (ties are bit-identical rows, so max(struct) is
    // deterministic where last() would not be)
    val got = spark.table("acf_out")
      .groupBy("stream_id", "lag")
      .agg(max(struct(col("n_pairs"), col("c_fp"), col("sa_fp"),
        col("sb_fp"), col("sqa_fp"), col("sqb_fp"))).as("s"))
      .select(col("stream_id"), col("lag"), col("s.*"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    val batch = graft.operators.Temporal.autocorr(
        pts.toDF("stream_id", "t", "v")
          .withColumn("sec", unix_timestamp(col("t"))),
        "stream_id", "sec", "v", Seq(1, 3))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    assert(got == batch, s"streaming $got\nvs batch $batch")
    assert(got.size == 4) // 2 streams × 2 lags
  }

  test("event-time timers: silence alerts fire when the watermark passes last_seen + gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.silenceAlerts(mem.toDS(), gapSec = 30L)
      .writeStream.format("memory").queryName("silence_out")
      .outputMode("append").start()
    // batch 1: a and b seen; watermark advances to 00:00:40 at batch end
    mem.addData(Seq(
      Streaming.Point("a", ts("2024-01-01 00:00:00"), 1.0),
      Streaming.Point("b", ts("2024-01-01 00:00:00"), 1.0),
      Streaming.Point("b", ts("2024-01-01 00:00:40"), 1.0)))
    q.processAllAvailable()
    // batch 2 runs with watermark 40s: a's timer (0+30) fires, b's (70) not
    mem.addData(Seq(Streaming.Point("c", ts("2024-01-01 00:02:00"), 1.0)))
    q.processAllAvailable()
    // batch 3 runs with watermark 120s: b fires; Spark then schedules the
    // no-data timer-flush batch at the advanced watermark 180s, which
    // fires c (150). d's timer (210) stays armed; a does NOT fire again
    // (one alert per silence window)
    mem.addData(Seq(Streaming.Point("d", ts("2024-01-01 00:03:00"), 1.0)))
    q.processAllAvailable()
    q.stop()
    val alerts = spark.table("silence_out")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    assert(alerts.toSet == Set(
      ("a", ts("2024-01-01 00:00:00"), 30L),
      ("b", ts("2024-01-01 00:00:40"), 30L),
      ("c", ts("2024-01-01 00:02:00"), 30L)), alerts.toSeq.toString)
    assert(alerts.length == 3, "each silence window must alert exactly once")
  }

  test("streaming burstiness snapshot == batch Fano stats across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.burstinessStats(mem.toDS())
      .writeStream.format("memory").queryName("burst_out")
      .outputMode("append").start()
    // bursty stream "a" (9 events in minute 0, then 1/minute), regular
    // stream "b" (one per minute); the batch split cuts INSIDE a's
    // minute 0, so the open bucket must carry across the boundary
    val pts =
      (((0 to 8) ++ Seq(60, 120, 180)).map(sec =>
        Streaming.Point("a", ts(f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d"), 1.0)) ++
       Seq(0, 60, 120, 180, 240).map(sec =>
        Streaming.Point("b", ts(f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d"), 1.0)))
        .sortBy(_.t.getTime)
    pts.grouped(6).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    // live snapshot per stream = the one with max n/total (cumulative)
    val got = spark.table("burst_out")
      .groupBy("stream_id")
      .agg(max(struct(col("total_events"), col("n_minutes"), col("q_sum"),
        col("fano_bp"))).as("s"))
      .select(col("stream_id"), col("s.*"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    // batch mirror of the ds_burstiness pipeline over the same points
    val batch = pts.toDF("stream_id", "t", "v")
      .select(col("stream_id"), expr("unix_timestamp(t) div 60").as("m"))
      .groupBy("stream_id", "m").agg(count(lit(1)).as("c"))
      .groupBy("stream_id")
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(col("c") * col("c")).as("q"))
      .select(col("stream_id"), col("n"), col("s"), col("q"),
        expr("(10000L * (n * q - s * s)) div (n * s)").as("fano_bp"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // got: (n_minutes, total, q_sum, fano) == batch (n, s, q, fano)
    assert(got == batch, s"streaming $got\nvs batch $batch")
    assert(got("a")._4 > 10000L && got("b")._4 == 0L)
  }

  test("streaming CUSUM == batch closed form across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.cusum(mem.toDS(), targetFp = 12000L,
        thresholdFp = 9000L)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    val pts = (0 until 24).map { i =>
      val sid = if (i % 3 == 0) "x" else "y"
      Streaming.Point(sid, ts(f"2024-01-01 00:00:${i * 2}%02d"),
        12.0 + (if (i > 12) 4.5 else -1.5) + (i % 5) * 0.7)
    }
    pts.grouped(7).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("cusum_out")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    val batch = graft.operators.Temporal.cusumPoints(
        pts.toDF("stream_id", "t", "v")
          .withColumn("sec", unix_timestamp(col("t"))),
        "stream_id", "sec", "v", Some(12000L), 9000L)
      .collect().map(r => (r.getString(0), r.getLong(1) * 1000L) ->
        (r.getLong(2), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    assert(got.size == 24 && got == batch,
      s"streaming $got\nvs batch $batch")
  }

  test("stateful streaming ewma == batch ewma across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.ewma(mem.toDS(), alpha = 0.3)
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("append").start()
    val pts = Seq(
      Streaming.Point("a", ts("2024-01-01 00:00:00"), 10.0),
      Streaming.Point("a", ts("2024-01-01 00:00:10"), 30.0),
      Streaming.Point("b", ts("2024-01-01 00:00:00"), 1.0),
      Streaming.Point("a", ts("2024-01-01 00:00:20"), 25.0),
      Streaming.Point("b", ts("2024-01-01 00:00:30"), 4.0))
    mem.addData(pts.take(3)); q.processAllAvailable()
    mem.addData(pts.drop(3)); q.processAllAvailable()
    q.stop()
    val got = spark.table("ewma_out")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
    // bit-equal to the batch fold: same recurrence, same fold order
    val batch = Derive.ewma(pts.toDF("stream_id", "t", "v"), 0.3)
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(got == batch)
    assert(got.size == 5)
  }

  test("stateful streaming holt == batch holt (final state, bit-equal)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.holt(mem.toDS(), 0.3, 0.2)
      .writeStream.format("memory").queryName("holt_out")
      .outputMode("append").start()
    val pts = Seq(
      Streaming.Point("a", ts("2024-01-01 00:00:00"), 10.0),
      Streaming.Point("a", ts("2024-01-01 00:00:10"), 12.0),
      Streaming.Point("b", ts("2024-01-01 00:00:00"), 5.0),
      Streaming.Point("a", ts("2024-01-01 00:00:20"), 14.0),
      Streaming.Point("a", ts("2024-01-01 00:00:30"), 13.0),
      Streaming.Point("b", ts("2024-01-01 00:00:40"), 6.5))
    mem.addData(pts.take(3)); q.processAllAvailable()
    mem.addData(pts.drop(3)); q.processAllAvailable()
    q.stop()
    // live state per stream = the snapshot at max t
    val got = spark.table("holt_out")
      .groupBy("stream_id")
      .agg(max(struct(col("t"), col("level"), col("trend"))).as("s"))
      .select(col("stream_id"), col("s.level"), col("s.trend"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val batch = graft.operators.Derive
      .holt(pts.map(p => (p.stream_id, p.t, p.v)).toDF("stream_id", "t", "v"),
        0.3, 0.2)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(got == batch) // identical fold arithmetic -> bit-equal doubles
    assert(got.keySet == Set("a", "b"))
  }

  test("stateful streaming holt_winters == batch (final state, bit-equal, ring survives batch cuts)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.holtWinters(mem.toDS(), 0.3, 0.2, 0.4, 3)
      .writeStream.format("memory").queryName("hw_out")
      .outputMode("append").start()
    // 7 points on one stream (phase wraps the period-3 ring twice,
    // split mid-ring across batches) + a 2-point stream
    val pts = (0 until 7).map(i =>
      Streaming.Point("a", ts(f"2024-01-01 00:0$i:00"), 10.0 + 3.0 * i)) ++
      Seq(Streaming.Point("b", ts("2024-01-01 00:00:00"), 5.0),
        Streaming.Point("b", ts("2024-01-01 00:01:00"), 8.0))
    val ordered = pts.sortBy(p => (p.t.getTime, p.v))
    mem.addData(ordered.take(4)); q.processAllAvailable()
    mem.addData(ordered.drop(4)); q.processAllAvailable()
    q.stop()
    val got = spark.table("hw_out")
      .groupBy("stream_id")
      .agg(max(struct(col("t"), col("level"), col("trend"),
        col("forecast_1"))).as("s"))
      .select(col("stream_id"), col("s.level"), col("s.trend"),
        col("s.forecast_1"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val batch = graft.operators.Derive
      .holtWinters(pts.map(p => (p.stream_id, p.t, p.v))
        .toDF("stream_id", "t", "v"), 0.3, 0.2, 0.4, 3)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(got == batch) // identical fold arithmetic -> bit-equal doubles
    assert(got.keySet == Set("a", "b"))
    // sanity vs a driver-side reference fold for stream a
    val xs = (0 until 7).map(i => 10.0 + 3.0 * i)
    var (l, b) = (xs.head, 0.0)
    val ring = Array.fill(3)(0.0)
    for (i <- 1 until xs.size) {
      val ph = i % 3; val sOld = ring(ph)
      val lt = 0.3 * (xs(i) - sOld) + 0.7 * (l + b)
      b = 0.2 * (lt - l) + 0.8 * b
      ring(ph) = 0.4 * (xs(i) - lt) + 0.6 * sOld
      l = lt
    }
    assert(got("a") == ((l, b, l + b + ring(7 % 3))))
  }

  test("stateful streaming counter_derivative handles wrap across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.counterDerivative(mem.toDS(), Some(100.0))
      .writeStream.format("memory").queryName("cd_out")
      .outputMode("append").start()
    mem.addData(Seq(Streaming.Point("c", ts("2024-01-01 00:00:00"), 90.0)))
    q.processAllAvailable()
    // wrap 90 -> 10 arrives in a later micro-batch: delta = (100-90)+10
    mem.addData(Seq(Streaming.Point("c", ts("2024-01-01 00:00:10"), 10.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cd_out")
      .collect().map(r => (r.getTimestamp(1), r.getDouble(2))).toSeq
    assert(got == Seq((ts("2024-01-01 00:00:10"), 2.0)))
  }

  test("two-input streaming counter_derivative with live resets == batch V4") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // wrapping counter over two streams with mid-stream resets: one reset
    // BETWEEN points (suppresses the next interval), one reset exactly ON
    // a source timestamp (tie rule: suppresses the interval ending there),
    // one reset on stream b only, one wrap AFTER a reset (the first
    // emission post-reset must baseline on the suppressed point). The
    // 3-batch replay cuts both streams on common time boundaries so a
    // reset and its suppressed interval land in DIFFERENT micro-batches —
    // the reset timestamp must persist in state.
    val srcPts = Seq(
      Streaming.Point("a", ts("2024-01-01 00:00:00"), 90.0),
      Streaming.Point("a", ts("2024-01-01 00:00:10"), 95.0),
      Streaming.Point("a", ts("2024-01-01 00:00:20"), 5.0),  // wrap
      Streaming.Point("a", ts("2024-01-01 00:00:30"), 15.0), // reset at same t
      Streaming.Point("a", ts("2024-01-01 00:00:40"), 20.0),
      Streaming.Point("a", ts("2024-01-01 00:00:50"), 3.0),  // wrap after reset
      Streaming.Point("b", ts("2024-01-01 00:00:05"), 10.0),
      Streaming.Point("b", ts("2024-01-01 00:00:25"), 40.0), // suppressed
      Streaming.Point("b", ts("2024-01-01 00:00:45"), 50.0))
    val rstPts = Seq(
      Streaming.ResetEvent("a", ts("2024-01-01 00:00:30")), // ties src t
      Streaming.ResetEvent("b", ts("2024-01-01 00:00:15"))) // between pts
    val memS = MemoryStream[Streaming.Point]
    val memR = MemoryStream[Streaming.ResetEvent]
    val q = Streaming
      .counterDerivativeWithResets(memS.toDS(), memR.toDS(), Some(100.0))
      .writeStream.format("memory").queryName("cdr_out")
      .outputMode("append").start()
    // common cuts at :15 and :35, resets enqueued BEFORE sources per
    // slice (the early-not-late delivery contract: the engine may fold
    // the two feeds' blocks in separate micro-batches, so a slice's
    // resets can only arrive EARLY — the pending-reset buffer applies
    // them by timestamp). b's reset lands ahead of its suppressed point;
    // a's tied reset + point exercise the reset-first tie rule.
    val cuts = Seq(ts("2024-01-01 00:00:15").getTime,
      ts("2024-01-01 00:00:35").getTime, Long.MaxValue)
    var lo = Long.MinValue
    cuts.foreach { hi =>
      memR.addData(rstPts.filter(p => p.t.getTime >= lo && p.t.getTime < hi))
      memS.addData(srcPts.filter(p => p.t.getTime >= lo && p.t.getTime < hi))
      q.processAllAvailable()
      lo = hi
    }
    q.stop()
    val got = spark.table("cdr_out")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .toSet
    val batch = Derive.counterDerivative(
        srcPts.map(p => (p.stream_id, p.t, p.v)).toDF("stream_id", "t", "v"),
        Some(100.0),
        Some(rstPts.map(r => (r.stream_id, r.t)).toDF("stream_id", "t")))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .toSet
    assert(got == batch)
    // hand-checked shape: a emits at :10 (0.5), :20 (wrap 1.0), :40
    // (suppressed at :30 by the tied reset, then baseline = the :30
    // point → (20-15)/10), :50 (wrap (100-20+3)/10); b emits at :45
    // only ((50-40)/20 — :25 suppressed by the :15 reset)
    assert(got == Set(
      ("a", ts("2024-01-01 00:00:10"), 0.5),
      ("a", ts("2024-01-01 00:00:20"), 1.0),
      ("a", ts("2024-01-01 00:00:40"), 0.5),
      ("a", ts("2024-01-01 00:00:50"), 8.3),
      ("b", ts("2024-01-01 00:00:45"), 0.5)))
  }

  test("streaming gap-fill: closed hours + carried-forward gaps, split-invariant") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // stream a: hours 0 (two points, mean 1.5), 1, then a 2-hour gap to
    // hour 4 (still open, never emits); stream b: single hour (nothing
    // closes). The 2-batch replay cuts MID-hour-1 so the open hour's
    // partial (sum, cnt) must carry in state.
    val pts = Seq(
      Streaming.Point("a", ts("2024-01-01 00:10:00"), 1.0),
      Streaming.Point("a", ts("2024-01-01 00:40:00"), 2.0),
      Streaming.Point("a", ts("2024-01-01 01:05:00"), 5.0),
      Streaming.Point("a", ts("2024-01-01 01:55:00"), 7.0),
      Streaming.Point("a", ts("2024-01-01 04:30:00"), 9.0),
      Streaming.Point("b", ts("2024-01-01 02:00:00"), 3.0))
    val expected = Set(
      ("a", 473352L, 1.5, false), // hour 0 of 2024-01-01 = epoch-hr 473352
      ("a", 473353L, 6.0, false),
      ("a", 473354L, 6.0, true),
      ("a", 473355L, 6.0, true))
    for ((cut, i) <- Seq(6, 4).zipWithIndex) {
      val mem = MemoryStream[Streaming.Point]
      val q = Streaming.gapFillHours(mem.toDS())
        .writeStream.format("memory").queryName(s"gapf_out_$i")
        .outputMode("append").start()
      mem.addData(pts.take(cut)); q.processAllAvailable()
      mem.addData(pts.drop(cut)); q.processAllAvailable()
      q.stop()
      val got = spark.table(s"gapf_out_$i")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).toSet
      assert(got == expected, s"split at $cut diverged: $got")
    }
  }

  test("streaming winnow decontamination == batch op, any batch split") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 120)
      .localCheckpoint(true)
    val evalDocs = docs.where(col("doc_id") < 5)
    val boil = graft.operators.Dedup.winnowFingerprints(docs)
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") > 20).select("fp").localCheckpoint(true)
    val batchRows = graft.operators.Dedup
      .winnowContamination(docs, evalDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    // two different splits (1 batch; 3 uneven batches) — the flagged set
    // must be identical and equal the batch op (pure per-doc decision
    // against fixed broadcast screening sets)
    val splits = Seq(Seq(rows.toSeq),
      Seq(rows.take(17).toSeq, rows.slice(17, 80).toSeq, rows.drop(80).toSeq))
    splits.zipWithIndex.foreach { case (batches, i) =>
      val work = java.nio.file.Files
        .createTempDirectory(s"graft-contamw-$i").toString
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.Streaming
        .winnowContaminationStream(mem.toDF.toDF("doc_id", "text"),
          evalDocs, boil, s"$work/out")
        .option("checkpointLocation", s"$work/ckpt").start()
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      val got = spark.read.parquet(s"$work/out")
        .select("doc_id", "n_shared_fps", "n_eval_docs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == batchRows, s"split $i diverged from the batch op")
    }
  }

  test("stream-stream interval join == batch interval join across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val lmem = MemoryStream[(String, Timestamp, Double)]
    val rmem = MemoryStream[(String, Timestamp, Double)]
    val q = Streaming.intervalJoin(
        lmem.toDF.toDF("stream_id", "t", "v"),
        rmem.toDF.toDF("stream_id", "rt", "rv"))
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    val lpts = Seq(("a", ts("2024-01-01 00:01:00"), 1.0),
      ("a", ts("2024-01-01 00:03:00"), 2.0),
      ("b", ts("2024-01-01 00:01:00"), 3.0))
    val rpts = Seq(("a", ts("2024-01-01 00:00:30"), 10.0), // within 60s of l1
      ("a", ts("2024-01-01 00:03:50"), 20.0),              // within 60s of l2
      ("a", ts("2024-01-01 00:10:00"), 30.0),              // matches nothing
      ("b", ts("2024-01-01 00:01:30"), 40.0))              // other stream
    // right rows arrive a batch EARLIER and LATER than their left match —
    // the join must buffer state across micro-batches in both directions
    rmem.addData(rpts.take(1)); q.processAllAvailable()
    lmem.addData(lpts); q.processAllAvailable()
    rmem.addData(rpts.drop(1)); q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_out").collect().map(_.toSeq).toSet
    val batch = lpts.toDF("stream_id", "t", "v")
      .join(rpts.toDF("r_stream_id", "rt", "rv"),
        col("stream_id") === col("r_stream_id") &&
          col("rt") >= col("t") - expr("interval 60 seconds") &&
          col("rt") <= col("t") + expr("interval 60 seconds"))
      .select("stream_id", "t", "v", "rt", "rv")
      .collect().map(_.toSeq).toSet
    assert(got == batch)
    assert(got.size == 3)
  }

  test("streaming sessionization == batch session_window on closed sessions") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.sessionize(mem.toDS().toDF(), gap = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    val pts = Seq(
      Streaming.Point("a", ts("2024-01-01 00:00:00"), 1.0),
      Streaming.Point("a", ts("2024-01-01 00:05:00"), 2.0),  // same session
      Streaming.Point("b", ts("2024-01-01 00:00:00"), 5.0),
      Streaming.Point("a", ts("2024-01-01 01:00:00"), 3.0),  // new session
      Streaming.Point("b", ts("2024-01-01 00:09:00"), 6.0))  // extends b's
    mem.addData(pts.take(3)); q.processAllAvailable()
    mem.addData(pts.drop(3)); q.processAllAvailable()
    // sentinel far in the future advances the watermark past every real
    // session's (last event + gap) so they all close and emit
    mem.addData(Seq(Streaming.Point("wm", ts("2024-01-02 00:00:00"), 0.0)))
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4))
    val got = spark.table("sess_out").where(col("stream_id") =!= "wm")
      .collect().map(key).toSet
    // batch oracle: the SAME session_window over the complete data
    val batch = pts.toDF("stream_id", "t", "v")
      .groupBy(col("stream_id"), session_window(col("t"), "10 minutes"))
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .select(col("stream_id"), col("session_window.start"),
        col("session_window.end"), col("n"), col("s"))
      .collect().map(key).toSet
    assert(got == batch)
    assert(got.size == 3) // a: two sessions, b: one merged session
  }

  test("monotonicity gate flags late points across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val q = Streaming.monotonicityGate(mem.toDS())
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("append").start()
    mem.addData(Seq(Streaming.Point("g", ts("2024-01-01 00:00:10"), 1.0)))
    q.processAllAvailable()
    // one late (rejected, state unchanged), one on-time (accepted)
    mem.addData(Seq(
      Streaming.Point("g", ts("2024-01-01 00:00:05"), 2.0),
      Streaming.Point("g", ts("2024-01-01 00:00:20"), 3.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gate_out").collect()
      .map(r => (r.getTimestamp(1), r.getBoolean(3))).toMap
    assert(got(ts("2024-01-01 00:00:10")) && got(ts("2024-01-01 00:00:20")))
    assert(!got(ts("2024-01-01 00:00:05")))
  }

  test("streaming stream-sum (V1) == batch streamSum on closed buckets") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val q = Streaming.streamSum(mem.toDF.toDF("stream_id", "t", "v"),
        Granularity.Minutes, "vsum")
      .writeStream.format("memory").queryName("vsum_out")
      .outputMode("append").start()
    val data = Seq(
      ("a", ts("2024-01-01 00:00:10"), 1.0), ("b", ts("2024-01-01 00:00:20"), 2.0),
      ("a", ts("2024-01-01 00:01:10"), 4.0), ("b", ts("2024-01-01 00:05:00"), 8.0))
    mem.addData(data.take(2)); q.processAllAvailable()
    mem.addData(data.drop(2)); q.processAllAvailable()
    q.stop()
    val got = spark.table("vsum_out").collect()
      .map(r => (r.getTimestamp(1), r.getDouble(2))).toSet
    // watermark ends at 00:05:00 -> buckets 0 and 1 closed, 5 open
    val batch = graft.operators.Derive
      .streamSum(data.toDF("stream_id", "t", "v"), Granularity.Minutes, "vsum")
      .where(col("t") < ts("2024-01-01 00:05:00"))
      .collect().map(r => (r.getTimestamp(1), r.getDouble(2))).toSet
    assert(got == batch && got == Set(
      (ts("2024-01-01 00:00:00"), 3.0), (ts("2024-01-01 00:01:00"), 4.0)))
  }

  test("streaming sliding windows == batch sliding agg on closed windows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val q = Streaming.sliding(mem.toDF.toDF("stream_id", "t", "v"),
        "120 seconds", "60 seconds")
      .writeStream.format("memory").queryName("slide_out")
      .outputMode("append").start()
    val data = Seq(
      ("a", ts("2024-01-01 00:00:30"), 1.0), ("a", ts("2024-01-01 00:01:30"), 2.0),
      ("a", ts("2024-01-01 00:02:10"), 4.0), ("a", ts("2024-01-01 00:09:00"), 8.0))
    mem.addData(data.take(2)); q.processAllAvailable()
    mem.addData(data.drop(2)); q.processAllAvailable()
    q.stop()
    val got = spark.table("slide_out").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // batch twin over the same rows, keeping windows closed by the final
    // watermark (max t = 00:09:00 -> window end <= it)
    val batch = data.toDF("stream_id", "t", "v")
      .groupBy(col("stream_id"), window(col("t"), "120 seconds", "60 seconds"))
      .agg(count(lit(1)).as("c"), sum("v").as("s"))
      .where(col("window.end") <= ts("2024-01-01 00:09:00"))
      .select(col("stream_id"), col("window.start"), col("c"), col("s"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == batch)
    // each point lands in exactly 2 windows: the 00:00:30 point appears in
    // the windows starting 23:59 and 00:00
    assert(got.contains(("a", ts("2023-12-31 23:59:00"), 1L, 1.0)))
    assert(got.contains(("a", ts("2024-01-01 00:00:00"), 2L, 3.0)))
  }

  test("backprocess fills a derived stream created after source history exists") {
    import spark.implicits._
    val store = new graft.core.Datastream(spark,
      java.nio.file.Files.createTempDirectory("graft-backp").toString)
    val src = store.ensureStream(Map("name" -> "bp-src"))
    store.appendMultiple(Seq(
      (src, ts("2024-01-01 00:00:00"), 10.0),
      (src, ts("2024-01-01 00:00:10"), 30.0)).toDF("stream_id", "t", "v"))
    // derive_backprocess=false: declared AFTER data exists, stays empty
    // until an explicit backprocess pass
    val d = store.ensureStream(Map("name" -> "bp-d"),
      deriveFrom = Seq(src), deriveOp = Some(graft.model.DeriveOps.Derivative),
      deriveBackprocess = false)
    assert(store.getData(d, Granularity.Seconds).count() == 0)
    store.backprocessStreams()
    val rows = store.getData(d, Granularity.Seconds).collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(2.0))
    // the reference default (derive_backprocess=true) computes history at
    // creation time
    val d2 = store.ensureStream(Map("name" -> "bp-d2"),
      deriveFrom = Seq(src), deriveOp = Some(graft.model.DeriveOps.Derivative))
    assert(store.getData(d2, Granularity.Seconds)
      .collect().map(_.getDouble(1)).toSeq == Seq(2.0))
    // chains: a derived-of-derived source has no latest_ts of its own —
    // the history check must walk through it to the raw stream
    val d3 = store.ensureStream(Map("name" -> "bp-d3"),
      deriveFrom = Seq(d2), deriveOp = Some(graft.model.DeriveOps.CounterReset))
    assert(store.getData(d3, Granularity.Seconds).count() == 0) // no resets
    val d4 = store.ensureStream(Map("name" -> "bp-d4"),
      deriveFrom = Seq(d2), deriveOp = Some(graft.model.DeriveOps.Sum))
    assert(store.getData(d4, Granularity.Seconds)
      .collect().map(_.getDouble(1)).toSeq == Seq(2.0))
  }

  test("streaming ingest into the store == batch append + downsample") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def freshStore() = new graft.core.Datastream(spark,
      java.nio.file.Files.createTempDirectory("graft-stream").toString)

    val data = Seq(
      ("X", ts("2024-01-01 00:00:01"), 1.0), ("X", ts("2024-01-01 00:00:11"), 2.0),
      ("X", ts("2024-01-01 00:02:05"), 3.0), ("X", ts("2024-01-01 00:15:00"), 4.0))

    // streaming store
    val s1 = freshStore()
    val id1 = s1.ensureStream(Map("name" -> "ing"))
    val mem = MemoryStream[(String, Timestamp, Double)]
    val src = mem.toDF.toDF("sid", "t", "v")
      .select(lit(id1).as("stream_id"), col("t"), col("v"))
    val q = Streaming.ingest(src, s1).start()
    mem.addData(data.take(2)); q.processAllAvailable()
    mem.addData(data.drop(2)); q.processAllAvailable()
    q.stop()

    // batch store, downsampled to the same high-water mark
    val s2 = freshStore()
    val id2 = s2.ensureStream(Map("name" -> "ing"))
    s2.appendMultiple(data.toDF("sid", "t", "v")
      .select(lit(id2).as("stream_id"), col("t"), col("v")))
    s2.downsampleStreams(ts("2024-01-01 00:15:00"))

    def dump(ds: graft.core.Datastream) = ds.datapoints
      .select("granularity", "t", "v_num", "c", "s", "l", "u", "m", "d")
      .collect().map(_.toSeq).toSet
    assert(dump(s1) == dump(s2))
  }

  test("ingest restarts from its checkpoint without duplicating committed batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val store = new graft.core.Datastream(spark, s"$base/store")
    val id = store.ensureStream(Map("name" -> "resume"))
    val mem = MemoryStream[(String, Timestamp, Double)]
    val src = mem.toDF.toDF("sid", "t", "v")
      .select(lit(id).as("stream_id"), col("t"), col("v"))
    def writer = Streaming.ingest(src, store)
      .option("checkpointLocation", s"$base/ckpt")
    val q1 = writer.start()
    mem.addData(Seq(("x", ts("2024-01-01 00:00:01"), 1.0)))
    q1.processAllAvailable(); q1.stop()
    // a point arriving while no query runs is picked up by the restarted
    // query from the committed offset; if the engine re-delivers the
    // first batch, dedupExisting makes it a no-op — either way the store
    // must hold each point exactly once
    mem.addData(Seq(("x", ts("2024-01-01 00:01:02"), 2.0)))
    val q2 = writer.start()
    q2.processAllAvailable(); q2.stop()
    val raw = store.getData(id, Granularity.Seconds)
      .select("t", "v").collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1))).toSet
    assert(raw == Set((ts("2024-01-01 00:00:01"), 1.0),
      (ts("2024-01-01 00:01:02"), 2.0)))
  }

  test("re-delivered micro-batch is idempotent (dedupExisting drops raw dupes)") {
    import spark.implicits._
    val store = new graft.core.Datastream(spark,
      java.nio.file.Files.createTempDirectory("graft-redeliver").toString)
    val id = store.ensureStream(Map("name" -> "redeliver"))
    val batch = Seq(
      (id, ts("2024-01-01 00:00:01"), 1.0),
      (id, ts("2024-01-01 00:00:11"), 2.0)).toDF("stream_id", "t", "v")
    // foreachBatch at-least-once: the same micro-batch may arrive twice
    store.appendMultiple(batch, checkTimestamp = false, dedupExisting = true)
    store.appendMultiple(batch, checkTimestamp = false, dedupExisting = true)
    val raw = store.getData(id, Granularity.Seconds).collect()
    assert(raw.length == 2, s"raw level duplicated: ${raw.length} rows")
    // rollups built after the retry must see each point once
    store.downsampleStreams(ts("2024-01-01 01:00:00"))
    val m = store.getData(id, Granularity.Minutes).select("count", "sum").collect()
    assert(m.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((2L, 3.0)))
    // a genuinely new point in an already-seen time range still lands
    store.appendMultiple(Seq((id, ts("2024-01-01 00:00:05"), 9.0))
      .toDF("stream_id", "t", "v"), checkTimestamp = false, dedupExisting = true)
    assert(store.getData(id, Granularity.Seconds).count() == 3)
    // a DISTINCT value in an already-populated second is a new datapoint
    // (only exact (stream, t, value) re-deliveries are dropped)
    store.appendMultiple(Seq((id, ts("2024-01-01 00:00:01"), 7.0))
      .toDF("stream_id", "t", "v"), checkTimestamp = false, dedupExisting = true)
    assert(store.getData(id, Granularity.Seconds).count() == 4)
    // ...but re-delivering it again is still a no-op
    store.appendMultiple(Seq((id, ts("2024-01-01 00:00:01"), 7.0))
      .toDF("stream_id", "t", "v"), checkTimestamp = false, dedupExisting = true)
    assert(store.getData(id, Granularity.Seconds).count() == 4)
  }

  test("ingest with compactEvery keeps per-leaf file counts bounded") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-ingest-compact")
    val store = new graft.core.Datastream(spark, s"$base/store")
    val id = store.ensureStream(Map("name" -> "frag"))
    val mem = MemoryStream[(String, Timestamp, Double)]
    val src = mem.toDF.toDF("sid", "t", "v")
      .select(lit(id).as("stream_id"), col("t"), col("v"))
    val q = Streaming.ingest(src, store, compactEvery = 2)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // 6 batches into the SAME day: uncompacted that is 6 files in the
      // seconds leaf; compactEvery=2 caps it at (cadence - 1) + 1 = 2
      for (i <- 1 to 6) {
        mem.addData(Seq(("x", ts(f"2024-01-01 00:0$i%d:07"), i.toDouble)))
        q.processAllAvailable()
      }
    } finally q.stop()
    def secondsLeafFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$base/store/datapoints/granularity=seconds"))
        .count(_.getName.endsWith(".parquet"))
    }
    assert(secondsLeafFiles() <= 2,
      s"fragmentation unbounded: ${secondsLeafFiles()} files")
    assert(store.getData(id, Granularity.Seconds).collect()
      .map(_.getDouble(1)).sorted.toSeq == (1 to 6).map(_.toDouble))
  }

  test("psi drift monitor: any delivery order and split gives the batch PSI; same-id re-delivery idempotent") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("source", "n_chars")
    val rows = docs.as[(String, Long)].collect().toSeq
    val batchRef = graft.streaming.Streaming // compute via the batch gate's shape
    val expected = {
      val st = java.nio.file.Files
        .createTempDirectory("graft-psi-ref").toString + "/st"
      batchRef.psiDriftBatch(spark, st, docs, 0L)
      batchRef.psiDriftStats(spark, st)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2))).toMap
    }
    def run(order: Seq[(String, Long)], cuts: Int,
        redeliver: Boolean = false): Map[String, (Long, Double)] = {
      val st = java.nio.file.Files
        .createTempDirectory("graft-psi-run").toString + "/st"
      val groups = order.grouped(order.length / cuts + 1).toSeq
      groups.zipWithIndex.foreach { case (g, i) =>
        graft.streaming.Streaming.psiDriftBatch(spark, st,
          g.toDF("source", "n_chars"), i.toLong)
        if (redeliver && i == 0) // same-id re-run must overwrite
          graft.streaming.Streaming.psiDriftBatch(spark, st,
            g.toDF("source", "n_chars"), i.toLong)
      }
      graft.streaming.Streaming.psiDriftStats(spark, st)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2))).toMap
    }
    // counts commute: a seeded SHUFFLE (not just a different split) must
    // still fold to the batch PSI — the strongest invariance class
    val rnd = new scala.util.Random(3)
    assert(run(rows, 3) == expected)
    assert(run(rnd.shuffle(rows), 5) == expected)
    assert(run(rows, 2, redeliver = true) == expected)
  }

  test("curation funnel: stage deltas sum identically under any batch split; same-id re-delivery is idempotent") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("doc_id") < 300)
    val bench = raw.where(col("doc_id") % 97 === 0).localCheckpoint(true)
    val corpus = raw.where(col("doc_id") % 97 =!= 0)
      .select("doc_id", "source", "lang", "n_chars", "text")
      .orderBy("doc_id")
      .as[(Long, String, String, Long, String)].collect().toSeq
    def run(cuts: Int): Map[String, (Long, Long)] = {
      val stateDir = java.nio.file.Files
        .createTempDirectory(s"graft-cur-spec$cuts").toString + "/st"
      corpus.grouped(corpus.length / cuts + 1).zipWithIndex.foreach {
        case (g, i) =>
          graft.streaming.Streaming.curateBatch(spark, stateDir,
            g.toDF("doc_id", "source", "lang", "n_chars", "text"),
            i.toLong, bench)
      }
      graft.streaming.Streaming.curationStats(spark, stateDir)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
    }
    val one = run(1)
    assert(one.keySet == Set("s0_all", "s1_lang", "s2_quality", "s3_dedup",
      "s4_decontam", "s5_cap"))
    assert(one == run(3) && one == run(5),
      "funnel stats must be batch-split-invariant under ordered delivery")
    // same-id re-delivery (the checkpointed-foreachBatch contract):
    // re-running a batch overwrites its own partitions, never doubles
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft-cur-redeliver").toString + "/st"
    val halves = corpus.grouped(corpus.length / 2 + 1).toSeq
    graft.streaming.Streaming.curateBatch(spark, stateDir,
      halves(0).toDF("doc_id", "source", "lang", "n_chars", "text"), 0L, bench)
    graft.streaming.Streaming.curateBatch(spark, stateDir,
      halves(0).toDF("doc_id", "source", "lang", "n_chars", "text"), 0L, bench)
    graft.streaming.Streaming.curateBatch(spark, stateDir,
      halves(1).toDF("doc_id", "source", "lang", "n_chars", "text"), 1L, bench)
    val redelivered = graft.streaming.Streaming.curationStats(spark, stateDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(redelivered == one,
      "same-id re-delivery must overwrite, not double, its partitions")
  }

  test("streaming near-dedup == batch rule, split-invariant, chains collapse across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // hand-built jaccards (3-gram shingles): a~b = 10/11 ≈ 0.909,
    // b~c = 10/12 ≈ 0.833, a~c = 9/12 = 0.75 — at threshold 0.8 the
    // qualifying pairs are exactly (a,b) and (b,c): an a~b~c chain whose
    // ends do NOT match each other
    val toks = (1 to 12).map(i => s"t$i")
    val a = toks.mkString(" ")
    val b = (toks :+ "x").mkString(" ")
    val c = (("y" +: toks.tail) :+ "x").mkString(" ")
    val d = (1 to 12).map(i => s"u$i").mkString(" ")
    val e = (1 to 12).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, d), (5L, e))

    val pairs = graft.operators.Dedup.nearDuplicates(
      docs.toDF("doc_id", "text"), threshold = 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)), s"fixture drifted: $pairs")
    // batch rule: every doc_b of a qualifying pair drops -> {2, 3}; doc 3
    // drops even though its only match (2) is itself a dup
    val expected = Set(1L, 4L, 5L)

    def run(splits: Seq[Seq[(Long, String)]]): Set[Long] = {
      val work = java.nio.file.Files
        .createTempDirectory("graft-neardedup-spec").toString
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.dedupNear(mem.toDF.toDF("doc_id", "text"),
          s"$work/state", s"$work/out", threshold = 0.8)
        .option("checkpointLocation", s"$work/ckpt").start()
      try splits.foreach { bd => mem.addData(bd); q.processAllAvailable() }
      finally q.stop()
      spark.read.parquet(s"$work/out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    assert(run(Seq(docs)) == expected, "single-batch replay")
    // the chain splits across three batches: 2 must die within-batch
    // against 1, and 3 must die against the ALREADY-DEAD 2 in state —
    // proving dups index too (split-invariance); the re-sent final batch
    // is all exact dups of its first arrival, so no new survivors
    val split3 = Seq(docs.take(2), Seq(docs(2)), docs.drop(3),
      docs.drop(3))
    assert(run(split3) == expected, "3-batch + re-sent replay")
  }

  test("streaming semantic dedup decisions == batch semDedup, split-invariant") {
    // the gate corpus replayed in ordered micro-batches must reproduce
    // Similarity.semDedup's decision table exactly — within-batch
    // smaller-id election and the cross-batch cell index have to compose
    // into the same "smallest same-cell id within tau" rule regardless
    // of where the batch boundary falls
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val all = Fixtures.withInjectedEmbVariants(e)
    val cents = graft.operators.Similarity.strideCentroids(e, 50)
    def decisions(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cell", "dup_of").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    val batchRef = decisions(
      graft.operators.Similarity.semDedup(all, cents, 0.95))
    val rows = all.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    for (nBatches <- Seq(1, 3)) {
      val work = java.nio.file.Files
        .createTempDirectory("graft-semstream-spec").toString
      val mem = MemoryStream[(Long, Seq[Double])]
      val q = Streaming.semDedupStream(mem.toDF.toDF("vec_id", "emb"),
          cents, s"$work/state", s"$work/out", 0.95)
        .option("checkpointLocation", s"$work/ckpt").start()
      try {
        val size = math.max(1, rows.length / nBatches)
        rows.grouped(size).foreach { bd =>
          mem.addData(bd.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val streamed = decisions(spark.read.parquet(s"$work/out"))
      assert(streamed == batchRef,
        s"$nBatches-batch replay diverges from batch semDedup")
    }
  }

  test("dedup state compaction folds batch partitions, heals crashes, keeps dedup semantics") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val work = java.nio.file.Files
      .createTempDirectory("graft-dedupstate").toString
    val d1 = (1 to 12).map(i => s"a$i").mkString(" ")
    val d2 = (1 to 12).map(i => s"b$i").mkString(" ")
    val d3 = (1 to 12).map(i => s"c$i").mkString(" ")
    // each replay generation gets its own out dir + checkpoint (fresh
    // batch ids restart at 0 and would dynamic-overwrite an older
    // generation's survivor partitions); the STATE dir is the shared,
    // long-lived artifact under test
    def replay(gen: String, batches: Seq[Seq[(Long, String)]]): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.dedupNear(mem.toDF.toDF("doc_id", "text"),
          s"$work/state", s"$work/out_$gen", threshold = 0.8)
        .option("checkpointLocation", s"$work/ckpt_$gen").start()
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    replay("g1", Seq(Seq((1L, d1)), Seq((2L, d2))))
    // two batches -> two batch_id partitions per state sub; compaction
    // folds them into the single batch_id=-1 base
    Streaming.compactDedupState(spark, s"$work/state")
    def parts(sub: String) = new java.io.File(s"$work/state/$sub").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts("docs") == Set("batch_id=-1"), parts("docs"))
    assert(parts("bands") == Set("batch_id=-1"), parts("bands"))
    assert(spark.read.parquet(s"$work/state/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // a FRESH query (batch ids restart at 0) against the compacted state:
    // base -1 < 0 stays visible, so the re-sent d2 dups and d3 survives
    replay("g2", Seq(Seq((3L, d2), (4L, d3))))
    val survivors = spark.read.parquet(s"$work/out_g2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(4L), survivors)
    // crash heal: live dir moved into the backup, its new copy never
    // moved in — the next compaction must restore it first
    val docs = new java.io.File(s"$work/state/docs")
    val state = new org.apache.hadoop.fs.Path(s"$work/state")
    val bak = new java.io.File(
      graft.core.DirSwap.backupOf(state, "docs").toUri.getPath)
    bak.getParentFile.mkdirs()
    assert(docs.renameTo(bak))
    Streaming.compactDedupState(spark, s"$work/state")
    assert(!new java.io.File(
      graft.core.DirSwap.backup(state).toUri.getPath).exists())
    assert(parts("docs") == Set("batch_id=-1"))
    assert(spark.read.parquet(s"$work/state/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("streaming n-gram novelty == batch scoring, split-invariant under ordered replay") {
    assume(new java.io.File("/root/testdata/sf0.001/documents.parquet").exists())
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // batch reference = the text_ngram_novelty gate lane
    val batchRef = SparkEntry.queries("text_ngram_novelty")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val rows = docs.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    for (nBatches <- Seq(1, 4)) {
      val work = java.nio.file.Files
        .createTempDirectory("graft-noveltystream-spec").toString
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.ngramNoveltyStream(mem.toDF.toDF("doc_id", "text"),
          s"$work/state", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt").start()
      try {
        val size = math.max(1, rows.length / nBatches)
        rows.grouped(size).foreach { bd =>
          mem.addData(bd.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val streamed = spark.read.parquet(s"$work/out")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"))).toMap
      assert(streamed == batchRef,
        s"$nBatches-batch novelty replay diverges from the batch lane")
    }
  }

  test("in-loop dedup-state compaction: long run stays partition-bounded, survivors identical to uncompacted") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // 5 near-dup pairs (jaccard 10/11 within each pair, disjoint tokens
    // across pairs), one doc per micro-batch — every dup is CROSS-batch,
    // so compaction mid-stream must preserve the band index semantics
    val docs = (1 to 5).flatMap { k =>
      val toks = (1 to 12).map(i => s"p${k}t$i")
      Seq((2L * k - 1, toks.mkString(" ")),
        (2L * k, (toks :+ "x").mkString(" ")))
    }
    def run(compactEvery: Int): (Set[Long], Int) = {
      val work = java.nio.file.Files
        .createTempDirectory("graft-inloop-compact").toString
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.dedupNear(mem.toDF.toDF("doc_id", "text"),
          s"$work/state", s"$work/out", threshold = 0.8,
          compactEvery = compactEvery)
        .option("checkpointLocation", s"$work/ckpt").start()
      try docs.foreach { d => mem.addData(Seq(d)); q.processAllAvailable() }
      finally q.stop()
      val survivors = spark.read.parquet(s"$work/out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val parts = new java.io.File(s"$work/state/docs").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
      (survivors, parts)
    }
    val (plain, plainParts) = run(0)
    val (compacted, compactedParts) = run(3)
    assert(plain == (1 to 9 by 2).map(_.toLong).toSet, plain)
    assert(compacted == plain, "in-loop compaction changed survivors")
    // 10 batches uncompacted = 10 partitions; compactEvery=3 folds the
    // committed horizon at batches 2/5/8 -> base + the tail batches only
    assert(plainParts == 10, s"fixture drifted: $plainParts")
    assert(compactedParts <= 3,
      s"state partitions unbounded under in-loop compaction: $compactedParts")
  }

  test("streaming exact dedup keeps first arrival per content hash") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = Streaming.dedupExact(mem.toDF.toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()

    // duplicates inside one batch AND across batches (within watermark)
    mem.addData(Seq(
      (1L, ts("2024-01-01 00:00:01"), "alpha"),
      (2L, ts("2024-01-01 00:00:02"), "beta"),
      (3L, ts("2024-01-01 00:00:03"), "alpha")))
    q.processAllAvailable()
    mem.addData(Seq(
      (4L, ts("2024-01-01 00:00:10"), "beta"),
      (5L, ts("2024-01-01 00:00:11"), "gamma")))
    q.processAllAvailable()
    q.stop()

    val kept = spark.table("dd_out").select("doc_id").as[Long].collect().toSet
    // first arrival of each distinct text survives; 3 and 4 are dropped
    assert(kept == Set(1L, 2L, 5L))
  }

  test("streaming normalized dedup collapses case/punct variants across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = Streaming.dedupNormalized(mem.toDF.toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("ddn_out")
      .outputMode("append").start()
    mem.addData(Seq(
      (1L, ts("2024-01-01 00:00:01"), "Hello, World!"),
      (2L, ts("2024-01-01 00:00:02"), "other doc")))
    q.processAllAvailable()
    mem.addData(Seq(
      (3L, ts("2024-01-01 00:00:10"), "hello   world"), // variant of 1
      (4L, ts("2024-01-01 00:00:11"), "OTHER doc."),    // variant of 2
      (5L, ts("2024-01-01 00:00:12"), "a new one")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("ddn_out").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 5L))
  }

  test("stream-static join enriches points with catalog tags per batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the static side is a catalog-sized dim — Spark broadcasts it into
    // every micro-batch (no streaming state at all, unlike stream-stream)
    val dim = Seq(("a", "temp"), ("b", "humidity")).toDF("stream_id", "kind")
    val mem = MemoryStream[(String, Timestamp, Double)]
    val q = mem.toDF.toDF("stream_id", "t", "v")
      .join(broadcast(dim), Seq("stream_id"), "left")
      .writeStream.format("memory").queryName("ssd_out")
      .outputMode("append").start()
    mem.addData(Seq(("a", ts("2024-01-01 00:00:00"), 1.0)))
    q.processAllAvailable()
    mem.addData(Seq(("b", ts("2024-01-01 00:00:01"), 2.0),
      ("c", ts("2024-01-01 00:00:02"), 3.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssd_out")
      .collect().map(r => (r.getString(0), r.getDouble(2), Option(r.getString(3)))).toSet
    assert(got == Set(("a", 1.0, Some("temp")), ("b", 2.0, Some("humidity")),
      ("c", 3.0, None))) // unknown stream survives the left join
  }

  test("quality router splits accepted/rejected sinks without row loss") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-route").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.routeByQuality(
        mem.toDF.toDF("doc_id", "text"),
        length(col("text")) >= 5, s"$base/ok", s"$base/bad")
      .option("checkpointLocation", s"$base/ckpt").start()
    mem.addData(Seq((1L, "long enough"), (2L, "no"), (3L, "also fine")))
    q.processAllAvailable()
    // NULL text -> NULL verdict: must land in the reject sink, not vanish
    mem.addData(Seq((4L, "ok"), (5L, "second batch pass"), (6L, null)))
    q.processAllAvailable()
    q.stop()
    val ok = spark.read.parquet(s"$base/ok").select("doc_id").as[Long].collect().toSet
    val bad = spark.read.parquet(s"$base/bad")
      .select(col("doc_id"), col("batch_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(ok == Set(1L, 3L, 5L))
    // rejects keep every row and record which micro-batch dropped it
    assert(bad == Set((2L, 0L), (4L, 1L), (6L, 1L)))
  }

  test("streaming inverted-index maintenance: per-batch appends converge to the batch-built index") {
    import spark.implicits._
    import graft.operators.Retrieval
    implicit val ctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 200)
      .as[(Long, String)].collect().toSeq
    val root = java.nio.file.Files
      .createTempDirectory("graft-idx-stream").toString + "/idx"
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        Retrieval.appendToIndex(df, root)
      }.start()
    docs.grouped(70).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val full = java.nio.file.Files
      .createTempDirectory("graft-idx-batch").toString + "/idx"
    Retrieval.buildIndex(docs.toDF("doc_id", "text"), full)
    val queries = docs.take(3).map { case (id, t) => (id, t) }
      .toDF("qid", "qtext")
    def res(r: String) = Retrieval.bm25TopKIndexed(spark, r, queries, 5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        x.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
    assert(res(root) == res(full))
  }

  test("CDC feed reconstructs a replica: applying changes(v, v+1) converges to the primary") {
    import spark.implicits._
    import graft.operators.VersionedTable
    val primary = java.nio.file.Files
      .createTempDirectory("graft-cdc-p").toString + "/tbl"
    val replica = java.nio.file.Files
      .createTempDirectory("graft-cdc-r").toString + "/tbl"
    val base = (0L until 40L).map(k => (k, k * 10)).toDF("k", "v")
    val pexpr = pmod(col("k"), lit(8L))
    VersionedTable.init(spark, primary, base, pexpr)
    VersionedTable.init(spark, replica, base, pexpr)
    // three change generations on the primary
    val gens = Seq(
      Seq((1L, 111L, "U"), (2L, 0L, "D")),
      Seq((3L, 333L, "U"), (1L, 112L, "U"), (50L, 500L, "U")),
      Seq((50L, 0L, "D"), (0L, 1L, "U")))
    gens.zipWithIndex.foreach { case (g, i) =>
      VersionedTable.merge(spark, primary,
        g.toDF("k", "v", "op").withColumn("version", lit(i + 1L)),
        Seq("k"), pexpr)
    }
    // replicate: each round reads ONLY the CDC diff of (v, v+1) and
    // applies it as a merge — the consumer never sees the primary's data
    // files, just the changes feed
    for (v <- 0L until 3L) {
      val diff = VersionedTable.changes(spark, primary, base.schema,
        Seq("k"), v, v + 1)
      val asChanges = diff.select(col("k"),
        coalesce(col("after_v"), lit(0L)).as("v"),
        when(col("change_op") === "D", "D").otherwise("U").as("op"),
        lit(v + 1).as("version"))
      VersionedTable.merge(spark, replica, asChanges, Seq("k"), pexpr)
    }
    def snap(root: String) = VersionedTable
      .readAt(spark, root, base.schema)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap(replica) == snap(primary))
    assert(snap(primary)(1L) == 112L && !snap(primary).contains(2L) &&
      !snap(primary).contains(50L) && snap(primary)(0L) == 1L)
  }

  test("streaming PCA maintenance: per-batch Gram partials fold to the exact corpus buffer") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    // the incremental-PCA contract: graft_gram_multi's buffer is a pure
    // integer sum, so per-micro-batch partials folded ELEMENTWISE equal
    // the one-shot corpus buffer bit-for-bit — a model refresh never
    // re-reads history, it adds the new batch's 17 KB buffer. (Same
    // 100 TB shape as the theta/freq rollup test above.)
    val dims = 16
    val dir = java.nio.file.Files.createTempDirectory("gram_stream").toString
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF.toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.functions.GraftFunctions.register(batch.sparkSession)
        batch.agg(expr(s"graft_gram_multi(embedding, 0, $dims, 1)").as("g"))
          .withColumn("batch_id", lit(id))
          .write.mode("append").parquet(dir)
        ()
      }.start()
    val rnd = new scala.util.Random(11)
    val all = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    for (b <- 0 until 3) {
      val rows = (0 until 100).map { i =>
        ((b * 100 + i).toLong, Seq.fill(dims)(rnd.nextDouble() - 0.5))
      }
      all ++= rows
      mem.addData(rows); q.processAllAvailable()
    }
    q.stop()
    val partials = spark.read.parquet(dir)
      .select("g").collect().map(_.getSeq[Long](0).toArray)
    assert(partials.length == 3)
    val folded = partials.reduce { (a, b) =>
      a.zip(b).map { case (x, y) => x + y }
    }
    val direct = all.toSeq.toDF("vec_id", "embedding")
      .agg(expr(s"graft_gram_multi(embedding, 0, $dims, 1)").as("g"))
      .head().getSeq[Long](0).toArray
    assert(folded.sameElements(direct),
      "folded per-batch Gram partials must equal the one-shot buffer bit-for-bit")
  }

  test("streaming sketch maintenance: per-batch partials fold to the exact batch answer") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    // the 100 TB streaming-rollup shape: each micro-batch appends one
    // PARTIAL sketch row per (day) — theta for distinct users, freq for
    // hot event types — and the serving read folds partials by sketch
    // union. Exact mode (cardinalities under capacity) makes the fold
    // comparable to ground truth with == not tolerance; users deliberately
    // recur across batches so naive count-summing would double-count.
    val dir = java.nio.file.Files.createTempDirectory("sk_stream").toString
    val mem = MemoryStream[(Timestamp, Long, String)]
    val src = mem.toDF.toDF("t", "user_id", "event_type")
    val q = src.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.functions.GraftFunctions.register(batch.sparkSession)
        batch.groupBy(
            expr("CAST(floor(unix_timestamp(t) / 86400) * 86400 AS BIGINT)").as("be"))
          .agg(expr("graft_theta_agg(user_id, 12)").as("theta"),
            expr("graft_freq_agg(event_type, 64)").as("freq"))
          .withColumn("batch_id", lit(id))
          .write.mode("append").parquet(dir)
        ()
      }.start()
    val rnd = new scala.util.Random(5)
    val types = Array("click", "view", "purchase")
    val all = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, Long, String)]
    for (b <- 0 until 3) {
      val rows = (0 until 200).map { _ =>
        val day = rnd.nextInt(2)
        (ts(s"2024-03-0${day + 1} 10:00:00"), rnd.nextInt(40).toLong,
          types(rnd.nextInt(types.length)))
      }
      all ++= rows
      mem.addData(rows); q.processAllAvailable()
    }
    q.stop()

    val folded = spark.read.parquet(dir).groupBy("be")
      .agg(expr("graft_theta_union(theta, 12)").as("theta"),
        expr("graft_freq_union(freq, 64)").as("freq"))
      .select(col("be"), expr("graft_theta_est(theta)").as("nd"),
        expr("graft_freq_topk(freq, 10)").as("top"))
      .collect().map { r =>
        r.getLong(0) -> (r.getLong(1),
          r.getSeq[org.apache.spark.sql.Row](2)
            .map(h => h.getString(0) -> h.getLong(1)).toMap)
      }.toMap
    val byDay = all.groupBy(x => Math.floorDiv(x._1.getTime / 1000L, 86400L) * 86400L)
    assert(folded.keySet == byDay.keySet)
    byDay.foreach { case (day, rows) =>
      val (nd, top) = folded(day)
      assert(nd == rows.map(_._2).distinct.size.toLong,
        s"day $day distinct users exact under fold")
      val exactTypes = rows.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      assert(top == exactTypes, s"day $day type counts exact under fold")
    }
  }

  test("streaming decayed-popularity state: split replay == single batch, horizon pruned") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def replay(batches: Seq[Seq[Streaming.KeyDay]], name: String) = {
      val mem = MemoryStream[Streaming.KeyDay]
      val q = Streaming.decayPopularity(mem.toDS(), horizonDays = 30)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      q.stop()
      // final snapshot per key = max version (strictly increasing)
      spark.table(name).collect()
        .groupBy(_.getString(0)).map { case (k, rows) =>
          val last = rows.maxBy(_.getLong(1))
          k -> (last.getLong(1), last.getSeq[Long](2).toList)
        }
    }
    // key "a": days spanning 40 — early days must prune out of state;
    // key "b": a re-touched day must accumulate, not overwrite
    val pts = Seq(("a", 100L), ("a", 101L), ("b", 100L), ("a", 120L),
      ("b", 100L), ("a", 141L), ("b", 105L), ("a", 141L))
      .map { case (k, d) => Streaming.KeyDay(k, d) }
    val whole = replay(Seq(pts), "decay_whole").toMap
    val split = replay(Seq(pts.take(3), pts.slice(3, 6), pts.drop(6)),
      "decay_split").toMap
    assert(whole == split, "batch-split invariance")
    val PACK = 1000000000000L
    // a: maxDay 141, horizon 30 → days 100/101 pruned (< 111); 120 and
    // 141 (count 2) kept; version counts every event ever seen (5)
    assert(split("a") == (5L, List(120L * PACK + 1L, 141L * PACK + 2L)))
    assert(split("b") == (3L, List(100L * PACK + 2L, 105L * PACK + 1L)))
  }

  override def afterAll(): Unit = spark.stop()
}
