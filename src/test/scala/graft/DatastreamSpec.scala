package graft

import java.sql.Timestamp
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.{Datastream, DatapointStore}
import graft.model._

/** t1-style integration suite over the full API surface (SURVEY §2.1 A1–A11
  * + §1.6 exception taxonomy), mirroring the reference's tests/test_basic.py
  * scenarios.
  */
class DatastreamSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.obs.GraftSession.local(4)

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  def freshDs(): Datastream =
    new Datastream(spark, Files.createTempDirectory("graft-test").toString)

  test("ensure_stream creates and is idempotent; config conflicts raise") {
    val ds = freshDs()
    val id = ds.ensureStream(Map("name" -> "s1"))
    assert(ds.ensureStream(Map("name" -> "s1")) == id)
    intercept[InconsistentStreamConfiguration] {
      ds.ensureStream(Map("name" -> "s1"),
        highestGranularity = Granularity.Minutes)
    }
    intercept[UnsupportedDownsampler] {
      ds.ensureStream(Map("name" -> "s2"), valueDownsamplers = Seq("bogus"))
    }
    intercept[UnsupportedGranularity] { Granularity("bogus") }
    // ambiguous query tags -> MultipleStreamsReturned
    ds.ensureStream(Map("name" -> "m1", "shared" -> "y"))
    ds.ensureStream(Map("name" -> "m2", "shared" -> "y"))
    intercept[MultipleStreamsReturned] { ds.ensureStream(Map("shared" -> "y")) }
    // derive_op without derive_from (and vice versa) -> InvalidOperatorArguments
    intercept[InvalidOperatorArguments] {
      ds.ensureStream(Map("name" -> "m3"), deriveOp = Some(DeriveOps.Sum))
    }
    intercept[UnsupportedDeriveOperator] {
      ds.ensureStream(Map("name" -> "m4"), deriveFrom = Seq("x"),
        deriveOp = Some("median"))
    }
  }

  test("ensureStreams bulk ≡ the ensureStream loop: per-row taxonomy, in-batch derive refs, one batched backprocess") {
    val ds = freshDs()
    // a pre-existing stream with history: the batch's derived spec must
    // backprocess from it exactly like the per-call lane
    val src = ds.ensureStream(Map("name" -> "bulk-src"))
    ds.append(src, 5.0, ts("2024-01-01 00:00:01"))
    ds.append(src, 9.0, ts("2024-01-01 00:00:03"))
    val out = ds.ensureStreams(Seq(
      EnsureSpec(Map("name" -> "bulk-a")),
      // in-batch reference: spec 2 derives from spec 1's id? ids are
      // UUIDs assigned inside the batch — derive from the PRE-existing
      // source instead, plus a re-declaration and three conflict rows
      EnsureSpec(Map("name" -> "bulk-d"), deriveFrom = Seq(src),
        deriveOp = Some(DeriveOps.Derivative)),
      EnsureSpec(Map("name" -> "bulk-a")), // idempotent re-declare
      EnsureSpec(Map("name" -> "bulk-a"),
        highestGranularity = Granularity.Minutes), // conflict
      EnsureSpec(Map("name" -> "bulk-bad"), valueDownsamplers = Seq("bogus")),
      EnsureSpec(Map("name" -> "bulk-badop"), deriveOp = Some(DeriveOps.Sum))))
    assert(out(0).created && out(0).error.isEmpty)
    assert(out(1).created && out(1).error.isEmpty)
    assert(!out(2).created && out(2).streamId == out(0).streamId,
      "re-declaration must return the existing id, not create")
    // per-row §1.6 taxonomy — conflicts never abort the batch
    assert(out(3).streamId.isEmpty &&
      out(3).error.exists(_.contains("inconsistent stream configuration")))
    assert(out(4).error.exists(_.contains("unsupported downsampler")))
    assert(out(5).error.exists(_.contains("invalid operator arguments")))
    // the batched backprocess computed the derived history (per-call
    // ensureStream parity: derivative of the 2-point source)
    val derived = out(1).streamId.get
    val rows = ds.getData(derived, Granularity.Seconds).collect()
    assert(rows.length == 1, s"backprocessed derivative rows: ${rows.length}")
    // and a second bulk call is idempotent end-to-end
    val again = ds.ensureStreams(Seq(
      EnsureSpec(Map("name" -> "bulk-a")),
      EnsureSpec(Map("name" -> "bulk-d"), deriveFrom = Seq(src),
        deriveOp = Some(DeriveOps.Derivative))))
    assert(again.forall(o => !o.created && o.error.isEmpty))
    assert(again(1).streamId.contains(derived))
  }

  test("value_type_options persist and join the immutable-config contract") {
    val root = Files.createTempDirectory("graft-vto").toString
    val ds = new Datastream(spark, root)
    val opts = """{"layout": "archived"}"""
    val id = ds.ensureStream(Map("name" -> "g1"), valueType = ValueType.Graph,
      valueDownsamplers = Seq("count"),
      valueTypeOptions = Some(opts))
    // idempotent with the SAME options
    assert(ds.ensureStream(Map("name" -> "g1"), valueType = ValueType.Graph,
      valueDownsamplers = Seq("count"),
      valueTypeOptions = Some(opts)) == id)
    // conflicting re-ensure raises (options are immutable config)
    intercept[InconsistentStreamConfiguration] {
      ds.ensureStream(Map("name" -> "g1"), valueType = ValueType.Graph,
        valueDownsamplers = Seq("count"),
        valueTypeOptions = Some("""{"layout": "other"}"""))
    }
    intercept[InconsistentStreamConfiguration] {
      ds.ensureStream(Map("name" -> "g1"), valueType = ValueType.Graph,
        valueDownsamplers = Seq("count"))
    }
    // descriptor round-trips through the persisted catalog
    ds.flush()
    val d2 = new Datastream(spark, root)
    val row = d2.streams.where(col("stream_id") === id)
      .select("value_type_options").collect().head
    assert(row.getString(0) == opts)
    intercept[InconsistentStreamConfiguration] {
      d2.ensureStream(Map("name" -> "g1"), valueType = ValueType.Graph,
        valueDownsamplers = Seq("count"))
    }
  }

  test("append + get_data round trip at highest granularity") {
    val ds = freshDs()
    val id = ds.ensureStream(Map("name" -> "a"))
    ds.append(id, 1.5, ts("2024-01-01 00:00:01"))
    ds.append(id, 2.5, ts("2024-01-01 00:00:02"))
    val rows = ds.getData(id, Granularity.Seconds).collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.5, 2.5))
    // reverse order
    val rev = ds.getData(id, Granularity.Seconds, reverse = true).collect()
    assert(rev.map(_.getDouble(1)).toSeq == Seq(2.5, 1.5))
  }

  test("append monotonicity check raises InvalidTimestamp") {
    val ds = freshDs()
    val id = ds.ensureStream(Map("name" -> "mono"))
    ds.append(id, 1.0, ts("2024-01-01 00:00:10"))
    intercept[InvalidTimestamp] {
      ds.append(id, 2.0, ts("2024-01-01 00:00:05"))
    }
    // allowed with checkTimestamp = false
    ds.append(id, 2.0, ts("2024-01-01 00:00:05"), checkTimestamp = false)
  }

  test("downsample_streams materializes all 7+3 aggregates, completed buckets only") {
    val ds = freshDs()
    val id = ds.ensureStream(Map("name" -> "dsamp"))
    import spark.implicits._
    val pts = Seq(
      (id, ts("2024-01-01 00:00:01"), 1.0),
      (id, ts("2024-01-01 00:00:03"), 2.0),
      (id, ts("2024-01-01 00:00:07"), 3.0),
      (id, ts("2024-01-01 00:00:12"), 4.0),
      (id, ts("2024-01-01 00:00:25"), 5.0)).toDF("stream_id", "t", "v")
    ds.appendMultiple(pts)
    // until=15s: only the [0,10) bucket is complete at Seconds10
    // (completed-bucket rule: bucket end <= until)
    ds.downsampleStreams(ts("2024-01-01 00:00:15"))
    val b = ds.getData(id, Granularity.Seconds10).collect()
    assert(b.length == 1)
    val row = b.head
    val get = (n: String) => row.getDouble(row.fieldIndex(n))
    assert(row.getLong(row.fieldIndex("count")) == 3)
    assert(get("sum") == 6.0)
    assert(get("sum_squares") == 14.0)
    assert(get("min") == 1.0)
    assert(get("max") == 3.0)
    assert(get("mean") == 2.0)
    assert(math.abs(get("std_dev") - math.sqrt(14.0 / 3 - 4.0)) < 1e-12)
    assert(row.getTimestamp(row.fieldIndex("t_first")) == ts("2024-01-01 00:00:01"))
    assert(row.getTimestamp(row.fieldIndex("t_last")) == ts("2024-01-01 00:00:07"))
    // mean ts: floor((1+3+7)/3) = 3
    assert(row.getTimestamp(row.fieldIndex("t_mean")) == ts("2024-01-01 00:00:03"))

    // full downsample: ladder levels fold from partials
    ds.downsampleStreams(ts("2024-01-02 00:00:00"))
    val m = ds.getData(id, Granularity.Minutes).collect()
    assert(m.length == 1)
    assert(m.head.getLong(m.head.fieldIndex("count")) == 5)
    assert(m.head.getDouble(m.head.fieldIndex("sum")) == 15.0)
    val day = ds.getData(id, Granularity.Days).collect()
    assert(day.length == 1 && day.head.getDouble(day.head.fieldIndex("sum")) == 15.0)
  }

  test("derive: stream sum (V1)") {
    val ds = freshDs()
    import spark.implicits._
    val a = ds.ensureStream(Map("name" -> "va"))
    val b = ds.ensureStream(Map("name" -> "vb"))
    val sid = ds.ensureStream(Map("name" -> "vsum"),
      deriveFrom = Seq(a, b), deriveOp = Some(DeriveOps.Sum))
    intercept[AppendToDerivedStreamNotAllowed] {
      ds.append(sid, 1.0, ts("2024-01-01 00:00:00"))
    }
    ds.appendMultiple(Seq(
      (a, ts("2024-01-01 00:00:01"), 1.0),
      (b, ts("2024-01-01 00:00:01"), 10.0),
      (a, ts("2024-01-01 00:00:02"), 2.0)).toDF("stream_id", "t", "v"))
    val rows = ds.getData(sid, Granularity.Seconds).collect()
    assert(rows.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq ==
      Seq((ts("2024-01-01 00:00:01"), 11.0), (ts("2024-01-01 00:00:02"), 2.0)))
  }

  test("phase tags end with their phase: a read after the derive cascade is not charged to cascade:*") {
    import spark.implicits._
    val ds = freshDs()
    val src = ds.ensureStream(Map("name" -> "tag-src"))
    val sum = ds.ensureStream(Map("name" -> "tag-sum"),
      deriveFrom = Seq(src), deriveOp = Some(DeriveOps.Sum))
    ds.appendMultiple(Seq(
      (src, ts("2024-01-01 00:00:01"), 1.0),
      (src, ts("2024-01-01 00:00:02"), 2.0)).toDF("stream_id", "t", "v"))
    val (rows, read) = graft.obs.Meter.measure(spark) {
      ds.getData(sum, Granularity.Seconds).collect()
    }
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.0, 2.0))
    assert(read.jobs > 0 && !read.sites.keys.exists(_.startsWith("cascade:")),
      read.sites)
  }

  test("derive: chained derived streams recompute in dependency order") {
    val ds = freshDs()
    import spark.implicits._
    // s1 -> d1 = derivative(s1); (d1, s2) -> d2 = sum: appending to the
    // RAW streams must ripple through the chain (transitive closure +
    // topological order in derivedInOrder)
    val s1 = ds.ensureStream(Map("name" -> "c_src"))
    val s2 = ds.ensureStream(Map("name" -> "c_other"))
    val d1 = ds.ensureStream(Map("name" -> "c_drv"),
      deriveFrom = Seq(s1), deriveOp = Some(DeriveOps.Derivative))
    val d2 = ds.ensureStream(Map("name" -> "c_sum"),
      deriveFrom = Seq(d1, s2), deriveOp = Some(DeriveOps.Sum))
    ds.appendMultiple(Seq(
      (s1, ts("2024-01-01 00:00:00"), 0.0),
      (s1, ts("2024-01-01 00:00:10"), 20.0),
      (s2, ts("2024-01-01 00:00:10"), 5.0)).toDF("stream_id", "t", "v"))
    // d1 at 00:10 = (20-0)/10 = 2.0; d2 at 00:10 = 2.0 + 5.0
    val drv = ds.getData(d1, Granularity.Seconds).collect()
    assert(drv.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq ==
      Seq((ts("2024-01-01 00:00:10"), 2.0)))
    val summed = ds.getData(d2, Granularity.Seconds).collect()
    assert(summed.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq ==
      Seq((ts("2024-01-01 00:00:10"), 7.0)))
    // a second append extends the chain incrementally
    ds.appendMultiple(Seq((s1, ts("2024-01-01 00:00:20"), 50.0))
      .toDF("stream_id", "t", "v"))
    val d2rows = ds.getData(d2, Granularity.Seconds).collect()
    assert(d2rows.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq ==
      Seq((ts("2024-01-01 00:00:10"), 7.0), (ts("2024-01-01 00:00:20"), 3.0)))
  }

  test("derive: derivative (V2) and counter ops (V3/V4)") {
    val ds = freshDs()
    import spark.implicits._
    val src = ds.ensureStream(Map("name" -> "ctr"))
    val dId = ds.ensureStream(Map("name" -> "deriv"),
      deriveFrom = Seq(src), deriveOp = Some(DeriveOps.Derivative))
    val rId = ds.ensureStream(Map("name" -> "reset"),
      deriveFrom = Seq(src), deriveOp = Some(DeriveOps.CounterReset))
    val cdId = ds.ensureStream(Map("name" -> "cderiv"),
      deriveFrom = Seq(src), deriveOp = Some(DeriveOps.CounterDerivative),
      deriveArgs = Some("""{"max_value": 100}"""))
    // counter: 10, 30 (+20/10s), wraps 30→5 (delta 75/10s)
    ds.appendMultiple(Seq(
      (src, ts("2024-01-01 00:00:00"), 10.0),
      (src, ts("2024-01-01 00:00:10"), 30.0),
      (src, ts("2024-01-01 00:00:20"), 5.0)).toDF("stream_id", "t", "v"))
    val deriv = ds.getData(dId, Granularity.Seconds).collect()
    assert(deriv.map(_.getDouble(1)).toSeq == Seq(2.0, -2.5))
    val resets = ds.getData(rId, Granularity.Seconds).collect()
    assert(resets.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq ==
      Seq((ts("2024-01-01 00:00:20"), 1.0)))
    val cd = ds.getData(cdId, Granularity.Seconds).collect()
    assert(cd.map(_.getDouble(1)).toSeq == Seq(2.0, 7.5))
  }

  test("derive: counter_derivative with reset stream suppresses wrap intervals (V4)") {
    val ds = freshDs()
    import spark.implicits._
    val src = ds.ensureStream(Map("name" -> "ctr2"))
    val rst = ds.ensureStream(Map("name" -> "rst2"))
    val cdId = ds.ensureStream(Map("name" -> "cderiv2"),
      deriveFrom = Seq(src), deriveOp = Some(DeriveOps.CounterDerivative),
      deriveArgs = Some(s"""{"max_value": 100, "reset_stream": "$rst"}"""))
    // counter 10 → 30 → reboot (reset event at :15) → 5 → 25
    ds.appendMultiple(Seq(
      (src, ts("2024-01-01 00:00:00"), 10.0),
      (src, ts("2024-01-01 00:00:10"), 30.0),
      (src, ts("2024-01-01 00:00:20"), 5.0),
      (src, ts("2024-01-01 00:00:30"), 25.0)).toDF("stream_id", "t", "v"))
    ds.appendMultiple(Seq(
      (rst, ts("2024-01-01 00:00:15"), 1.0)).toDF("stream_id", "t", "v"))
    val cd = ds.getData(cdId, Granularity.Seconds).collect()
    // :10 → 2.0; :20 suppressed (reset inside interval); :30 → 2.0
    assert(cd.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq ==
      Seq((ts("2024-01-01 00:00:10"), 2.0), (ts("2024-01-01 00:00:30"), 2.0)))
  }

  test("nominal streams: count-only downsampling; append type check") {
    val ds = freshDs()
    import spark.implicits._
    val id = ds.ensureStream(Map("name" -> "nom"),
      valueDownsamplers = Seq("count"), valueType = ValueType.Nominal)
    ds.appendMultiple(Seq(
      (id, ts("2024-01-01 00:00:01"), """{"state": "up"}"""),
      (id, ts("2024-01-01 00:00:03"), """{"state": "down"}"""),
      (id, ts("2024-01-01 00:00:12"), """{"state": "up"}"""))
      .toDF("stream_id", "t", "v_json"))
    val raw = ds.getData(id, Granularity.Seconds).collect()
    assert(raw.length == 3 && raw.head.getString(2) == """{"state": "up"}""")
    ds.downsampleStreams(ts("2024-01-02 00:00:00"))
    val m = ds.getData(id, Granularity.Minutes).collect()
    assert(m.length == 1)
    assert(m.head.getLong(m.head.fieldIndex("count")) == 3)
    assert(m.head.getTimestamp(m.head.fieldIndex("t_last")) == ts("2024-01-01 00:00:12"))
    // numeric value into a nominal stream is a type error
    intercept[IncompatibleTypes] {
      ds.appendMultiple(Seq((id, ts("2024-01-01 00:01:00"), 1.0))
        .toDF("stream_id", "t", "v"))
    }
    // count-only ladder folds from partials: days level still 3
    val day = ds.getData(id, Granularity.Days).collect()
    assert(day.length == 1 && day.head.getLong(day.head.fieldIndex("count")) == 3)
  }

  test("graph streams: JSON topology values, count-only; return_datapoints; lazy cursor") {
    val ds = freshDs()
    import spark.implicits._
    val id = ds.ensureStream(Map("name" -> "topo"),
      valueDownsamplers = Seq("count"), valueType = ValueType.Graph)
    val g1 = """{"v": [{"i": "a"}, {"i": "b"}], "e": [{"f": "a", "t": "b"}]}"""
    val g2 = """{"v": [{"i": "a"}], "e": []}"""
    ds.appendMultiple(Seq(
      (id, ts("2024-01-01 00:00:01"), g1),
      (id, ts("2024-01-01 00:00:05"), g2)).toDF("stream_id", "t", "v_json"))
    // raw read-back returns the exact JSON snapshots in order
    val raw = ds.getData(id, Granularity.Seconds).collect()
    assert(raw.map(_.getString(2)).toSeq == Seq(g1, g2))
    // downsample with return_datapoints=True streams back the emitted rows
    val returned = ds.downsampleStreams(ts("2024-01-02 00:00:00"),
      returnDatapoints = true)
    assert(returned.isDefined)
    val minuteRows = returned.get
      .where(col("granularity") === "minutes").collect()
    assert(minuteRows.length == 1 &&
      minuteRows.head.getLong(minuteRows.head.fieldIndex("c")) == 2)
    // lazy cursor (toLocalIterator-backed)
    val it = ds.getDataIterator(id, Granularity.Seconds)
    assert(it.hasNext && it.next().getString(2) == g1)
  }

  test("downsample filter_stream predicate skips non-matching streams (A10)") {
    val ds = freshDs()
    import spark.implicits._
    val keep = ds.ensureStream(Map("name" -> "fs-keep"))
    val skip = ds.ensureStream(Map("name" -> "fs-skip"))
    ds.appendMultiple(Seq(
      (keep, ts("2024-01-01 00:00:01"), 1.0),
      (skip, ts("2024-01-01 00:00:01"), 2.0)).toDF("stream_id", "t", "v"))
    // catalog-level callback (the reference's filter_stream): only the
    // matching stream's ladder advances
    ds.downsampleStreams(ts("2024-01-02 00:00:00"),
      filterStream = d => d.tags.get("name").contains("fs-keep"))
    assert(ds.getData(keep, Granularity.Minutes).count() == 1)
    assert(ds.getData(skip, Granularity.Minutes).count() == 0)
  }

  test("get_data plan prunes granularity partitions and pushes the time range") {
    val ds = freshDs()
    import spark.implicits._
    val id = ds.ensureStream(Map("name" -> "prune"))
    ds.appendMultiple(Seq((id, ts("2024-01-01 00:00:01"), 1.0),
      (id, ts("2024-01-02 00:00:01"), 2.0)).toDF("stream_id", "t", "v"))
    ds.downsampleStreams(ts("2024-01-03 00:00:00"))
    val plan = ds.getData(id, Granularity.Minutes,
        start = Some(ts("2024-01-01 00:00:00")), end = Some(ts("2024-01-01 12:00:00")))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // granularity AND the derived ymd day-range are partition filters
    assert(plan.contains("PartitionFilters") && plan.contains("granularity#"),
      s"missing partition pruning in:\n$plan")
    assert(plan.contains("ymd#"), s"missing ymd partition pruning in:\n$plan")
    // the time range must reach the parquet reader as a pushed filter
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(t,"),
      s"missing pushed time filter in:\n$plan")
  }

  /** Descriptions of the partition-discovery ("Listing leaf files") jobs
    * Spark schedules while `body` runs, with its result. */
  def listingJobs[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("Listing leaf files")).foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      graft.obs.Meter.drain(spark)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("getData above the 32-path listing threshold: one partition directory, zero listing jobs, same rows as the unified scan") {
    import spark.implicits._
    val ds = freshDs()
    val src = ds.ensureStream(Map("name" -> "lsrc"))
    val other = ds.ensureStream(Map("name" -> "lother"))
    // 34 derived streams: each derived root then holds more stream
    // directories than spark.sql.sources.parallelPartitionDiscovery.threshold
    val nDerived = 34
    val drv = ds.ensureStreams((0 until nDerived).map(i =>
        EnsureSpec(Map("name" -> s"ld$i"), deriveFrom = Seq(src),
          deriveOp = Some(DeriveOps.Derivative))))
      .map(_.streamId.get)
    val pts = for {
      (id, k) <- Seq(src -> 1.0, other -> 3.0); d <- Seq(1, 2); h <- 0 until 24
      m <- Seq(0, 30)
    } yield (id, ts(f"2024-01-0$d%d $h%02d:$m%02d:00"), k * (d * 100 + h) + m)
    ds.appendMultiple(pts.toDF("stream_id", "t", "v"))
    ds.downsampleStreams(ts("2024-01-03 00:00:00"))
    // engaged: the unified scan lists each derived root through a job
    val (_, unified) = listingJobs(ds.datapoints.count())
    assert(unified.nonEmpty,
      "store is below the listing threshold; the pin is not engaged")

    val lo = ts("2024-01-01 06:00:00")
    val hi = ts("2024-01-02 03:00:00")
    val vds = Seq("count", "sum", "min", "max")
    for {
      id <- Seq(src, drv.head, drv.last)
      g <- Seq(Granularity.Seconds, Granularity.Hours)
      (start, end) <- Seq((None, None), (Some(lo), Some(hi)))
    } {
      val raw = g == Granularity.Seconds
      val (got, jobs) = listingJobs(ds.getData(id, g, start = start, end = end,
          valueDownsamplers = if (raw) None else Some(vds),
          timeDownsamplers = if (raw) None else Some(Seq("first")))
        .collect().map(_.toSeq).toSeq)
      assert(jobs.isEmpty, s"getData($id, ${g.name}) listed: $jobs")
      val window = ds.datapoints.where(col("granularity") === g.name &&
        col("stream_id") === id &&
        start.fold(lit(true))(s => col("t") >= s) &&
        end.fold(lit(true))(e => col("t") <= e))
      val cols =
        if (raw) Seq(col("t"), col("v_num"), col("v_json"))
        else col("t") +: vds.map(n => col(Downsamplers.value(n))) :+ col("t_first")
      val want = window.select(cols: _*).orderBy("t").collect().map(_.toSeq).toSeq
      assert(want.nonEmpty, s"no fixture rows for $id at ${g.name}")
      assert(got == want, s"getData($id, ${g.name}, $start, $end) differs")
    }
  }

  test("routed reads heal stranded crash backups; a granularity with no directory reads empty") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-routed-heal").toString
    val ds = new Datastream(spark, root)
    val src = ds.ensureStream(Map("name" -> "hs"))
    val drv = ds.ensureStream(Map("name" -> "hd"), deriveFrom = Seq(src),
      deriveOp = Some(DeriveOps.Derivative))
    // nothing materialized at Hours yet (no ladder run), and no derived
    // rollups root at all: empty results, not "Path does not exist"
    assert(ds.getData(src, Granularity.Hours).count() == 0L)
    assert(ds.getData(drv, Granularity.Hours).count() == 0L)
    ds.appendMultiple(Seq((src, ts("2024-01-01 00:00:10"), 1.0),
      (src, ts("2024-01-01 00:01:10"), 4.0),
      (src, ts("2024-01-02 00:00:10"), 9.0)).toDF("stream_id", "t", "v"))
    assert(ds.getData(src, Granularity.Hours).count() == 0L)
    assert(ds.getData(drv, Granularity.Days).count() == 0L)
    def rows(id: String) =
      ds.getData(id, Granularity.Seconds).collect().map(_.toSeq).toSeq
    val srcRows = rows(src)
    val drvRows = rows(drv)
    assert(srcRows.size == 3 && drvRows.size == 2)

    // a compaction crashed between swinging a derived leaf aside and
    // swinging its replacement in: the leaf sits only in the backup tree
    val rawRoot = s"$root/derived_raw"
    val leaf = new java.io.File(s"$rawRoot/stream_id=$drv/granularity=seconds")
      .listFiles().filter(_.getName.startsWith("ymd=")).head
    val rel = s"stream_id=$drv/granularity=seconds/${leaf.getName}"
    val bak = new java.io.File(s"$rawRoot.graft-parts-bak/$rel")
    bak.getParentFile.mkdirs()
    assert(leaf.renameTo(bak))
    assert(rows(drv) == drvRows, "stranded derived leaf served as a hole")
    assert(new java.io.File(s"$rawRoot/$rel").isDirectory)
    assert(!new java.io.File(s"$rawRoot.graft-parts-bak").exists())

    // a primary-root replace crashed between its two renames: only
    // `<root>.graft-old` is left
    val dp = new java.io.File(s"$root/datapoints")
    assert(dp.renameTo(new java.io.File(s"$root/datapoints.graft-old")))
    assert(rows(src) == srcRows, "stranded primary root served as empty")
    assert(dp.isDirectory && !new java.io.File(s"$root/datapoints.graft-old").exists())
  }

  test("null values: ignored by value downsamplers, counted out of count") {
    val ds = freshDs()
    import spark.implicits._
    val id = ds.ensureStream(Map("name" -> "nulls"))
    ds.appendMultiple(Seq(
      (id, ts("2024-01-01 00:00:01"), Some(2.0)),
      (id, ts("2024-01-01 00:00:02"), None),
      (id, ts("2024-01-01 00:00:03"), Some(4.0)))
      .toDF("stream_id", "t", "v"))
    ds.downsampleStreams(ts("2024-01-02 00:00:00"))
    val m = ds.getData(id, Granularity.Minutes).collect().head
    assert(m.getLong(m.fieldIndex("count")) == 2)       // nulls not counted
    assert(m.getDouble(m.fieldIndex("sum")) == 6.0)
    assert(m.getDouble(m.fieldIndex("mean")) == 3.0)
    // time downsamplers still see the null datapoint's timestamp
    assert(m.getTimestamp(m.fieldIndex("t_last")) == ts("2024-01-01 00:00:03"))
  }

  test("empty derive results don't brick the store (healthy counter, no resets)") {
    val ds = freshDs()
    import spark.implicits._
    val src = ds.ensureStream(Map("name" -> "healthy"))
    val rId = ds.ensureStream(Map("name" -> "healthy-resets"),
      deriveFrom = Seq(src), deriveOp = Some(DeriveOps.CounterReset))
    // monotonically increasing counter -> counter_reset derives ZERO rows;
    // the store must stay fully readable afterwards
    ds.appendMultiple(Seq(
      (src, ts("2024-01-01 00:00:00"), 1.0),
      (src, ts("2024-01-01 00:00:10"), 2.0)).toDF("stream_id", "t", "v"))
    assert(ds.getData(rId, Granularity.Seconds).count() == 0)
    assert(ds.getData(src, Granularity.Seconds).count() == 2)
    ds.downsampleStreams(ts("2024-01-02 00:00:00"))
    assert(ds.getData(src, Granularity.Minutes).count() == 1)
    // and a later real reset flows through
    ds.appendMultiple(Seq((src, ts("2024-01-01 00:00:20"), 0.5))
      .toDF("stream_id", "t", "v"), checkTimestamp = false)
    assert(ds.getData(rId, Granularity.Seconds).count() == 1)
  }

  test("derived rollups materialize and are dropped on recompute") {
    val ds = freshDs()
    import spark.implicits._
    val src = ds.ensureStream(Map("name" -> "roll-src"))
    val dId = ds.ensureStream(Map("name" -> "roll-d"),
      deriveFrom = Seq(src), deriveOp = Some(DeriveOps.Derivative))
    ds.appendMultiple(Seq(
      (src, ts("2024-01-01 00:00:00"), 0.0),
      (src, ts("2024-01-01 00:00:30"), 30.0),
      (src, ts("2024-01-01 00:02:00"), 120.0)).toDF("stream_id", "t", "v"))
    ds.downsampleStreams(ts("2024-01-02 00:00:00"))
    val m1 = ds.getData(dId, Granularity.Minutes).collect()
    assert(m1.length == 2) // derivative points at :30 and 2:00 -> minutes 0, 2
    // appending source data recomputes the derived stream; its stale
    // rollups must disappear and regenerate consistently
    ds.appendMultiple(Seq((src, ts("2024-01-01 00:04:00"), 240.0))
      .toDF("stream_id", "t", "v"))
    assert(ds.getData(dId, Granularity.Minutes).count() == 0) // dropped, not stale
    ds.downsampleStreams(ts("2024-01-02 00:00:00"))
    assert(ds.getData(dId, Granularity.Minutes).count() == 3)
  }

  test("incremental downsampling == full recompute after staged appends") {
    import spark.implicits._
    val inc = freshDs()
    val id1 = inc.ensureStream(Map("name" -> "stage"))
    val batch1 = (0 until 40).map(i => (id1, ts(f"2024-01-01 00:${i / 2}%02d:${(i * 7) % 60}%02d"), i.toDouble))
    val batch2 = (0 until 40).map(i => (id1, ts(f"2024-01-01 12:${i / 2}%02d:${(i * 11) % 60}%02d"), (i + 100).toDouble))
    inc.appendMultiple(batch1.toDF("stream_id", "t", "v"))
    inc.downsampleStreams(ts("2024-01-01 06:00:00"))   // partial ladder
    inc.appendMultiple(batch2.toDF("stream_id", "t", "v"))
    inc.downsampleStreams(ts("2024-01-02 00:00:00"))   // advance to cover all

    val full = freshDs()
    val id2 = full.ensureStream(Map("name" -> "stage"))
    full.appendMultiple((batch1 ++ batch2).map { case (_, t, v) => (id2, t, v) }
      .toDF("stream_id", "t", "v"))
    full.downsampleStreams(ts("2024-01-02 00:00:00"))

    def dump(ds: graft.core.Datastream) = ds.datapoints
      .select("granularity", "t", "v_num", "c", "s", "q", "l", "u", "m", "d",
        "t_first", "t_last", "t_mean")
      .collect().map(_.toSeq).toSet
    assert(dump(inc) == dump(full))
  }

  test("active-set ladder pruning: staggered multi-stream appends == all-at-once") {
    import spark.implicits._
    // three streams appending at DIFFERENT times + one cold stream whose
    // late append carries historical (behind-frontier) timestamps — the
    // per-stream active-set pruning must still materialize exactly what
    // an all-at-once store does, including the pendingIds lane for the
    // historical insert and the extent lane for still-open buckets
    val inc = freshDs()
    val names = Seq("act-a", "act-b", "act-c", "act-cold")
    val ids = names.map(n => n -> inc.ensureStream(Map("name" -> n))).toMap
    def rows(id: String, day: String, hours: Range, base: Double) =
      hours.map(h => (id, ts(f"2024-02-0$day $h%02d:15:00"), base + h))
    val a1 = rows(ids("act-a"), "1", 0 until 10, 0.0)
    val b1 = rows(ids("act-b"), "1", 0 until 6, 100.0)
    val c1 = rows(ids("act-c"), "1", 0 until 3, 200.0)
    val a2 = rows(ids("act-a"), "2", 0 until 8, 50.0)
    val cold = rows(ids("act-cold"), "1", 2 until 5, 900.0) // historical
    inc.appendMultiple((a1 ++ b1 ++ c1).toDF("stream_id", "t", "v"))
    inc.downsampleStreams(ts("2024-02-01 07:00:00"))
    // only stream a appends next (b and c must be pruned, not corrupted)
    inc.appendMultiple(a2.toDF("stream_id", "t", "v"), checkTimestamp = false)
    inc.downsampleStreams(ts("2024-02-02 05:00:00"))
    // cold stream lands entirely BEHIND the ladder frontier
    inc.appendMultiple(cold.toDF("stream_id", "t", "v"), checkTimestamp = false)
    inc.downsampleStreams(ts("2024-02-02 06:00:00"))
    // boundary crossing with no new data: extent lane only
    inc.downsampleStreams(ts("2024-02-03 00:00:00"))

    val full = freshDs()
    val fids = names.map(n => n -> full.ensureStream(Map("name" -> n))).toMap
    val remap = ids.map { case (n, id) => id -> fids(n) }
    full.appendMultiple((a1 ++ b1 ++ c1 ++ a2 ++ cold)
      .map { case (id, t, v) => (remap(id), t, v) }
      .toDF("stream_id", "t", "v"), checkTimestamp = false)
    full.downsampleStreams(ts("2024-02-03 00:00:00"))

    def dump(ds: graft.core.Datastream, m: Map[String, String]) =
      m.toSeq.flatMap { case (n, id) => ds.datapoints
        .where(col("stream_id") === id)
        .select("granularity", "t", "v_num", "c", "s", "l", "u")
        .collect().map(r => (n, r.toSeq)) }.toSet
    assert(dump(inc, ids) == dump(full, fids))
    assert(dump(inc, ids).exists(_._2.head == "days"), "ladder reached days")
  }

  test("wall-clock ladder run does not strand a later event-time stream's final bucket") {
    import spark.implicits._
    // a reference-parity caller runs downsample_streams() (until = NOW,
    // far ahead of event time) and parks every level frontier in the
    // future; a stream ingested afterwards with historical timestamps
    // must still materialize its LAST bucket once an event-time until
    // crosses that bucket's end — the per-stream pending retention lane
    val inc = freshDs()
    val warm = inc.ensureStream(Map("name" -> "warm"))
    inc.appendMultiple(Seq((warm, ts("2024-03-01 00:00:30"), 1.0))
      .toDF("stream_id", "t", "v"))
    inc.downsampleStreams() // until = wall now: frontiers jump to 2026+
    val s = inc.ensureStream(Map("name" -> "hist"))
    val s2 = inc.ensureStream(Map("name" -> "hist2"))
    // s2's 09:00 hour bucket COMPLETES by the first event-time until, so
    // the hour level genuinely runs (and, pre-fix, cleared the whole
    // pending set) while s's 10:00 bucket is still open — the exact
    // stranding window
    val pts = Seq(15, 30, 45).map(m => (s, ts(f"2024-03-01 10:$m%02d:00"), m.toDouble)) :+
      ((s2, ts("2024-03-01 09:30:00"), 5.0))
    inc.appendMultiple(pts.toDF("stream_id", "t", "v"))
    inc.downsampleStreams(ts("2024-03-01 10:59:00")) // s's hour bucket open
    inc.downsampleStreams(ts("2024-03-01 11:05:00")) // now it completes
    val hourRows = inc.datapoints
      .where(col("stream_id") === s && col("granularity") === "hours")
      .select("t", "c", "s").collect()
    assert(hourRows.map(_.getTimestamp(0)).toSeq == Seq(ts("2024-03-01 10:00:00")),
      s"hour bucket must materialize after the crossing, got ${hourRows.toSeq}")
    assert(hourRows.head.getLong(1) == 3 && hourRows.head.getDouble(2) == 90.0)
  }

  test("incremental derive on append == full recompute, all four ops") {
    import spark.implicits._
    // one store driven by staged appends (incremental cascade), compared
    // against backprocessStreams' full recompute of the same store — the
    // strongest equivalence: full recompute is the semantics oracle
    val ds = freshDs()
    val a = ds.ensureStream(Map("name" -> "srcA"))
    val b = ds.ensureStream(Map("name" -> "srcB"))
    val rst = ds.ensureStream(Map("name" -> "resets"))
    ds.ensureStream(Map("name" -> "d_sum"), deriveFrom = Seq(a, b),
      deriveOp = Some(DeriveOps.Sum))
    ds.ensureStream(Map("name" -> "d_drv"), deriveFrom = Seq(a),
      deriveOp = Some(DeriveOps.Derivative))
    ds.ensureStream(Map("name" -> "d_rst"), deriveFrom = Seq(a),
      deriveOp = Some(DeriveOps.CounterReset))
    ds.ensureStream(Map("name" -> "d_cd"), deriveFrom = Seq(a),
      deriveOp = Some(DeriveOps.CounterDerivative),
      deriveArgs = Some("""{"max_value": 256, "reset_stream": """ +
        "\"" + rst + "\"}"))

    def day1(id: String, off: Int) = (0 until 20).map(i =>
      (id, ts(f"2024-03-01 ${8 + i / 4}%02d:${(i * 13) % 60}%02d:00"),
        ((i * 37 + off) % 256).toDouble))
    // day 1: both sources + a reset mid-morning
    ds.appendMultiple(day1(a, 0).toDF("stream_id", "t", "v"))
    ds.appendMultiple(day1(b, 5).toDF("stream_id", "t", "v"))
    ds.appendMultiple(Seq((rst, ts("2024-03-01 10:30:00"), 1.0))
      .toDF("stream_id", "t", "v"))
    // same-day second append (prevLatest >= window start -> backward scan)
    ds.appendMultiple(Seq((a, ts("2024-03-01 23:59:00"), 7.0))
      .toDF("stream_id", "t", "v"))
    // multi-day gap append (prevLatest < window start -> exact partition)
    ds.appendMultiple((0 until 6).map(i =>
        (a, ts(f"2024-03-09 00:0$i:00"), (i * 50 % 256).toDouble))
      .toDF("stream_id", "t", "v"))
    // reset-only append: suppression must reach the NEXT source points
    ds.appendMultiple(Seq((rst, ts("2024-03-09 00:02:30"), 1.0))
      .toDF("stream_id", "t", "v"))
    ds.appendMultiple(Seq((a, ts("2024-03-09 00:07:00"), 9.0))
      .toDF("stream_id", "t", "v"))

    def dump() = ds.datapoints
      .where(col("v_num").isNotNull) // raw datapoints only, not rollups
      .select("stream_id", "granularity", "t", "v_num")
      .collect().map(_.toSeq).toSet
    // rollup ladder on top of the incrementally-derived data: the tail
    // deletions must leave a high-water mark the ladder refills without
    // holes, and the folded aggregates must equal a from-scratch rebuild
    def rollups() = {
      ds.downsampleStreams(ts("2024-03-20 00:00:00"))
      ds.datapoints
        .select("stream_id", "granularity", "t", "v_num", "c", "s", "l", "u",
          "m", "d", "t_first", "t_last")
        .collect().map(_.toSeq).toSet
    }
    val incremental = dump()
    val incRollups = rollups()
    ds.backprocessStreams() // full recompute of every derived stream
    assert(incremental == dump())
    assert(incremental.nonEmpty)
    // backprocess dropped every derived rollup; a fresh ladder pass over
    // the fully-recomputed store must reproduce the incremental ladder
    assert(rollups() == incRollups)
  }

  test("stale derive coverage marker self-heals via full recompute") {
    import spark.implicits._
    // simulate the crash window (store write landed, derive skipped): the
    // coverage marker lags the source's extent, so the NEXT append must
    // detect staleness and fall back to the full recompute instead of
    // leaving a silent gap
    val ds = freshDs()
    val src = ds.ensureStream(Map("name" -> "heal-src"))
    val drvId = ds.ensureStream(Map("name" -> "heal-drv"),
      deriveFrom = Seq(src), deriveOp = Some(DeriveOps.Derivative))
    ds.appendMultiple((0 until 5).map(i =>
      (src, ts(f"2024-04-01 00:0$i:00"), i * 10.0)).toDF("stream_id", "t", "v"))
    // corrupt: rewind the marker AND delete the day's derived output — the
    // worst case where derived data is genuinely missing for covered time
    val marker = new java.io.File(
      s"${ds.rootDir}/derived_raw/stream_id=$drvId/_graft_coverage")
    assert(marker.exists())
    java.nio.file.Files.writeString(marker.toPath,
      (ts("2024-03-31 00:00:00").getTime / 1000L).toString)
    val gdir = new java.io.File(
      s"${ds.rootDir}/derived_raw/stream_id=$drvId/granularity=seconds")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    gdir.listFiles().filter(_.getName.startsWith("ymd=")).foreach(rm)
    assert(ds.getData(drvId, Granularity.Seconds).count() == 0) // gap is real
    // next append: prevLatest(src) = 00:04 > marker cw -> stale -> FULL
    // recompute heals the whole stream, not just the new day's window
    ds.appendMultiple(Seq((src, ts("2024-04-02 00:00:00"), 100.0))
      .toDF("stream_id", "t", "v"))
    assert(ds.getData(drvId, Granularity.Seconds).count() == 5)
  }

  test("randomized append workload == full recompute (3 seeds)") {
    import spark.implicits._
    // model-based: a random sequence of appends (same-day re-appends,
    // multi-day gaps, >lookbackDays gaps that force the give-up->full
    // path, reset-only batches) over a derive DAG with a chained stream —
    // the incremental cascade must land byte-identical to the full
    // recompute after every workload
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val ds = freshDs()
      val a = ds.ensureStream(Map("name" -> "rw-a"))
      val b = ds.ensureStream(Map("name" -> "rw-b"))
      val rst = ds.ensureStream(Map("name" -> "rw-rst"))
      ds.ensureStream(Map("name" -> "rw-sum"), deriveFrom = Seq(a, b),
        deriveOp = Some(DeriveOps.Sum))
      val drv = ds.ensureStream(Map("name" -> "rw-drv"), deriveFrom = Seq(a),
        deriveOp = Some(DeriveOps.Derivative))
      ds.ensureStream(Map("name" -> "rw-cd"), deriveFrom = Seq(b),
        deriveOp = Some(DeriveOps.CounterDerivative),
        deriveArgs = Some(
          s"""{"max_value": 128, "reset_stream": "$rst"}"""))
      // chained: counter_reset over the derivative stream
      ds.ensureStream(Map("name" -> "rw-chain"), deriveFrom = Seq(drv),
        deriveOp = Some(DeriveOps.CounterReset))

      val t0 = 1709251200L // 2024-03-01 UTC
      var cur = Map(a -> t0, b -> t0, rst -> t0)
      for (_ <- 0 until 7) {
        // per-batch day advance: 0 = same-day re-append, 45 > lookbackDays
        val gap = Seq(0L, 0L, 1L, 3L, 45L)(rnd.nextInt(5)) * 86400L
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(String, Timestamp, Double)]
        for (sid <- Seq(a, b) if rnd.nextInt(4) > 0) {
          var t = cur(sid) + gap + rnd.nextInt(120) + 1
          for (_ <- 0 until 1 + rnd.nextInt(5)) {
            rows += ((sid, new Timestamp(t * 1000L),
              rnd.nextInt(128).toDouble))
            t += 1 + rnd.nextInt(1800)
          }
          cur += sid -> t
        }
        if (rnd.nextInt(3) == 0) { // occasional reset(-only) batch
          val t = cur(rst) + gap + rnd.nextInt(3600) + 1
          rows += ((rst, new Timestamp(t * 1000L), 1.0))
          cur += rst -> t
        }
        if (rows.nonEmpty)
          ds.appendMultiple(rows.toSeq.toDF("stream_id", "t", "v"))
      }
      def dump() = ds.datapoints.where(col("v_num").isNotNull)
        .select("stream_id", "granularity", "t", "v_num")
        .collect().map(_.toSeq).toSet
      val incremental = dump()
      ds.backprocessStreams()
      assert(incremental == dump(), s"seed $seed diverged")
      assert(incremental.nonEmpty)
    }
  }

  test("dirty sentinel from a crashed incremental rewrite forces full recompute") {
    import spark.implicits._
    // an equal-timestamp append advances no extent, so the coverage
    // staleness check alone cannot see a crash between the incremental
    // path's deletes and its write — the sentinel must catch it
    val ds = freshDs()
    val src = ds.ensureStream(Map("name" -> "dirty-src"))
    val drvId = ds.ensureStream(Map("name" -> "dirty-drv"),
      deriveFrom = Seq(src), deriveOp = Some(DeriveOps.Derivative))
    ds.appendMultiple((0 until 5).map(i =>
      (src, ts(f"2024-05-01 00:0$i:00"), i * 10.0)).toDF("stream_id", "t", "v"))
    val n = ds.getData(drvId, Granularity.Seconds).count()
    // simulate the crash window: sentinel set, derived day deleted
    val sdir = new java.io.File(s"${ds.rootDir}/derived_raw/stream_id=$drvId")
    java.nio.file.Files.write(
      new java.io.File(sdir, "_graft_dirty").toPath, Array.empty[Byte])
    new java.io.File(sdir, "granularity=seconds").listFiles()
      .filter(_.getName.startsWith("ymd=")).foreach { d =>
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(d)
      }
    // simply REOPENING the store must heal (reads would otherwise serve
    // the hole until some future append touches the source — never, for
    // a cold stream)
    val reopened = new graft.core.Datastream(spark, ds.rootDir)
    assert(reopened.getData(drvId, Granularity.Seconds).count() == n)
    assert(!new java.io.File(sdir, "_graft_dirty").exists())
    // and an append through the healed store still behaves
    reopened.appendMultiple(Seq((src, ts("2024-05-01 00:09:00"), 90.0))
      .toDF("stream_id", "t", "v"))
    assert(reopened.getData(drvId, Granularity.Seconds).count() == n + 1)
  }

  test("crashed FULL recompute (dir emptied, sentinel set) heals at reopen") {
    import spark.implicits._
    // the full-mode twin of the incremental crash test: a crash between
    // the full path's rmTree and the group write leaves an EMPTIED stream
    // dir; without a sentinel the missing coverage marker only repairs it
    // at the next source append — never, for a cold source
    val ds = freshDs()
    val src = ds.ensureStream(Map("name" -> "fullcrash-src"))
    val drvId = ds.ensureStream(Map("name" -> "fullcrash-drv"),
      deriveFrom = Seq(src), deriveOp = Some(DeriveOps.Derivative))
    ds.appendMultiple((0 until 5).map(i =>
      (src, ts(f"2024-05-01 00:0$i:00"), i * 10.0)).toDF("stream_id", "t", "v"))
    val n = ds.getData(drvId, Granularity.Seconds).count()
    assert(n > 0)
    // simulate the full-mode crash window exactly as the code leaves it:
    // whole stream dir gone, bare dir holding only the sentinel
    val sdir = new java.io.File(s"${ds.rootDir}/derived_raw/stream_id=$drvId")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(sdir); rm(new java.io.File(s"${ds.rootDir}/derived_rollups/stream_id=$drvId"))
    sdir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(sdir, "_graft_dirty").toPath, Array.empty[Byte])
    val reopened = new graft.core.Datastream(spark, ds.rootDir)
    assert(reopened.getData(drvId, Granularity.Seconds).count() == n)
    assert(!new java.io.File(sdir, "_graft_dirty").exists())
  }

  test("pre-epoch sum datapoints survive incremental appends (day-0 clamp)") {
    import spark.implicits._
    // pre-epoch rows all share the clamped ymd=0 partition, where the
    // incremental rewrite's day arithmetic is meaningless — every op must
    // take the full-recompute path instead of deleting ymd=0 and then
    // filtering out all t < 0 rows (the r5 review's data-loss finding)
    val ds = freshDs()
    val a = ds.ensureStream(Map("name" -> "pre-a"))
    val dId = ds.ensureStream(Map("name" -> "pre-sum"),
      deriveFrom = Seq(a), deriveOp = Some(DeriveOps.Sum))
    ds.appendMultiple(Seq(
      (a, ts("1969-12-20 00:00:00"), 1.0),
      (a, ts("1969-12-25 00:00:00"), 2.0)).toDF("stream_id", "t", "v"))
    assert(ds.getData(dId, Granularity.Seconds).count() == 2)
    // second pre-epoch append: would be the incremental window
    ds.appendMultiple(Seq((a, ts("1969-12-30 00:00:00"), 3.0))
      .toDF("stream_id", "t", "v"))
    val got = ds.getData(dId, Granularity.Seconds)
      .select("v").collect().map(_.getDouble(0)).sorted.toSeq
    assert(got == Seq(1.0, 2.0, 3.0)) // nothing pre-epoch was lost
    ds.backprocessStreams()
    assert(ds.getData(dId, Granularity.Seconds).count() == 3)
  }

  test("duplicate source in derive_from sums each point once") {
    import spark.implicits._
    val ds = freshDs()
    val a = ds.ensureStream(Map("name" -> "dup-src"))
    val dId = ds.ensureStream(Map("name" -> "dup-sum"),
      deriveFrom = Seq(a, a), deriveOp = Some(DeriveOps.Sum))
    ds.appendMultiple(Seq((a, ts("2024-05-02 00:00:00"), 7.0))
      .toDF("stream_id", "t", "v"))
    val v = ds.getData(dId, Granularity.Seconds).select("v")
      .collect().map(_.getDouble(0)).toSeq
    assert(v == Seq(7.0)) // set semantics: never 14.0
  }

  test("incremental derive scan work stays flat as history grows") {
    import spark.implicits._
    val ds = freshDs()
    val src = ds.ensureStream(Map("name" -> "flat-src"))
    ds.ensureStream(Map("name" -> "flat-drv"), deriveFrom = Seq(src),
      deriveOp = Some(DeriveOps.Derivative))
    def appendDay(day: Int): Unit =
      ds.appendMultiple((0 until 12).map(i =>
          (src, ts(f"2024-02-${day}%02d 00:${i * 5}%02d:00"), (day * 100 + i).toDouble))
        .toDF("stream_id", "t", "v"))
    // warm up: first append full-recomputes (no marker yet), second is
    // the first incremental
    appendDay(1); appendDay(2)
    def measured(day: Int): Long =
      graft.obs.Meter.measure(spark)(appendDay(day))._2.tasks
    val early = measured(3)
    (4 until 12).foreach(appendDay)
    val late = measured(12)
    // full recompute would scan 11 days of history here (~4x the tasks of
    // day 3); incremental reads one lookback day + the appended day, so
    // task counts must not grow with history length
    assert(late <= early + 4,
      s"derive-on-append work grew with history: day3=$early day12=$late")
    // and the data is still right
    val drv = ds.findStreamIds(Map("name" -> "flat-drv")).head
    val n = ds.getData(drv, Granularity.Seconds).count()
    ds.backprocessStreams()
    assert(ds.getData(drv, Granularity.Seconds).count() == n)
  }

  test("downsample_streams() with no until defaults to now (A10 parity)") {
    import spark.implicits._
    val ds = freshDs()
    val id = ds.ensureStream(Map("name" -> "until-now"))
    ds.appendMultiple((0 until 3).map(i =>
      (id, ts(f"2024-01-01 00:0$i:00"), i.toDouble)).toDF("stream_id", "t", "v"))
    ds.downsampleStreams() // historical buckets are all closed vs wall clock
    assert(ds.getData(id, Granularity.Minutes).count() == 3)
    assert(ds.getData(id, Granularity.Days).count() == 1)
  }

  test("incompatible granularity for derived stream raises") {
    val ds = freshDs()
    val src = ds.ensureStream(Map("name" -> "coarse"),
      highestGranularity = Granularity.Minutes)
    intercept[IncompatibleGranularities] {
      ds.ensureStream(Map("name" -> "fine-derived"),
        highestGranularity = Granularity.Seconds,
        deriveFrom = Seq(src), deriveOp = Some(DeriveOps.Derivative))
    }
  }

  test("tags: find/update/remove/clear; delete with dependencies") {
    val ds = freshDs()
    val a = ds.ensureStream(Map("name" -> "t1"), tags = Map("env" -> "prod"))
    val b = ds.ensureStream(Map("name" -> "t2"))
    assert(ds.findStreamIds(Map("env" -> "prod")) == Seq(a))
    assert(ds.findStreams(Map("env" -> "prod")).count() == 1)
    ds.updateTags(a, Map("env" -> "dev", "extra" -> "1"))
    assert(ds.getTags(a)("env") == "dev")
    ds.removeTag(a, "extra")
    assert(!ds.getTags(a).contains("extra"))
    intercept[StreamNotFound] { ds.getTags("nope") }

    val dId = ds.ensureStream(Map("name" -> "t2d"),
      deriveFrom = Seq(b), deriveOp = Some(DeriveOps.Derivative))
    intercept[OutstandingDependenciesError] {
      ds.deleteStreams(Map("name" -> "t2"))
    }
    assert(ds.deleteStreams(Map("name" -> "t2d")) == 1)
    assert(ds.deleteStreams(Map("name" -> "t2")) == 1)
  }

  test("strictWithinBatch rejects in-batch decreases like sequential appends (A2)") {
    import spark.implicits._
    val ds = freshDs()
    val id = ds.ensureStream(Map("name" -> "strict"))
    // the same rows appended one call at a time would raise on the third —
    // strict mode reproduces that through ONE bulk call via the seq order
    val bad = Seq(
      (id, ts("2024-01-01 00:00:01"), 1.0, 1L),
      (id, ts("2024-01-01 00:00:05"), 2.0, 2L),
      (id, ts("2024-01-01 00:00:03"), 3.0, 3L))
      .toDF("stream_id", "t", "v", "seq")
    intercept[InvalidTimestamp] {
      ds.appendMultiple(bad, strictWithinBatch = true)
    }
    // nothing was written by the failed batch
    assert(ds.getData(id, Granularity.Seconds).count() == 0)
    // equal timestamps along seq are fine (matches the stored-last rule);
    // and the seq column is a contract, not a stored column
    val ok = Seq(
      (id, ts("2024-01-01 00:00:01"), 1.0, 1L),
      (id, ts("2024-01-01 00:00:01"), 2.0, 2L),
      (id, ts("2024-01-01 00:00:07"), 3.0, 3L))
      .toDF("stream_id", "t", "v", "seq")
    ds.appendMultiple(ok, strictWithinBatch = true)
    assert(ds.getData(id, Granularity.Seconds).count() == 3)
    intercept[InvalidOperatorArguments] {
      ds.appendMultiple(Seq((id, ts("2024-01-01 00:00:09"), 1.0))
        .toDF("stream_id", "t", "v"), strictWithinBatch = true)
    }
  }

  test("ewma enforces its bounded-history precondition with a typed error") {
    import spark.implicits._
    val many = (0 until 50).map(i =>
      ("s1", ts(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"), i.toDouble))
      .toDF("stream_id", "t", "v")
    // under the cap: works; over the cap: typed error naming the limit
    assert(graft.operators.Derive.ewma(many, 0.5).count() == 50)
    val e = intercept[org.apache.spark.SparkException] {
      graft.operators.Derive.ewma(many, 0.5, maxPointsPerStream = 10).count()
    }
    assert(e.getMessage.contains("ewma") ||
      Option(e.getCause).exists(_.getMessage.contains("ewma")))
  }

  test("nested tag documents: ingest, canonical form, traversal, conflicts") {
    val ds = freshDs()
    val id = ds.ensureStream(Map("name" -> "nested1"))
    // nested document merges at dotted paths; numbers/bools coerce to text
    ds.updateTagsNested(id,
      """{"meta": {"region": "eu", "dc": "fra"}, "prio": 3, "live": true}""")
    assert(ds.getTags(id) == Map("name" -> "nested1", "meta.region" -> "eu",
      "meta.dc" -> "fra", "prio" -> "3", "live" -> "true"))
    // canonical nested doc: sorted keys at every level, real nesting
    assert(ds.getTagsJson(id) ==
      """{"live": "true", "meta": {"dc": "fra", "region": "eu"}, """ +
        """"name": "nested1", "prio": "3"}""")
    // traversal (both spellings) — and non-leaf paths match nothing
    assert(ds.findStreamsByJsonPath("meta.dc", "fra").count() == 1)
    assert(ds.findStreamsByJsonPath("$.meta.dc", "fra").count() == 1)
    assert(ds.findStreamsByJsonPath("meta", "fra").count() == 0)
    // flat equality on the dotted key agrees with the traversal
    assert(ds.findStreams(Map("meta.region" -> "eu")).count() == 1)
    // a key that is both value and parent has no nested form
    intercept[InvalidOperatorArguments] {
      ds.updateTags(id, Map("meta" -> "oops"))
    }
    // keys with empty segments are LITERAL leaves on both the write and
    // the query side — "a." may not collapse onto "a"
    val id2 = ds.ensureStream(Map("name" -> "nested2"),
      tags = Map("a" -> "1", "a." -> "2", "b..c" -> "3"))
    assert(ds.getTagsJson(id2).contains(""""a": "1""""))
    assert(ds.getTagsJson(id2).contains(""""a.": "2""""))
    assert(ds.findStreamsByJsonPath("a.", "2").count() == 1)
    assert(ds.findStreamsByJsonPath("b..c", "3").count() == 1)
    assert(ds.findStreamsByJsonPath("a", "1").count() == 1)
    // malformed / non-object documents raise
    intercept[InvalidOperatorArguments] { ds.updateTagsNested(id, "[1, 2]") }
    intercept[InvalidOperatorArguments] { ds.updateTagsNested(id, "{nope") }
    // tags survive the catalog parquet round trip in nested form
    val ds2 = new graft.core.Datastream(spark, ds.rootDir)
    assert(ds2.findStreamsByJsonPath("meta.region", "eu").count() == 1)
  }

  test("get_data range bounds incl/excl and downsampler projection") {
    val ds = freshDs()
    import spark.implicits._
    val id = ds.ensureStream(Map("name" -> "range"))
    ds.appendMultiple((1 to 5).map(i =>
      (id, ts(f"2024-01-01 00:00:0$i"), i.toDouble)).toDF("stream_id", "t", "v"))
    def n(start: Boolean, end: Boolean): Long =
      ds.getData(id, Granularity.Seconds,
        start = Some(ts("2024-01-01 00:00:02")),
        end = Some(ts("2024-01-01 00:00:04")),
        startExclusive = start, endExclusive = end).count()
    assert(n(false, false) == 3)
    assert(n(true, false) == 2)
    assert(n(false, true) == 2)
    assert(n(true, true) == 1)

    ds.downsampleStreams(ts("2024-01-02 00:00:00"))
    val proj = ds.getData(id, Granularity.Minutes,
      valueDownsamplers = Some(Seq("mean")), timeDownsamplers = Some(Seq("last")))
    assert(proj.columns.toSeq == Seq("t", "mean", "t_last"))
    intercept[UnsupportedDownsampler] {
      ds.getData(id, Granularity.Minutes, valueDownsamplers = Some(Seq("nope")))
    }
  }

  test("expireData drops only ymd partitions older than the cutoff") {
    import spark.implicits._
    val ds = freshDs()
    val id = ds.ensureStream(Map("name" -> "ttl"))
    // a derived stream keeps its raw points and rollups in their own
    // roots: expiry must reach both
    val sum = ds.ensureStream(Map("name" -> "ttl-sum"),
      deriveFrom = Seq(id), deriveOp = Some(DeriveOps.Sum))
    ds.appendMultiple(Seq(
      (id, ts("2024-01-01 00:00:01"), 1.0),
      (id, ts("2024-01-05 00:00:01"), 2.0),
      (id, ts("2024-01-09 00:00:01"), 3.0)).toDF("stream_id", "t", "v"),
      checkTimestamp = false)
    ds.downsampleStreams(ts("2024-02-01 00:00:00"))
    Seq(id, sum).foreach { s =>
      assert(ds.getData(s, Granularity.Days).count() == 3)
    }
    ds.expireData(ts("2024-01-05 00:00:00"))
    // Jan 1 gone at every granularity; Jan 5 and 9 retained
    Seq(id, sum).foreach { s =>
      assert(ds.getData(s, Granularity.Seconds).collect()
        .map(_.getDouble(1)).sorted.toSeq == Seq(2.0, 3.0))
      assert(ds.getData(s, Granularity.Days).count() == 2)
    }
    // the store keeps appending after expiry
    ds.appendMultiple(Seq((id, ts("2024-01-10 00:00:01"), 4.0))
      .toDF("stream_id", "t", "v"), checkTimestamp = false)
    assert(ds.getData(id, Granularity.Seconds).count() == 3)
  }

  test("per-granularity retention: raw expires on its own horizon, rollups keep theirs") {
    import spark.implicits._
    val ds = freshDs()
    val id = ds.ensureStream(Map("name" -> "rrd"))
    ds.appendMultiple(Seq(
      (id, ts("2024-01-01 00:00:01"), 1.0),
      (id, ts("2024-01-05 00:00:01"), 2.0),
      (id, ts("2024-01-09 00:00:01"), 3.0)).toDF("stream_id", "t", "v"),
      checkTimestamp = false)
    ds.downsampleStreams(ts("2024-02-01 00:00:00"))
    // RRD ladder: raw seconds keep 1 window (cutoff Jan 8), days keep
    // everything from Jan 2, granularities not named keep all
    ds.expireData(Map[Granularity, java.sql.Timestamp](
      Granularity.Seconds -> ts("2024-01-08 00:00:00"),
      Granularity.Days -> ts("2024-01-02 00:00:00")))
    assert(ds.getData(id, Granularity.Seconds).collect()
      .map(_.getDouble(1)).toSeq == Seq(3.0))
    assert(ds.getData(id, Granularity.Days).count() == 2)
    // hours weren't named -> all three buckets still there
    assert(ds.getData(id, Granularity.Hours).count() == 3)
  }

  test("compactStore merges append fragments without changing data") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-compact").toString
    val ds = new Datastream(spark, root)
    val id = ds.ensureStream(Map("name" -> "frag"))
    // 4 separate appends into the SAME day -> 4 files in one partition
    for (i <- 0 until 4)
      ds.appendMultiple(Seq((id, ts(s"2024-01-01 00:0$i:00"), i.toDouble))
        .toDF("stream_id", "t", "v"), checkTimestamp = false)
    ds.downsampleStreams(ts("2024-01-02 00:00:00"))
    def files(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$root/datapoints"))
        .count(_.getName.endsWith(".parquet"))
    }
    val before = ds.datapoints.orderBy("granularity", "t").collect().map(_.toSeq)
    val fragBefore = files()
    assert(fragBefore > 4, s"expected fragmented store, got $fragBefore files")
    ds.compactStore()
    assert(files() < fragBefore, "compaction did not reduce file count")
    val after = ds.datapoints.orderBy("granularity", "t").collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq)
    // the store keeps working after the swap
    ds.appendMultiple(Seq((id, ts("2024-01-01 00:09:00"), 9.0))
      .toDF("stream_id", "t", "v"), checkTimestamp = false)
    assert(ds.getData(id, Granularity.Seconds).count() == 5)
  }

  test("derived data never lands before its descriptor is on disk") {
    import spark.implicits._
    // the crash-orphan scenario: a source persisted by an earlier session,
    // a derived stream ensured over it while it is still EMPTY (no
    // flush-forcing append of its own), then an append to the source — the
    // cascade writes the derived stream's data, so that append MUST flush
    // the catalog first or a crash strands data no descriptor explains
    val root = Files.createTempDirectory("graft-orphan").toString
    val ds1 = new Datastream(spark, root)
    val src = ds1.ensureStream(Map("name" -> "src"))
    ds1.flush()
    val ds2 = new Datastream(spark, root) // reopen: unpersisted = empty
    val drv = ds2.ensureStream(Map("name" -> "drv"), deriveFrom = Seq(src),
      deriveOp = Some(DeriveOps.Derivative))
    ds2.appendMultiple(Seq(
        (src, ts("2024-01-01 00:00:01"), 1.0),
        (src, ts("2024-01-01 00:00:03"), 5.0))
      .toDF("stream_id", "t", "v"), checkTimestamp = false)
    // "crash" = reopen without flush/close: the derived descriptor AND its
    // cascade-written data must both be visible
    val ds3 = new Datastream(spark, root)
    assert(ds3.getTags(drv)("name") == "drv")
    assert(ds3.getData(drv, Granularity.Seconds).count() == 1)
  }

  test("compaction is selective, covers derived roots, and heals a mid-swap crash") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-compact-sel").toString
    val ds = new Datastream(spark, root)
    val src = ds.ensureStream(Map("name" -> "s"))
    val drv = ds.ensureStream(Map("name" -> "d"), deriveFrom = Seq(src),
      deriveOp = Some(DeriveOps.Derivative))
    // two appends into day 1 (fragments its leaf), one into day 2
    ds.appendMultiple(Seq((src, ts("2024-01-01 00:00:10"), 1.0))
      .toDF("stream_id", "t", "v"), checkTimestamp = false)
    ds.appendMultiple(Seq((src, ts("2024-01-01 00:01:10"), 3.0))
      .toDF("stream_id", "t", "v"), checkTimestamp = false)
    ds.appendMultiple(Seq((src, ts("2024-01-02 00:00:10"), 7.0))
      .toDF("stream_id", "t", "v"), checkTimestamp = false)
    def leafFiles(p: String): Map[String, Seq[String]] = {
      def walk(f: java.io.File, rel: String): Seq[(String, Seq[String])] = {
        val fs = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        val own = fs.filter(x => x.isFile && x.getName.endsWith(".parquet"))
          .map(_.getName).toSeq.sorted
        (if (own.nonEmpty) Seq(rel -> own) else Nil) ++
          fs.filter(_.isDirectory)
            .flatMap(d => walk(d, s"$rel/${d.getName}")).toSeq
      }
      walk(new java.io.File(p), "").toMap
    }
    val dpRoot = s"$root/datapoints"
    val before = leafFiles(dpRoot)
    val k1 = DatapointStore.ymdKey(ts("2024-01-01 00:00:10"))
    val k2 = DatapointStore.ymdKey(ts("2024-01-02 00:00:10"))
    val day1 = before.keys.find(k => k.contains("granularity=seconds") &&
      k.contains(s"ymd=$k1")).get
    val day2 = before.keys.find(k => k.contains("granularity=seconds") &&
      k.contains(s"ymd=$k2")).get
    assert(before(day1).size == 2 && before(day2).size == 1)
    val dataBefore = ds.datapoints.orderBy("granularity", "t", "stream_id")
      .collect().map(_.toSeq).toSeq
    val drvBefore = ds.getData(drv, Granularity.Seconds)
      .orderBy("t").collect().map(_.toSeq).toSeq
    ds.compactStore()
    val after = leafFiles(dpRoot)
    assert(after(day1).size == 1, "fragmented leaf not compacted")
    // selectivity: the single-file leaf was not rewritten (same file name)
    assert(after(day2) == before(day2))
    // derived root compacted too (incremental appends fragment it)
    assert(leafFiles(s"$root/derived_raw").values.forall(_.size == 1))
    assert(ds.datapoints.orderBy("granularity", "t", "stream_id")
      .collect().map(_.toSeq).toSeq == dataBefore)
    assert(ds.getData(drv, Granularity.Seconds)
      .orderBy("t").collect().map(_.toSeq).toSeq == drvBefore)
    // crash heal: strand a leaf in the backup tree (the mid-swap window)
    // — the next read must restore it, not serve a hole
    val bakLeaf = new java.io.File(s"$dpRoot.graft-parts-bak/$day1")
    bakLeaf.getParentFile.mkdirs()
    assert(new java.io.File(s"$dpRoot/$day1").renameTo(bakLeaf))
    assert(ds.datapoints.orderBy("granularity", "t", "stream_id")
      .collect().map(_.toSeq).toSeq == dataBefore)
    assert(!new java.io.File(s"$dpRoot.graft-parts-bak").exists())
  }

  test("duplicate-timestamp data: incremental derive == full recompute") {
    import spark.implicits._
    // the store legitimately holds duplicate rounded timestamps (two
    // events in one bucket are two datapoints); lag-based ops must order
    // them deterministically or the incremental rewrite can legally
    // diverge from a full recompute on identical data
    val ds = freshDs()
    val a = ds.ensureStream(Map("name" -> "dupSrc"))
    for (op <- Seq(DeriveOps.Derivative, DeriveOps.CounterReset,
        DeriveOps.CounterDerivative))
      ds.ensureStream(Map("name" -> s"dup_$op"), deriveFrom = Seq(a),
        deriveOp = Some(op))
    // duplicate-t runs in BOTH appends, plus a duplicate bucket that
    // spans the incremental lookback boundary
    ds.appendMultiple(Seq(
      (a, ts("2024-03-01 08:00:00"), 5.0),
      (a, ts("2024-03-01 08:00:00"), 2.0),
      (a, ts("2024-03-01 08:10:00"), 9.0),
      (a, ts("2024-03-01 08:10:00"), 1.0),
      (a, ts("2024-03-01 08:20:00"), 4.0)).toDF("stream_id", "t", "v"),
      checkTimestamp = false)
    ds.appendMultiple(Seq(
      (a, ts("2024-03-01 08:20:00"), 8.0), // lands in the last seen bucket
      (a, ts("2024-03-01 08:30:00"), 3.0),
      (a, ts("2024-03-01 08:30:00"), 6.0)).toDF("stream_id", "t", "v"),
      checkTimestamp = false)
    def dump() = ds.datapoints
      .where(col("v_num").isNotNull)
      .select("stream_id", "granularity", "t", "v_num")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val incremental = dump()
    ds.backprocessStreams()
    assert(incremental == dump())
    assert(incremental.nonEmpty)
  }

  test("N staged appends cost zero catalog rewrites; flush folds them in") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-hwm").toString
    val ds = new Datastream(spark, root)
    val id = ds.ensureStream(Map("name" -> "hwm"))
    // first append persists the new descriptor exactly once (a crash must
    // never strand data whose stream the on-disk catalog doesn't know)
    ds.appendMultiple(Seq((id, ts("2024-01-01 00:00:00"), 0.0))
      .toDF("stream_id", "t", "v"))
    assert(ds.catalogWrites == 1, "first append persists the descriptor once")
    // N further appends: zero catalog rewrites, only sidecar lines
    for (i <- 1 to 5)
      ds.appendMultiple(Seq((id, ts(s"2024-01-01 00:0$i:00"), i.toDouble))
        .toDF("stream_id", "t", "v"))
    assert(ds.catalogWrites == 1,
      s"staged appends must not rewrite the catalog (got ${ds.catalogWrites})")
    // r13 layout: the sidecar is a SEGMENT DIR (one create-new file per
    // batch — append() is unsupported on several Hadoop filesystems)
    def segs() = Option(new java.io.File(s"$root/streams.hwm.d").listFiles())
      .getOrElse(Array.empty).count(f => f.isFile && !f.getName.startsWith("."))
    // 5 segments: the FIRST append's descriptor-persist flush truncated
    // its own segment; the 5 staged appends each left one
    assert(segs() == 5, s"one sidecar segment per staged append, got ${segs()}")
    ds.flush()
    assert(ds.catalogWrites == 2)
    assert(segs() == 0 && !new java.io.File(s"$root/streams.hwm.d").exists(),
      "flush truncates the sidecar")
    // the flushed catalog carries the widened bounds
    val d2 = new Datastream(spark, root)
    intercept[InvalidTimestamp] {
      d2.append(id, 9.0, ts("2024-01-01 00:03:00"))
    }
  }

  test("crash before flush: sidecar replay keeps monotonicity exact on reopen") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-hwm-crash").toString
    val ds = new Datastream(spark, root)
    val id = ds.ensureStream(Map("name" -> "crash"))
    ds.appendMultiple(Seq((id, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("stream_id", "t", "v"))
    ds.appendMultiple(Seq((id, ts("2024-01-02 00:00:00"), 2.0))
      .toDF("stream_id", "t", "v"))
    // crash: no flush(), the instance is simply abandoned — the on-disk
    // catalog still says latest_ts = Jan 1 (from the descriptor flush)
    val d2 = new Datastream(spark, root)
    // healed bounds: an append before the TRUE high-water mark must fail
    intercept[InvalidTimestamp] {
      d2.append(id, 9.0, ts("2024-01-01 12:00:00"))
    }
    // and one at/after it still lands
    d2.append(id, 3.0, ts("2024-01-03 00:00:00"))
    assert(d2.getData(id, Granularity.Seconds).count() == 3)
    // catalog bounds themselves healed, not just the gate
    val row = d2.streams.where(col("stream_id") === id)
      .select("earliest_ts", "latest_ts").collect().head
    assert(row.getTimestamp(0) == ts("2024-01-01 00:00:00"))
    assert(row.getTimestamp(1) == ts("2024-01-03 00:00:00"))
  }

  test("torn sidecar tail line is skipped; intact lines still replay") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-hwm-torn").toString
    val ds = new Datastream(spark, root)
    val id = ds.ensureStream(Map("name" -> "torn"))
    ds.appendMultiple(Seq((id, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("stream_id", "t", "v"))
    ds.appendMultiple(Seq((id, ts("2024-01-02 00:00:00"), 2.0))
      .toDF("stream_id", "t", "v"))
    // simulate a crash mid-sidecar-append: torn partial JSON tail
    val w = new java.io.FileWriter(s"$root/streams.hwm", true)
    try w.write(s"""{"id":"$id","lo":17""") finally w.close()
    val d2 = new Datastream(spark, root)
    intercept[InvalidTimestamp] { d2.append(id, 9.0, ts("2024-01-01 12:00:00")) }
    d2.append(id, 3.0, ts("2024-01-03 00:00:00"))
    assert(d2.getData(id, Granularity.Seconds).count() == 3)
  }

  test("catalog is sharded: a single-stream update rewrites one shard") {
    val root = Files.createTempDirectory("graft-shard1").toString
    val ds = new Datastream(spark, root)
    val ids = (1 to 40).map(i => ds.ensureStream(Map("name" -> s"sh$i")))
    ds.flush()
    val streamsDir = new java.io.File(s"$root/streams")
    def shardDirs() = Option(streamsDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).sortBy(_.getName)
    val before = shardDirs().map(d => d.getName ->
      Option(d.listFiles()).getOrElse(Array.empty).map(_.getName).sorted.toSeq).toMap
    assert(before.size > 1, "40 streams should span multiple shards")
    // one tag update -> exactly the stream's own shard rewrites (its part
    // file names change; every other shard's files are byte-identical names)
    ds.updateTags(ids.head, Map("touched" -> "yes"))
    val after = shardDirs().map(d => d.getName ->
      Option(d.listFiles()).getOrElse(Array.empty).map(_.getName).sorted.toSeq).toMap
    assert(after.keySet == before.keySet)
    val changed = before.keySet.filter(k => before(k) != after(k))
    assert(changed.size == 1, s"expected exactly one rewritten shard, got $changed")
    // reopen reads the sharded layout back whole
    val d2 = new Datastream(spark, root)
    assert(d2.streams.count() == 40)
    assert(d2.getTags(ids.head).get("touched").contains("yes"))
  }

  test("sidecar flush threshold scales with catalog size (amortized rewrites)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-shard-amort").toString
    val ds = new Datastream(spark, root)
    val ids = (1 to 20).map(i => ds.ensureStream(Map("name" -> s"am$i")))
    // drive appends through the smallest scaled threshold: with the floor
    // at 0 the threshold is catalog.size * 256 B = 5 KiB, and each batch
    // writes one ~60 B line per stream (~1.2 KiB) -> a flush every ~4-5
    // batches, HOWEVER many batches run: catalogWrites must grow
    // sublinearly in batch count, never 1:1 (the r6 scale finding)
    ds.hwmFlushFloor = 0L
    assert(ds.hwmFlushBytes == ds.streams.count() * 256)
    val batches = 20
    for (b <- 1 to batches) {
      val df = ids.map(id => (id, ts(f"2024-01-01 00:${b}%02d:00"), b.toDouble))
        .toDF("stream_id", "t", "v")
      ds.appendMultiple(df)
    }
    val writes = ds.catalogWrites
    assert(writes >= 2, s"scaled threshold should have forced some flushes, got $writes")
    assert(writes <= batches / 2,
      s"flushes must amortize over batches, got $writes for $batches batches")
    // bounds survive exactly across reopen (sidecar + shards together)
    val d2 = new Datastream(spark, root)
    intercept[InvalidTimestamp] {
      d2.append(ids.head, 0.0, ts("2024-01-01 00:10:00"))
    }
  }

  test("pre-shard flat catalog loads and migrates on next flush") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-shard-mig").toString
    val ds = new Datastream(spark, root)
    val a = ds.ensureStream(Map("name" -> "mig-a"))
    val b = ds.ensureStream(Map("name" -> "mig-b"))
    ds.flush()
    // rewrite the store as the PRE-SHARD layout: one flat parquet dir
    val streamsDir = new java.io.File(s"$root/streams")
    val flat = spark.read.parquet(
      Option(streamsDir.listFiles()).get.filter(f =>
        f.isDirectory && f.getName.startsWith("shard=")).map(_.getPath): _*)
    val tmp = Files.createTempDirectory("graft-flat").toString
    flat.coalesce(1).write.mode("overwrite").parquet(tmp)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(streamsDir)
    assert(new java.io.File(tmp).renameTo(streamsDir))
    // loads transparently...
    val d2 = new Datastream(spark, root)
    assert(d2.streams.count() == 2)
    assert(d2.getTags(a) == Map("name" -> "mig-a"))
    // ...and the next flush migrates to shards (legacy files gone)
    d2.updateTags(b, Map("post" -> "migration"))
    assert(Option(streamsDir.listFiles()).get
      .exists(f => f.isDirectory && f.getName.startsWith("shard=")))
    assert(!Option(streamsDir.listFiles()).get.exists(_.isFile),
      "flat-layout files must be cleaned up after migration")
    val d3 = new Datastream(spark, root)
    assert(d3.streams.count() == 2)
    assert(d3.getTags(b) == Map("name" -> "mig-b", "post" -> "migration"))
  }

  test("crash between shard rename-aside and swap-in falls back per shard") {
    val root = Files.createTempDirectory("graft-shard-crash").toString
    val ds = new Datastream(spark, root)
    val ids = (1 to 10).map(i => ds.ensureStream(Map("name" -> s"cr$i")))
    ds.flush()
    val streamsDir = new java.io.File(s"$root/streams")
    // simulate the crash window: one shard renamed aside, tmp never moved in
    val shard = Option(streamsDir.listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).head
    assert(shard.renameTo(
      new java.io.File(streamsDir, s".old_${shard.getName}")))
    val d2 = new Datastream(spark, root)
    assert(d2.streams.count() == 10, "backup shard must be read in place")
    ids.foreach(id => assert(d2.getTags(id).nonEmpty))
  }

  override def afterAll(): Unit = spark.stop()
}
