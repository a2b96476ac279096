package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one JVM at `local[N]`.
  * Prints one JSON line with every metric it measured; `run.py` picks the
  * ones the benchmark reports.
  *
  * Usage: Main --workload W --seed S --seconds T --trace 0|1
  *             --points FILE --work DIR --cores N --ops-sf DIR
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toInt
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val work = Paths.get(o("work"))
    val shape = workload match {
      case "ingest_plain" | "serve_derived" => StoreShape(workload, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // inputs are the harness's: parsed and drawn before the set-up clock,
    // and the heap they hold is the baseline `driver_heap_mb` excludes
    val in = new StoreInputs(shape, seed, points(o("points"), shape.userLimit))
    val heap0 = heapMb()
    note("inputs ready")

    val setupStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    note("session started")
    val tr = new Tracer(spark, traced, s"$workload-$seed")
    val m = new Metrics
    val (correct, attempted, failed, notes) =
      storeWorkload(spark, tr, m, in, work, cores, setupStart, heap0)
    val (opsAttempted, opsFailed, opsNotes) =
      if (traced) Ops.run(spark, tr, m, o("ops-sf"), work.resolve("ops"), seed)
      else (0L, 0L, Nil)
    if (traced) tr.dump(work.resolve("spans.jsonl"))
    val info = (notes ++ opsNotes ++ Seq("spark" -> s""""${spark.version}"""",
      "jvm" -> s""""${System.getProperty("java.version")}""""))
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"correct":${correct && opsFailed == 0},""" +
      s""""attempted":${attempted + opsAttempted},"failed":${failed + opsFailed},""" +
      s""""metrics":${m.json},"info":{$info}}""")
    spark.stop()
  }

  private val t0 = System.nanoTime()
  /** Progress on stderr, with seconds since the process started. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  /** Source points as `run.py` wrote them: key, user, epoch second,
    * value per line, tab-separated, in (second, key) order.
    */
  private def points(file: String, userLimit: Option[Long]): Array[Pt] =
    Files.readAllLines(Paths.get(file)).asScala.iterator.map { l =>
      val f = l.split('\t')
      Pt(f(0), f(1).toLong, f(2).toLong, f(3).toDouble)
    }.filter(p => userLimit.forall(p.user < _)).toArray

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Heap in use after a forced GC; the least of three tries, since Spark
    * frees some state (unpersisted blocks, queued listener events)
    * asynchronously.
    */
  private def heapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }.min

  private def storeWorkload(spark: SparkSession, tr: Tracer, m: Metrics,
      in: StoreInputs, work: Path, cores: Int, setupStart: Long,
      heap0: Double): (Boolean, Long, Long, Seq[(String, String)]) = {
    val run = new StoreRun(spark, tr, in)
    val root = work.resolve("store")
    val (ds, ids) = run.declare(root.toString)
    tr.span("catalog.flush")(ds.flush())
    run.warmUp(ds, ids)
    val setupS = (System.nanoTime() - setupStart) / 1e9
    note("set up")
    tr.drain()
    val timedFrom = tr.spans.length

    val cpu0 = cpuSeconds()
    val l0 = System.nanoTime()
    tr.span("timed")(run.loop(ds, ids))
    val wallS = (System.nanoTime() - l0) / 1e9
    note("timed section done")
    val cpuS = cpuSeconds() - cpu0
    val heap = heapMb() - heap0
    tr.drain()

    // ---- correctness ---------------------------------------------------
    val keyOf = ids.map(_.swap)
    val delivered = in.pts.filter(_.sec < run.deliveredHi).toSeq
    val raw = Checks.referenceRaw(spark, delivered, in.derivs, in.sums)
    val ref = Checks.referenceLevels(raw, run.untilSec)
    val (got, dups) = Checks.storeLevels(ds, keyOf)
    val isDerived = (k: Checks.Key) => Checks.isDerived(k._1)
    val srcBad = Checks.compare(ref, got, k => !isDerived(k))
    val drvBad = Checks.compare(ref, got, isDerived)
    val byStream = Checks.index(ref)
    val readBad = run.reads.flatMap(r => Checks.checkRead(r, byStream))
    val mismatches = srcBad.size + drvBad.size + readBad.size + dups.size
    (srcBad ++ drvBad ++ readBad).take(5).foreach(e => System.err.println(s"[check] $e"))
    run.errors.take(5).foreach(e => System.err.println(s"[run] $e"))

    // fault injection: each check must report a perturbed value
    def bump(a: Checks.Agg) = a.copy(s = a.s * (1 + 1e-6) + 1e-3)
    val srcKey = got.keys.filter(k => !isDerived(k) && k._2 > 0).toSeq.sorted.headOption
    val drvKey = got.keys.filter(isDerived).toSeq.sorted.headOption
    val selfTests = Seq(
      "source_levels" -> srcKey.map(k =>
        Checks.compare(ref, got.updated(k, bump(got(k))), k2 => !isDerived(k2)).nonEmpty),
      "derived" -> drvKey.map(k =>
        Checks.compare(ref, got.updated(k, bump(got(k))), isDerived).nonEmpty),
      // one value of a read that returned rows, else a row added to an
      // empty one
      "reads" -> run.reads.find(_.rows.nonEmpty).orElse(run.reads.headOption).map { r =>
        val rows = r.rows.headOption match {
          case Some((t, s, l, u, c)) => (t, s * (1 + 1e-6) + 1e-3, l, u, c) +: r.rows.tail
          case None => Seq((r.untilSec - r.g.seconds, 1.0, 1.0, 1.0, 1L))
        }
        Checks.checkRead(r.copy(rows = rows), byStream).nonEmpty
      })
    val selfTestOk = selfTests.forall { case (name, r) =>
      name == "derived" && in.derivs.isEmpty && in.sums.isEmpty || r.contains(true)
    }

    // ---- layout --------------------------------------------------------
    val layout = Layout.walk(root)
    val storeBytes = Layout.totalBytes(root)

    m.e2e("setup_s", setupS, "s")
    m.e2e("freshness_p50_s", quantile(run.fresh.toSeq, 0.5), "s")
    m.e2e("getdata_p50_ms", quantile(run.readMs.toSeq, 0.5), "ms")
    m.e2e("process_cpu_s", cpuS, "s")
    m.e2e("store_bytes_per_point", storeBytes.toDouble / (run.written + run.preloaded), "B")
    m.e2e("driver_heap_mb", heap, "MB")
    layout.foreach { case (name, v) => m.layer(name, v.toDouble, if (name.endsWith("bytes")) "B" else "count") }
    if (tr.enabled) {
      m.tracedCopies()
      m.layer("batch.freshness_p75_s", quantile(run.fresh.toSeq, 0.75), "s")
      m.layer("read.call_ms_p90", quantile(run.readMs.toSeq, 0.9), "ms")
      Layers.store(tr, m, run, timedFrom, cores)
    }

    val notes = Seq(
      "batches" -> run.fresh.size.toString,
      "reads" -> run.readMs.size.toString,
      "freshness_s" -> run.fresh.map(v => f"$v%.3f").mkString("[", ",", "]"),
      "getdata_ms" -> run.readMs.map(v => f"$v%.1f").mkString("[", ",", "]"),
      "reads_with_rows" -> run.reads.count(_.rows.nonEmpty).toString,
      "points_written" -> (run.written + run.preloaded).toString,
      "timed_wall_s" -> f"$wallS%.3f",
      "heap_baseline_mb" -> f"$heap0%.3f",
      "mismatches" -> mismatches.toString,
      "self_tests" -> selfTests.map { case (n, r) =>
        s""""$n":${r.map(_.toString).getOrElse("null")}""" }.mkString("{", ",", "}"),
      "layout" -> layout.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    // every mismatch counts as a failed operation
    val failed = math.min(run.attempted, run.failed + mismatches)
    note("checked")
    (mismatches == 0 && run.failed == 0 && selfTestOk, run.attempted, failed, notes)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}

/** Metric values by name, in the order they were recorded. */
final class Metrics {
  private val vals = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val e2eNames = mutable.ArrayBuffer.empty[String]
  def e2e(name: String, v: Double, unit: String): Unit = {
    vals(name) = (v, unit); e2eNames += name; ()
  }
  def layer(name: String, v: Double, unit: String): Unit = { vals(name) = (v, unit); () }
  /** The traced run's own end-to-end values, for the tracing overhead. */
  def tracedCopies(): Unit = e2eNames.foreach { n =>
    val (v, u) = vals(n); vals(s"traced.$n") = (v, u)
  }
  def json: String = vals.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    s""""$k":{"value":$num,"unit":"$u"}"""
  }.mkString("{", ",", "}")
}
