package graft
import java.nio.file.{Files, Paths}
import graft.obs.{GraftSession, Json, Meter, Reading}

/** Driver-contract benchmark: run every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and print ONE JSON line with per-query seconds.
  *
  * Measurement: each query executes to completion through the noop sink
  * (count() would let Catalyst drop sorts and prune projections; noop
  * materializes every output row). One cheap warmup query first so JIT /
  * codegen / parquet-footer caches don't bill to the first timed query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus)
    // native fns + the size(split)->graft_ntokens optimizer rule, installed
    // up front so every query plans identically regardless of run order
    graft.functions.GraftFunctions.register(spark)

    // per-query jobs/tasks/executor CPU, by site (job description). Task
    // counts are the machine-load-immune metric (BASELINE.md: wall seconds
    // vary ±2-3× with load); executor CPU is the load-robust currency
    // (sandbox contention inflates wall 2-3× round-to-round at identical
    // task counts, BENCH_r05 178.6 s vs a controlled 114.7 s). In
    // local[32] a parallel query's cpu may legitimately exceed its wall.
    // Each read drains the listener bus outside the timed window.
    val meter = Meter.attach(spark)

    case class R(sec: Double, counted: Reading) {
      def cpuSec: Double = if (sec < 0) -1.0 else counted.cpuNs / 1e9
    }
    def run(name: String): R = {
      val before = meter.read()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return R(-1.0, Reading(Map.empty)) }
      val sec = (System.nanoTime() - t0) / 1e9
      R(sec, meter.read() - before)
    }

    run("q1_pricing_summary") // warmup (untimed)
    // optional arg list = run only these queries (local iteration);
    // the driver invokes with no args and gets the full sorted suite
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val results0 = names.map(n => n -> run(n))
    val results = results0.map { case (n, r) => n -> r.sec }
    val total = results.map(_._2).filter(_ >= 0).sum
    val cpuResults = results0.map { case (n, r) => n -> r.cpuSec }
    val cpuTotal = cpuResults.map(_._2).filter(_ >= 0).sum
    // Full per-query map → local file (for BASELINE bookkeeping). The
    // stdout line itself must stay SHORT: the bench driver parses it from
    // a 2000-char tail of the run output (BENCH_r02.json shows the r2
    // line, ~2800 chars for 73 queries, sliding out of that window →
    // "parsed": null). Budget the line to ~1750 chars — slowest queries
    // first so the hot spots always survive the cut — and leave room for
    // sbt's trailing "[success] Total time ..." line.
    val fullJson = results.map { case (k, v) => "\"" + k + "\":" + Json.num(v) }
      .mkString("{", ",", "}")
    val cpuJson = cpuResults.map { case (k, v) => "\"" + k + "\":" + Json.num(v) }
      .mkString("{", ",", "}")
    val jobsJson = results0.map { case (k, r) => "\"" + k + "\":" + r.counted.jobs }
      .mkString("{", ",", "}")
    val tasksJson = results0.map { case (k, r) => "\"" + k + "\":" + r.counted.tasks }
      .mkString("{", ",", "}")
    // per-query site → jobs/tasks/cpu_s: each query's sites sum to its
    // jobs and tasks above
    val phasesJson = results0.map { case (k, r) => "\"" + k + "\":" + r.counted.toJson }
      .mkString("{", ",", "}")
    val tasksTotal = results0.map(_._2.counted.tasks).sum
    try Files.writeString(Paths.get("bench_full.json"),
      s"""{"total":${Json.num(total)},"cpu_total":${Json.num(cpuTotal)},""" +
        s""""queries":$fullJson,"cpu":$cpuJson,""" +
        s""""jobs":$jobsJson,"tasks":$tasksJson,"phases":$phasesJson,""" +
        s""""tasks_total":$tasksTotal,"sf":"$sfDir"}""")
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench_full.json write failed: $e") }
    // Primary stdout metric is executor CPU seconds (load-robust; see the
    // listener comment); wall total + task counts ride along as secondary
    // fields. The per-query map reports CPU seconds for the same reason.
    // A per-query wall rides along too — wall(c8)/wall(c32) is the
    // parallelism currency a CPU/CPU ratio cannot show. It is packed as
    // a list in the order of the "queries" keys, 1 decimal, so a query
    // costs its name once: ~48 of 362 queries fit a 1900-char line
    // (line + sbt's ~80-char "[success] Total time" line must survive a
    // 2000-char tail parse), slowest CPU first.
    // The FULL per-query wall/cpu/jobs/tasks maps are in bench_full.json
    // ("full_metrics"). The tail is sized with a worst-case n_reported
    // width so the room budget stays valid once the real count is
    // substituted in.
    def tailFor(nReported: Any) =
      s""""n_queries":${results.size},"n_reported":$nReported,""" +
        s""""queries_truncated":${nReported != results.size},""" +
        s""""wall_total":${Json.num(total)},""" +
        s""""tasks_total":$tasksTotal,""" +
        s""""full_metrics":"bench_full.json","sf":"$sfDir"}"""
    val head = s"""{"metric":"executor_cpu_total","value":${Json.num(cpuTotal)},""" +
      s""""unit":"sec","queries":{"""
    val wallGlue = """},"wall":["""
    val closeGlue = "],"
    val wallByName = results.toMap
    var room = 1900 - head.length - wallGlue.length - closeGlue.length -
      tailFor(9999).length
    val kept = cpuResults.sortBy(-_._2).iterator.map { case (k, v) =>
      ("\"" + k + "\":" + Json.num(v),
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(wallByName(k))))
    }.takeWhile { case (c, w) => room -= c.length + w.length + 2; room >= 0 }
      .toSeq
    println(head + kept.map(_._1).mkString(",") + wallGlue +
      kept.map(_._2).mkString(",") + closeGlue + tailFor(kept.size))
    spark.stop()
  }
}
