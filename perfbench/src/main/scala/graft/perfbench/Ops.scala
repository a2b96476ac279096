package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The operator and streaming layers, measured in traced runs only, after
  * the store workload and outside its timed section: one windowed, one
  * streaming and one index query of `SparkEntry.queries`, at a small scale
  * factor, in seeded order. None of them constructs a `Datastream`, so a
  * store change predicts no change here. Each result is written as one
  * parquet file (the sink `graft.Verify` uses) with its oracle SQL beside
  * it, for `run.py` to check in DuckDB.
  */
object Ops {
  /** (operator class, query) */
  val Queries = Seq(
    "windowed" -> "ds_staleness",
    "streaming" -> "ds_stream_minutes",
    "index" -> "q_bm25_mor")

  /** Runs the queries and records `ops.*`, `q.*` and `stream.*`; returns
    * the queries attempted and failed, and notes for the result record.
    */
  def run(spark: SparkSession, tr: Tracer, m: Metrics, sfDir: String,
      out: Path, seed: Long): (Long, Long, Seq[(String, String)]) = {
    graft.functions.GraftFunctions.register(spark)
    Files.createDirectories(out)
    var failed = 0L
    val order = new scala.util.Random(seed).shuffle(Queries)
    tr.drain()
    order.foreach { case (cls, q) =>
      val progress0 = tr.progress.size
      try tr.span(s"q.$q") {
        SparkEntry.queries(q)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve(q).toString)
      } catch {
        case e: Exception =>
          failed += 1
          Main.note(s"$q failed: $e")
      }
      Files.writeString(out.resolve(s"$q.sql"), SparkEntry.oracleSql(q))
      tr.drain()
      val s = tr.spans.filter(_.name == s"q.$q").last
      val js = tr.jobsOf(tr.subtree(s))
      val tasks = js.map(_.tasks).sum.toDouble
      m.layer(s"ops.$cls.wall_s", s.seconds, "s")
      m.layer(s"ops.$cls.cpu_s", js.map(_.cpuNs).sum / 1e9, "s")
      m.layer(s"ops.$cls.jobs", js.size.toDouble, "count")
      m.layer(s"ops.$cls.tasks", tasks, "count")
      m.layer(s"ops.$cls.shuffle_bytes", js.map(_.shuffleWriteBytes).sum.toDouble, "B")
      m.layer(s"ops.$cls.spill_bytes", js.map(_.spillBytes).sum.toDouble, "B")
      m.layer(s"q.$q.wall_s", s.seconds, "s")
      m.layer(s"q.$q.tasks", tasks, "count")
      if (cls == "streaming") stream(m, tr.progress.asScala.drop(progress0).toSeq)
    }
    Main.note("ops queries done")
    (Queries.size.toLong, failed,
      Seq("ops_order" -> order.map(q => s""""${q._2}"""").mkString("[", ",", "]")))
  }

  /** Micro-batch progress of the streaming query: per-trigger time and
    * state-store commit time are medians per batch, state size the largest
    * any batch left.
    */
  private def stream(m: Metrics,
      ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Main.median(xs)
    def maxOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.max
    val ops = ps.map(_.stateOperators.toSeq)
    m.layer("stream.batches", ps.size.toDouble, "count")
    m.layer("stream.trigger_ms_p50", med(ps.map(p =>
      p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0))), "ms")
    m.layer("stream.commit_ms", med(ops.map(_.map(_.commitTimeMs.toDouble).sum)), "ms")
    m.layer("stream.state_rows_max", maxOf(ops.map(_.map(_.numRowsTotal.toDouble).sum)), "count")
    m.layer("stream.state_bytes_max", maxOf(ops.map(_.map(_.memoryUsedBytes.toDouble).sum)), "B")
  }
}
