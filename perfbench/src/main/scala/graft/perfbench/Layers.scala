package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** On-disk shape of a `DatapointStore` root, walked after the run. */
object Layout {
  val Roots = Seq("datapoints", "derived_raw", "derived_rollups", "streams")

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** Per root: directories holding data files, data files, the most data
    * files in one such directory, and bytes of every file under the root.
    */
  def walk(store: Path): Seq[(String, Long)] = Roots.flatMap { r =>
    val root = store.resolve(r)
    val files =
      if (!Files.isDirectory(root)) Seq.empty[Path]
      else Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
    val data = files.filter(isData)
    val perLeaf = data.groupBy(_.getParent).values.map(_.size)
    Seq(s"layout.$r.leaf_dirs" -> perLeaf.size.toLong,
      s"layout.$r.files" -> data.size.toLong,
      s"layout.$r.max_files_per_leaf" -> (if (perLeaf.isEmpty) 0L else perLeaf.max.toLong),
      s"layout.$r.bytes" -> files.map(Files.size).sum)
  }

  def totalBytes(store: Path): Long =
    Files.walk(store).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
}

/** Per-layer metrics from a traced run's spans and jobs. Counts are means
  * per call; times are medians per call.
  */
object Layers {
  def store(tr: Tracer, m: Metrics, run: StoreRun, timedFrom: Int,
      cores: Int): Unit = {
    val timed = tr.spans.drop(timedFrom)
    def named(n: String) = timed.filter(_.name == n).toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Main.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def jobs(s: Span) = tr.jobsOf(tr.subtree(s))
    def perCall(ss: Seq[Span])(f: Seq[JobRec] => Double) = mean(ss.map(s => f(jobs(s))))
    def tagged(t: String)(js: Seq[JobRec]) = js.filter(_.tag == t)
    def cnt(js: Seq[JobRec]) = js.size.toDouble
    def tasks(js: Seq[JobRec]) = js.map(_.tasks).sum.toDouble
    def cpu(js: Seq[JobRec]) = js.map(_.cpuNs).sum / 1e9
    def jobS(js: Seq[JobRec]) = js.map(_.seconds).sum

    val setupSpans = tr.spans.take(timedFrom).toSeq
    m.layer("catalog.ensure_s", med(setupSpans.filter(_.name == "catalog.ensure")
      .map(_.seconds)), "s")
    m.layer("catalog.flush_s", med(setupSpans.filter(_.name == "catalog.flush")
      .map(_.seconds)), "s")

    val appends = named("append")
    val batches = named("batch")
    m.layer("append.call_s", med(appends.map(_.seconds)), "s")
    m.layer("append.jobs", perCall(appends)(js => cnt(tagged("append")(js))), "count")
    m.layer("append.tasks", perCall(appends)(js => tasks(tagged("append")(js))), "count")
    m.layer("append.cpu_s", perCall(appends)(js => cpu(tagged("append")(js))), "s")
    m.layer("append.driver_s", med(appends.map(tr.driverSeconds)), "s")
    m.layer("append.files_written", mean(appends.map(s =>
      tr.writesOf(tr.subtree(s)).filter(_.tag == "append").map(_.files).sum.toDouble)), "count")
    m.layer("append.rows_written_ratio",
      if (run.offered == 0) 0.0 else run.written.toDouble / run.offered, "ratio")

    m.layer("cascade.jobs", perCall(batches)(js => cnt(tagged("cascade")(js))), "count")
    m.layer("cascade.tasks", perCall(batches)(js => tasks(tagged("cascade")(js))), "count")
    m.layer("cascade.job_s", perCall(batches)(js => jobS(tagged("cascade")(js))), "s")
    m.layer("cascade.cpu_s", perCall(batches)(js => cpu(tagged("cascade")(js))), "s")

    val ladders = named("ladder")
    val levels = graft.model.Granularity.ladder.map(g => s"ladder:${g.name}").toSet
    m.layer("ladder.call_s", med(ladders.map(_.seconds)), "s")
    m.layer("ladder.jobs", perCall(ladders)(cnt), "count")
    m.layer("ladder.tasks", perCall(ladders)(tasks), "count")
    m.layer("ladder.cpu_s", perCall(ladders)(cpu), "s")
    m.layer("ladder.driver_s", med(ladders.map(tr.driverSeconds)), "s")
    m.layer("ladder.levels_run", perCall(ladders)(js =>
      js.map(_.desc).filter(levels).distinct.size.toDouble), "count")
    m.layer("ladder.shuffle_bytes", perCall(ladders)(js =>
      js.map(_.shuffleWriteBytes).sum.toDouble), "B")

    val reads = named("read")
    val listing = tagged("listing") _
    m.layer("listing.jobs_per_batch", perCall(batches)(js => cnt(listing(js))), "count")
    m.layer("listing.tasks_per_batch", perCall(batches)(js => tasks(listing(js))), "count")
    m.layer("listing.job_s_per_batch", perCall(batches)(js => jobS(listing(js))), "s")
    m.layer("listing.jobs_per_read", perCall(reads)(js => cnt(listing(js))), "count")
    m.layer("listing.tasks_per_read", perCall(reads)(js => tasks(listing(js))), "count")
    m.layer("listing.job_s_per_read", perCall(reads)(js => jobS(listing(js))), "s")

    val compacts = named("compact")
    m.layer("compact.call_s", med(compacts.map(_.seconds)), "s")
    m.layer("compact.jobs", perCall(compacts)(cnt), "count")
    m.layer("compact.bytes_rewritten", mean(compacts.map(s =>
      tr.writesOf(tr.subtree(s)).map(_.bytes).sum.toDouble)), "B")
    m.layer("compact.leaves_rewritten", mean(compacts.map(s =>
      tr.writesOf(tr.subtree(s)).map(_.parts).sum.toDouble)), "count")

    val rowsOut = run.reads.map(_.rows.size).sum.toDouble
    m.layer("read.call_ms", med(reads.map(_.seconds * 1e3)), "ms")
    m.layer("read.jobs", perCall(reads)(cnt), "count")
    m.layer("read.tasks", perCall(reads)(tasks), "count")
    m.layer("read.driver_ms", med(reads.map(tr.driverSeconds(_) * 1e3)), "ms")
    m.layer("read.records_scanned_per_row",
      if (rowsOut == 0) 0.0
      else reads.map(s => jobs(s).map(_.recordsRead).sum).sum / rowsOut, "ratio")

    timed.find(_.name == "timed").foreach(s => sched(tr, m, s, cores))
  }

  /** Whole timed section: scheduler load and the time no job ran. */
  def sched(tr: Tracer, m: Metrics, timed: Span, cores: Int): Unit = {
    val js = tr.jobsOf(tr.subtree(timed))
    m.layer("sched.jobs", js.size.toDouble, "count")
    m.layer("sched.tasks", js.map(_.tasks).sum.toDouble, "count")
    m.layer("sched.core_busy_ratio",
      js.map(_.cpuNs).sum / 1e9 / (timed.seconds * cores), "ratio")
    m.layer("sched.driver_only_s", tr.driverSeconds(timed), "s")
  }
}
