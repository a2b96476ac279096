package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call the benchmark made into a layer. Times are wall-clock
  * milliseconds (the clock Spark stamps job events with) so spans and jobs
  * share one time axis.
  */
final case class Span(id: Long, parent: Long, name: String, runId: String,
    startMs: Double, var endMs: Double = Double.NaN) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** What one Spark job cost, charged to the span that was open on the
  * submitting thread.
  */
final class JobRec(val jobId: Int, val spanId: Long, val desc: String,
    val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var tasks = 0L
  @volatile var cpuNs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var recordsRead = 0L
  @volatile var spillBytes = 0L
  def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
  /** The store tags its jobs `append:*`, `cascade:*` and `ladder:*`; Spark
    * tags partition-discovery jobs "Listing leaf files and directories".
    */
  def tag: String =
    if (desc.startsWith("Listing leaf files")) "listing"
    else desc.takeWhile(_ != ':') match {
      case t @ ("append" | "cascade" | "ladder") => t
      case _ => "other"
    }
}

/** Output of one SQL write, read from the write command's own metrics. */
final case class WriteRec(spanId: Long, tag: String, files: Long, parts: Long,
    bytes: Long)

/** Spans plus the listener that links every Spark job to the span open on
  * the thread that submitted it (through a job-local property), and a
  * streaming listener that keeps every micro-batch's progress. With
  * tracing off nothing is installed and `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 1L
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execJob = new ConcurrentHashMap[Long, JobRec]()
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[WriteRec]()
  private val events = new java.util.concurrent.atomic.AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanKey).map(_.toLong).getOrElse(0L)
      val rec = new JobRec(e.jobId, span,
        prop("spark.job.description").getOrElse(""), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
      prop("spark.sql.execution.id").foreach(x =>
        execJob.putIfAbsent(x.toLong, rec))
      events.incrementAndGet(); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      events.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageJob.get(e.stageId)).foreach { r =>
        r.synchronized {
          r.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            r.cpuNs += m.executorCpuTime
            r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            r.recordsRead += m.inputMetrics.recordsRead
            r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
      events.incrementAndGet(); ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(execJob.get(end.executionId)).foreach(job =>
          writeCommands(end).foreach { w =>
            def m(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
            writes.add(WriteRec(job.spanId, job.tag, m("numFiles"),
              m("numParts"), m("numOutputBytes")))
          })
        events.incrementAndGet(); ()
      case _ =>
    }
  }

  /** Progress of every streaming micro-batch, in arrival order. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress)
      events.incrementAndGet(); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      events.incrementAndGet(); ()
    }
  }

  private val plans = new AdaptiveSparkPlanHelper {}

  /** Write commands of a finished SQL execution. Spark keeps the query
    * execution on the end event but outside its public API, so it is read
    * reflectively; a Spark without it yields no write records.
    */
  private def writeCommands(end: SparkListenerSQLExecutionEnd)
      : Seq[DataWritingCommandExec] =
    scala.util.Try(end.getClass.getMethod("qe").invoke(end)).toOption.collect {
      case qe: QueryExecution =>
        plans.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
    }.getOrElse(Nil)

  if (enabled) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Run `f` inside a span named `name`; nested calls become children. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(nextId, open.headOption.map(_.id).getOrElse(0L), name,
        runId, nowMs())
      nextId += 1
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.endMs = nowMs()
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Listener delivery is asynchronous: wait until the event count stops
    * moving so every job of a finished call has been charged.
    */
  def drain(): Unit = if (enabled) {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(50)
      val now = events.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  private def nowMs(): Double = System.nanoTime() / 1e6 + clockOffsetMs
  private val clockOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  def jobsOf(spanIds: Set[Long]): Seq[JobRec] =
    jobs.values.asScala.filter(j => spanIds(j.spanId)).toSeq

  /** Ids of `s` and every span nested below it. */
  def subtree(s: Span): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Set[Long] =
      kids.getOrElse(id, Nil).foldLeft(Set(id))((acc, c) => acc ++ go(c.id))
    go(s.id)
  }

  /** Span time not covered by its child spans. */
  def selfSeconds(s: Span): Double =
    s.seconds - unionSeconds(spans.filter(_.parent == s.id)
      .map(c => (c.startMs, c.endMs)).toSeq)

  /** Wall time of `s` outside every Spark job it (or its children) ran:
    * planning, driver-side listing, catalog work and renames.
    */
  def driverSeconds(s: Span): Double =
    s.seconds - unionSeconds(jobsOf(subtree(s)).filter(_.endMs >= 0)
      .map(j => (j.startMs.toDouble max s.startMs, j.endMs.toDouble min s.endMs)))

  def writesOf(spanIds: Set[Long]): Seq[WriteRec] =
    writes.asScala.filter(w => spanIds(w.spanId)).toSeq

  /** Spans as JSON lines, written when the run ends. */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.map { s =>
      val js = jobsOf(Set(s.id))
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run":"${s.runId}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,""" +
        f""""self_s":${selfSeconds(s)}%.6f,"jobs":${js.size},""" +
        f""""tasks":${js.map(_.tasks).sum}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }

  /** Length covered by the union of intervals given in ms, in seconds. */
  private def unionSeconds(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (!curE.isNaN) total += curE - curS
    total / 1e3
  }
}
