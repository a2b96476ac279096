package graft.obs

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftobs.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Jobs, finished tasks and executor-CPU nanoseconds. */
final case class Tally(jobs: Long, tasks: Long, cpuNs: Long) {
  def +(o: Tally): Tally = Tally(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs)
  def -(o: Tally): Tally = Tally(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs)
}

object Tally { val zero: Tally = Tally(0, 0, 0) }

/** What a [[Meter]] counted, by site (see [[Meter.siteOf]]). The sites
  * partition the totals: every job and task is charged to exactly one.
  */
final case class Reading(sites: Map[String, Tally]) {
  lazy val total: Tally = sites.values.foldLeft(Tally.zero)(_ + _)
  def jobs: Long = total.jobs
  def tasks: Long = total.tasks
  def cpuNs: Long = total.cpuNs

  /** What was counted after `earlier` (a reading of the same meter). */
  def -(earlier: Reading): Reading = Reading(sites.map { case (k, t) =>
    k -> (t - earlier.sites.getOrElse(k, Tally.zero))
  }.filter(_._2 != Tally.zero))

  /** `{"site":{"jobs":…,"tasks":…,"cpu_s":…},…}`, busiest CPU first. */
  def toJson: String = sites.toSeq.sortBy { case (k, t) => (-t.cpuNs, k) }
    .map { case (k, t) =>
      Json.str(k) + s""":{"jobs":${t.jobs},"tasks":${t.tasks},""" +
        s""""cpu_s":${Json.num(t.cpuNs / 1e9)}}"""
    }.mkString("{", ",", "}")
}

/** One listener that counts jobs, tasks and executor CPU per site. A job
  * is charged to the site of its description when it starts; its stages
  * remember that site, so each finished task's CPU lands there too.
  * [[read]] drains the listener bus first, so a read right after an action
  * sees every task of it.
  */
final class Meter private (sc: SparkContext) extends SparkListener {
  // one entry per stage seen: a meter lives for one measurement or one
  // bench run, not for the life of a long-running session
  private val stageSite = mutable.HashMap.empty[Int, String]
  private val sites = mutable.HashMap.empty[String, Tally]

  private def charge(site: String, t: Tally): Unit =
    sites(site) = sites.getOrElse(site, Tally.zero) + t

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Meter.siteOf(Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))))
    e.stageIds.foreach(stageSite(_) = site)
    charge(site, Tally(1, 0, 0))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val cpu = Option(e.taskMetrics).fold(0L)(_.executorCpuTime)
    charge(stageSite.getOrElse(e.stageId, Meter.Untagged), Tally(0, 1, cpu))
  }

  /** Everything counted since [[Meter.attach]], after draining the bus. */
  def read(): Reading = {
    BusDrain.drain(sc)
    synchronized(Reading(sites.toMap))
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Meter {
  val Untagged = "untagged"

  /** The site a job is charged to: its description, cut at the first
    * `<br/>` (Spark's listing jobs append their paths there); a streaming
    * micro-batch (`… batch = N`) is `uBatch N`; no description is
    * [[Untagged]].
    */
  def siteOf(description: Option[String]): String = description match {
    case None => Untagged
    case Some(d) =>
      val i = d.indexOf("batch = ")
      if (i >= 0) "uBatch " + d.substring(i + 8).takeWhile(!_.isWhitespace)
      else { val br = d.indexOf("<br/>"); if (br >= 0) d.take(br) else d }
  }

  /** Waits until every listener event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit = BusDrain.drain(spark.sparkContext)

  /** A meter on `spark`'s context, counting from now: the bus is drained
    * first, so no earlier event reaches it. */
  def attach(spark: SparkSession): Meter = {
    drain(spark)
    val m = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** `body`'s result and what it ran. */
  def measure[T](spark: SparkSession)(body: => T): (T, Reading) = {
    val m = attach(spark)
    try { val out = body; (out, m.read()) } finally m.close()
  }
}
