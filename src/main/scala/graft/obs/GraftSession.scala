package graft.obs

import org.apache.spark.sql.SparkSession

/** The one place the engine's local session is configured: master, shuffle
  * partitions, UTC session time, no UI and a WARN log. Mains, specs and
  * tools all build their session here.
  */
object GraftSession {

  /** Core count of the mains: `SPARK_GRAFT_CPUS`, default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A `local[cpus]` session with `cpus` shuffle partitions; `conf` pairs
    * (e.g. a warehouse dir) go to the builder as well. Returns the running
    * session when one exists, as `getOrCreate` does.
    */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `body` run with each `k -> v` set on `spark`'s session conf. Each key
    * gets back the value it had before, or is unset again if it had none,
    * also when `body` throws — as [[Meter.tagged]] does for job
    * descriptions. The pairs are evaluated before any of them is set. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val set = conf.getAll // the explicitly set keys, not the defaults
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    try {
      kvs.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally prev.reverseIterator.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
