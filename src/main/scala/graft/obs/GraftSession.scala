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
}
