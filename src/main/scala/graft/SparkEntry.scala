package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gates._

/** Driver contract (SURVEY §7): one `queries` entry per implemented
  * operator, each with a DuckDB-equivalent `oracleSql` on the same parquet
  * tables. Every gate is declared once, as one [[graft.gates.Gate]] beside
  * its oracle, in the family files under `graft.gates`.
  */
object SparkEntry {

  /** Flagship: the full engine end-to-end on sf0.001 — ensure streams from
    * events, bulk-append, materialize the rollup ladder, read back
    * Minutes10 aggregates joined with stream tags.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val work = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val ds = new graft.core.Datastream(spark, work)
    val ev = Fixtures.events(spark, dir).where(col("user_id") < 3)
    val keys = ev.select("user_id", "event_type").distinct().collect()
    val idOf: Map[String, String] = keys.map { r =>
      val (u, et) = (r.getLong(0).toString, r.getString(1))
      s"$u:$et" -> ds.ensureStream(
        Map("user" -> u, "type" -> et, "source" -> "events"))
    }.toMap
    val uuidOf = typedLit(idOf)
    ds.appendMultiple(ev.select(
      uuidOf(concat_ws(":", col("user_id"), col("event_type"))).as("stream_id"),
      col("ts").as("t"), col("value").as("v")), checkTimestamp = false)
    ds.downsampleStreams(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    ds.datapoints.where(col("granularity") === "minutes10")
      .join(ds.streams.select(col("stream_id"), col("tags")), "stream_id")
      .select(col("stream_id"), col("t"), col("c"), col("s"), col("m"),
        element_at(col("tags"), "type").as("event_type"))
  }

  /** Rejects silent duplicate-key last-wins: a Map literal with a repeated
    * key drops a gate with no test signal (the r14 mm_frames collision was
    * caught only by a lucky schema mismatch). The gate registry builds
    * through this; ContractSpec injects a duplicate to prove it throws. */
  private[graft] def distinctToMap[V](label: String,
      pairs: Seq[(String, V)]): Map[String, V] = {
    val dups = pairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate $label keys: ${dups.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  private def gates: Map[String, Gate] =
    distinctToMap("gate", Seq(DsGates.gates, DrvStoreGates.gates,
      RelationalGates.gates, RetrievalGates.gates, EmbGates.gates,
      TextGates.gates, DedupGates.gates, PipeGates.gates, GraphGates.gates,
      MmGates.gates, DocErGates.gates).flatten.map(g => g.name -> g))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, g) => name -> g.run }

  def oracleSql: Map[String, String] =
    gates.flatMap { case (name, g) => g.oracleSql.map(name -> _) }
}
