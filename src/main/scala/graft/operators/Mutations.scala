package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.core.{DatapointStore, DirSwap}

/** MERGE INTO / upsert semantics over immutable parquet — the lakehouse
  * row-mutation primitive a training-data pipeline needs for label fixes,
  * takedowns, and metadata backfills without an O(table) rewrite.
  *
  * Two layers:
  *  - [[mergeFrame]] — the pure last-write-wins changelog semantics as a
  *    single declarative plan (one shuffle on the merge key; AQE
  *    broadcasts the reduced changelog when it is small, the common case).
  *  - [[mergeIntoPartitioned]] — copy-on-write against a key-bucketed
  *    parquet table: ONLY partitions named by the changelog are read,
  *    merged, and swapped; untouched partitions see zero I/O. The bucket
  *    column must be a pure function of the merge key (the standard
  *    upsert-table layout) — that is exactly what makes the affected set
  *    computable from the changes alone, with no base-table scan. The
  *    swap is the store's [[DirSwap]] (stage, publish, heal on next
  *    access), so a crash anywhere leaves a readable table and the merge
  *    re-runs idempotently.
  */
object Mutations {

  /** Apply a changelog to a base table, last-write-wins.
    *
    * `changes` carries the key columns, every base payload column, an
    * `opCol` ('U' upsert — insert or replace; 'D' delete — drop if
    * present, no-op otherwise) and a `versionCol`. Per key the row with
    * the highest (version, op, payload…) struct wins — the full-struct
    * tie-break makes equal-version re-deliveries collapse
    * deterministically instead of nondeterministically.
    */
  def mergeFrame(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
      opCol: String = "op", versionCol: String = "version"): DataFrame = {
    val payload = base.columns.filterNot(keyCols.contains).toSeq
    val pick = struct((versionCol +: opCol +: payload).map(col): _*)
    val latest = changes.groupBy(keyCols.map(col): _*)
      .agg(max(pick).as("_ch"))
      .select(keyCols.map(col) ++
        (col(s"_ch.$opCol").as("_op") +:
          payload.map(p => col(s"_ch.$p").as(s"_c_$p"))): _*)
    base.join(latest, keyCols, "full_outer")
      .where(col("_op").isNull || col("_op") === "U")
      .select(keyCols.map(col) ++ payload.map(p =>
        when(col("_op") === "U", col(s"_c_$p")).otherwise(col(p)).as(p)): _*)
  }

  /** Incremental maintenance of a (count, sum) aggregate materialized
    * view from a CDC frame (the [[VersionedTable.changes]] shape: key
    * columns + `change_op` ∈ I/U/D + `before_`/`after_` payloads).
    *
    * Per group: n += #I − #D; sum += Σ after(I,U) − Σ before(D,U) — the
    * standard self-maintainable-aggregate delta, exact for BIGINT value
    * lanes. Groups whose maintained count reaches 0 leave the view
    * (matching a recompute, which never materializes empty groups).
    *
    * Scale shape: the delta aggregation scans ONLY the churn (the CDC
    * frame the versioned table's log bounds to rewritten buckets), and
    * the merge-back is a full-outer join on the group key — MV-size
    * (dimension-scale) work per refresh, never a base-table scan. This
    * is what turns a 100 TB fact table's daily metric refresh into a
    * churn-sized job.
    */
  def maintainSumCount(mv: DataFrame, cdc: DataFrame, groupExpr: Column,
      beforeVal: Column, afterVal: Column, groupCol: String = "bucket",
      nCol: String = "n_rows", sumCol: String = "sum_cents"): DataFrame = {
    val delta = cdc.groupBy(groupExpr.as(groupCol)).agg(
      sum(when(col("change_op") === "I", 1L)
        .when(col("change_op") === "D", -1L).otherwise(0L)).as("_dn"),
      sum(coalesce(when(col("change_op").isin("I", "U"), afterVal), lit(0L)) -
        coalesce(when(col("change_op").isin("D", "U"), beforeVal), lit(0L)))
        .as("_dsum"))
    mv.join(delta, Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col(nCol), lit(0L)) + coalesce(col("_dn"), lit(0L)))
          .as(nCol),
        (coalesce(col(sumCol), lit(0L)) + coalesce(col("_dsum"), lit(0L)))
          .as(sumCol))
      .where(col(nCol) > 0)
  }

  /** Latest committed micro-batch id of a streaming MV root, or -1.
    * Commit markers are `_commit_<id>` files written AFTER the version's
    * data dir (commit-record-last, like [[graft.operators.VersionedTable]]) —
    * a crash between data and marker leaves an unreferenced dir that the
    * next apply simply overwrites.
    */
  def mvCommitted(mvRoot: String): Long = {
    val fs = DatapointStore.fsFor(mvRoot)
    val root = new org.apache.hadoop.fs.Path(mvRoot)
    if (!fs.exists(root)) return -1L
    val ids = fs.listStatus(root).map(_.getPath.getName).collect {
      case n if n.startsWith("_commit_") => n.stripPrefix("_commit_").toLong
    }
    if (ids.isEmpty) -1L else ids.max
  }

  /** Read the current content of a streaming MV (empty view before the
    * first commit). Schema is the integer-lane (group, count, sum) shape
    * [[maintainSumCount]] maintains.
    */
  def readMv(spark: SparkSession, mvRoot: String, groupCol: String = "bucket",
      nCol: String = "n_rows", sumCol: String = "sum_cents"): DataFrame = {
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField(groupCol, LongType),
      org.apache.spark.sql.types.StructField(nCol, LongType),
      org.apache.spark.sql.types.StructField(sumCol, LongType)))
    val v = mvCommitted(mvRoot)
    if (v < 0)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)
    else spark.read.schema(schema).parquet(s"$mvRoot/v=$v")
  }

  /** Fold ONE micro-batch of CDC rows into a streaming MV, exactly-once:
    * a batch id at or below the committed horizon is a checkpoint-replay
    * re-delivery and is SKIPPED (applying a delta twice corrupts a
    * self-maintained aggregate — idempotence must come from the id gate,
    * not the algebra). Data dir `v=<id>` writes first, the `_commit_<id>`
    * marker last. Returns true when the batch was applied.
    */
  def applyMvBatch(spark: SparkSession, mvRoot: String, batch: DataFrame,
      batchId: Long, groupExpr: Column, beforeVal: Column, afterVal: Column,
      groupCol: String = "bucket", nCol: String = "n_rows",
      sumCol: String = "sum_cents", keepVersions: Int = 2): Boolean = {
    val committed = mvCommitted(mvRoot)
    if (batchId <= committed) return false
    val next = maintainSumCount(readMv(spark, mvRoot, groupCol, nCol, sumCol),
      batch, groupExpr, beforeVal, afterVal, groupCol, nCol, sumCol)
    next.write.mode(SaveMode.Overwrite).parquet(s"$mvRoot/v=$batchId")
    DatapointStore.fsFor(mvRoot).create(
      new org.apache.hadoop.fs.Path(s"$mvRoot/_commit_$batchId"),
      false).close()
    pruneMvVersions(mvRoot, keepVersions)
    true
  }

  /** Drop MV versions superseded past the newest `keep` committed ones —
    * without this a long-running mvStream grows one full view copy per
    * micro-batch and [[mvCommitted]] re-lists an ever-growing directory.
    * Only versions BELOW the retained horizon go; marker deletes first
    * (so a crash mid-prune leaves at worst an unreferenced data dir that
    * the next prune sweeps), and the committed maximum is never touched.
    */
  def pruneMvVersions(mvRoot: String, keep: Int): Unit = {
    val fs = DatapointStore.fsFor(mvRoot)
    val root = new org.apache.hadoop.fs.Path(mvRoot)
    if (!fs.exists(root)) return
    val files = fs.listStatus(root).map(_.getPath.getName)
    val committedIds = files.collect {
      case n if n.startsWith("_commit_") => n.stripPrefix("_commit_").toLong
    }.sorted
    if (committedIds.length <= keep) return
    val horizon = committedIds(committedIds.length - keep)
    files.foreach { n =>
      val id =
        if (n.startsWith("_commit_")) Some(n.stripPrefix("_commit_").toLong)
        else if (n.startsWith("v=")) Some(n.stripPrefix("v=").toLong)
        else None
      id.filter(_ < horizon).foreach { _ =>
        val marker = new org.apache.hadoop.fs.Path(mvRoot, s"_commit_${id.get}")
        if (fs.exists(marker)) fs.delete(marker, false)
        val dir = new org.apache.hadoop.fs.Path(mvRoot, s"v=${id.get}")
        if (fs.exists(dir)) DatapointStore.rmTree(fs, dir)
      }
    }
  }

  /** Copy-on-write merge into `root`, a parquet table laid out as
    * `root/<partCol>=<bucket>` where bucket = `partExpr` (a LONG-typed
    * pure function of the key columns, e.g. `pmod(key, 256)`).
    *
    * Reads ONLY the buckets the changelog names, merges them via
    * [[mergeFrame]], and swaps just those leaf dirs; a bucket whose merged
    * content is empty (every row deleted) is removed. Returns the number
    * of buckets rewritten.
    */
  def mergeIntoPartitioned(spark: SparkSession, root: String,
      changes: DataFrame, keyCols: Seq[String], partExpr: Column,
      partCol: String = "bucket", opCol: String = "op",
      versionCol: String = "version"): Int = {
    val mfs = DatapointStore.fsFor(root)
    val table = new org.apache.hadoop.fs.Path(root)
    DirSwap.heal(mfs, table)
    DirSwap.dropStage(mfs, table)
    // changelog is consumed three times (affected list, merge, write) —
    // checkpoint per the self-join re-run rule; changelogs are small
    // relative to the table by the premise of a merge
    val ch = changes.withColumn(partCol, partExpr).localCheckpoint(true)
    val affected = ch.select(partCol).distinct()
      .collect().map(_.getLong(0)).sorted
    if (affected.isEmpty) return 0
    val payloadSchema = StructType(
      changes.schema.filterNot(f => f.name == opCol || f.name == versionCol))
    val liveDirs = affected.map(v => s"$root/$partCol=$v")
      .filter(d => mfs.exists(new org.apache.hadoop.fs.Path(d)))
    val base =
      if (liveDirs.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          payloadSchema)
      else
        spark.read.option("basePath", root)
          .schema(payloadSchema.add(partCol, LongType))
          .parquet(liveDirs: _*).drop(partCol)
    val merged = mergeFrame(base, ch.drop(partCol), keyCols, opCol, versionCol)
      .withColumn(partCol, partExpr)
    merged.repartition(col(partCol)).sortWithinPartitions(keyCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(DirSwap.stage(table).toString)
    // an affected bucket absent from the stage was fully deleted: it
    // retires
    DirSwap.publish(mfs, table, affected.map(v => s"$partCol=$v"))
    affected.length
  }

  /** Read a [[mergeIntoPartitioned]] table (heals any crashed swap
    * first). Schema-pinned so an empty or missing root is an empty frame,
    * never an inference failure.
    */
  def readPartitioned(spark: SparkSession, root: String,
      payloadSchema: StructType, partCol: String = "bucket"): DataFrame = {
    val fs = DatapointStore.fsFor(root)
    val table = new org.apache.hadoop.fs.Path(root)
    DirSwap.heal(fs, table)
    if (!fs.exists(table))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), payloadSchema)
    spark.read.option("basePath", root)
      .schema(payloadSchema.add(partCol, LongType))
      .parquet(root).drop(partCol)
  }
}
