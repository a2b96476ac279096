package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical on-disk layout of the `datapoints` table (SURVEY §1.5).
  *
  * One schema for raw and downsampled rows: raw rows carry v_num/v_json
  * (agg columns null); downsampled rows carry the ten aggregates
  * (v_num/v_json null). Flat aggregate columns (not a struct) so Catalyst
  * column pruning reaches the parquet reader per-downsampler — the
  * reference's "only requested aggregates deserialized" trick (SURVEY §4).
  *
  * Partitioned by (granularity, ymd) — (stream_id, granularity, ymd) in the
  * derived roots: granularity pruning reproduces the per-granularity
  * collections, ymd + parquet min/max stats on `t` reproduce the
  * timestamp-encoded-_id range scan. Reads name the partition directories
  * to scan ([[read]]): the caller's catalog knows which directory holds a
  * stream's rows, so a read lists that directory and not the whole root —
  * a derived root with more stream directories than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) would
  * otherwise cost a distributed listing job on every scan.
  *
  * Filesystem access goes through the Hadoop FS API exclusively (r13):
  * every directory swap, marker file, and partition walk works against
  * HDFS/S3A as written — java.io.File is gone from the data paths (it is
  * silently false/empty on any non-local FS, which turned crash-recovery
  * backups invisible and schema-pinned reads into silent holes).
  */
object DatapointStore {
  val dataColumns: Seq[(String, DataType)] = Seq(
    "stream_id" -> StringType,
    "t" -> TimestampType,
    "v_num" -> DoubleType,
    "v_json" -> StringType,
    "c" -> LongType,
    "s" -> DoubleType,
    "q" -> DoubleType,
    "l" -> DoubleType,
    "u" -> DoubleType,
    "m" -> DoubleType,
    "d" -> DoubleType,
    "t_first" -> TimestampType,
    "t_last" -> TimestampType,
    "t_mean" -> TimestampType)

  /** Full read schema incl. partition columns. */
  val schema: StructType = StructType(
    (dataColumns ++ Seq("granularity" -> StringType, "ymd" -> StringType))
      .map { case (n, t) => StructField(n, t, nullable = true) })

  /** Hadoop FS handle for a path — the active session's hadoopConfiguration
    * when one exists (it carries the deployment's fs.* settings), a default
    * Configuration otherwise (driver-side tools before a session starts).
    */
  private[graft] def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def fsFor(path: String): FileSystem = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    new Path(path).getFileSystem(conf)
  }

  /** Partition day key: UTC day index since epoch, zero-padded so string
    * order == time order. Computed from epoch seconds, NOT date_format —
    * date_format renders in the session timezone, which would silently
    * desynchronize written partition values from the UTC-formatted pruning
    * bounds `getData` derives under a non-UTC session. Clamped to >= 0
    * (pre-epoch rows share day 0; the exact `t` predicate still filters)
    * and 9 digits wide (covers year ~2.7M) so lpad never truncates and
    * the write/prune sides can never render a day differently.
    */
  def ymdCol(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lpad(greatest(floor(unix_timestamp(t) / 86400L), lit(0L)).cast(StringType),
      9, "0")

  def ymdKey(ts: java.sql.Timestamp): String = {
    val d = Math.max(Math.floorDiv(Math.floorDiv(ts.getTime, 1000L), 86400L), 0L)
    f"$d%09d"
  }

  /** Project `df` onto the canonical schema, nulling absent columns. */
  def normalize(df: DataFrame): DataFrame = {
    val cols = dataColumns.map { case (n, t) =>
      if (df.columns.contains(n)) col(n).cast(t).as(n)
      else lit(null).cast(t).as(n)
    } :+ (if (df.columns.contains("granularity")) col("granularity")
          else lit(null).cast(StringType).as("granularity"))
    df.select(cols: _*).withColumn("ymd", ymdCol(col("t")))
  }

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Read directories `dirs` of ONE store root (the root itself, or
    * partition directories under it such as `<root>/granularity=g` or
    * `<root>/stream_id=s/granularity=g`) as one scan node with the schema
    * pinned. `basePath` keeps the partition columns above each listed
    * directory, so a routed read still carries stream_id/granularity, and
    * Spark lists only the directories named, never the root's other
    * streams. The explicit schema makes empty directories (holding only
    * _SUCCESS after an empty write) read as zero rows instead of failing
    * schema inference.
    *
    * The root's [[DirSwap.heal]] runs first, so a leaf stranded in the
    * backup by a crashed publish is back before the existence check
    * (schema-pinned reads would otherwise serve a hole); directories
    * that do not exist (a granularity never materialized) are skipped,
    * and a read of none is [[empty]] rather than "Path does not exist".
    */
  def read(spark: SparkSession, root: String, dirs: Seq[String]): DataFrame =
    scan(spark, root, dirs).getOrElse(empty(spark))

  /** The `ymd=K` day directories of granularity directory `dir` (of store
    * `root`) with `lo <= K <= hi`, either bound open when None, read as
    * [[read]] does; [[empty]] when there are none or `dir` does not exist.
    * One heal of the root and one driver-side listing of `dir`: the read
    * names the listed days instead of `dir`, so Spark neither lists a
    * directory with more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) children
    * through a distributed job nor scans the days outside the window, and
    * a day just listed needs no existence probe.
    */
  def readDays(spark: SparkSession, root: String, dir: String,
      lo: Option[String], hi: Option[String]): DataFrame = {
    val fs = fsFor(spark, root)
    DirSwap.heal(fs, new Path(root))
    val listed = try fs.listStatus(new Path(dir)).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val days = listed.map(_.getPath.getName)
      .filter(n => n.startsWith("ymd=") && {
        val k = n.stripPrefix("ymd=")
        lo.forall(k >= _) && hi.forall(k <= _)
      })
    if (days.isEmpty) empty(spark) else load(spark, root, days.map(n => s"$dir/$n"))
  }

  /** [[read]], or None when none of `dirs` exists. */
  private[graft] def scan(spark: SparkSession, root: String,
      dirs: Seq[String]): Option[DataFrame] = {
    val fs = fsFor(root)
    // heal only: a stage tree may belong to a compaction about to publish
    DirSwap.heal(fs, new Path(root))
    val present = dirs.distinct.filter(d => fs.exists(new Path(d)))
    if (present.isEmpty) None else Some(load(spark, root, present))
  }

  private def load(spark: SparkSession, root: String,
      dirs: Seq[String]): DataFrame =
    spark.read.option("basePath", root).schema(schema).parquet(dirs: _*)

  /** Leaf keys of the primary root and of the derived roots. */
  private val primaryKeys = Seq("granularity", "ymd")
  private val derivedKeys = Seq("stream_id", "granularity", "ymd")

  /** Write `df` (store schema) partitioned by `partCols`, each file sorted
    * by (stream_id, t) so parquet row-group min/max stats prune both the
    * stream and the time range — the scan-side half of the reference's
    * _id-range-scan trick (§1.5). The sort leads with the partition
    * columns: a planned write requires that ordering, and a sort that
    * does not start with them is replaced by one that sorts by them only.
    */
  private def writeLeaves(df: DataFrame, path: String, partCols: Seq[String],
      mode: SaveMode): Unit =
    df.sortWithinPartitions((partCols ++ Seq("stream_id", "t")).distinct.map(col): _*)
      .write.mode(mode).partitionBy(partCols: _*).parquet(path)

  def append(df: DataFrame, path: String): Unit =
    // repartition on the partition keys first: one task per output
    // partition, so an append writes one file per (granularity, ymd)
    // instead of tasks × partitions small files, sorted by (stream_id, t).
    // At cluster scale add stream-id bucketing to spread one hot
    // (g, ymd) over several writers.
    writeLeaves(normalize(df).repartition(col("granularity"), col("ymd")),
      path, primaryKeys, SaveMode.Append)

  /** Append to a derived-stream root: ONE partitioned write for all
    * derived streams together (never a job per stream), with stream_id as
    * the leading partition column so a recompute or delete drops one
    * stream's data by removing its partition directory. The repartition
    * names its width (the session's default parallelism): every leaf
    * still lands in one file, sorted by t, but AQE cannot coalesce a
    * write of many small leaves into one task that creates them all
    * serially.
    */
  def appendByStream(df: DataFrame, path: String): Unit =
    writeLeaves(normalize(df)
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("stream_id"), col("granularity"), col("ymd")),
      path, derivedKeys, SaveMode.Append)

  /** Append rows whose partitions already hold whole leaves — the
    * ladder's fold, exchanged by its root's leaf key minus the level —
    * with no exchange of its own: each leaf is written by the one task
    * that holds it, as one file. `byStream` picks the derived rollups
    * root's keys (stream_id first) over the primary root's.
    */
  def appendLeaves(df: DataFrame, path: String, byStream: Boolean): Unit =
    writeLeaves(normalize(df), path,
      if (byStream) derivedKeys else primaryKeys, SaveMode.Append)

  /** Recursive delete that REFUSES to fail silently: a delete that leaves
    * files behind (held handle, permissions) would make a partition or
    * backup half-disappear with no error — subsequent reads would return a
    * silently partial table. Shared by [[DirSwap]], expire() and Datastream.
    */
  private[graft] def rmTree(fs: FileSystem, p: Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p))
      throw new java.io.IOException(s"failed to delete $p")

  private[graft] def rmTree(path: String): Unit = {
    val fs = fsFor(path)
    rmTree(fs, new Path(path))
  }

  /** Per-granularity retention — the RRD ladder semantic (raw data kept
    * briefly, coarser rollups kept long): drop every ymd partition strictly
    * older than the cutoff key of its enclosing `granularity=g` directory;
    * granularities absent from `cutoffs` are kept whole. Pure
    * partition-directory removal: O(#partitions) driver-side listing and
    * no data rewrite, the only deletion shape that stays cheap at 100 TB.
    * Zero-padded keys make each cutoff a plain string compare. `depth` is
    * the number of partition levels above the granularity level (0 for
    * granularity=g/ymd=k roots, 1 for stream_id=s/granularity=g/ymd=k
    * derived roots).
    */
  def expireByGranularity(path: String, cutoffs: Map[String, String],
      depth: Int): Unit = {
    val fs = fsFor(path)
    def dropOld(gDir: Path, cutoffKey: String): Unit =
      fs.listStatus(gDir).foreach { f =>
        val n = f.getPath.getName
        if (f.isDirectory && n.startsWith("ymd=") &&
          n.stripPrefix("ymd=") < cutoffKey) rmTree(fs, f.getPath)
      }
    def walk(dir: Path, level: Int): Unit =
      fs.listStatus(dir).foreach { f =>
        if (f.isDirectory) {
          val n = f.getPath.getName
          if (level == 0 && n.startsWith("granularity=")) {
            cutoffs.get(n.stripPrefix("granularity="))
              .foreach(dropOld(f.getPath, _))
          } else if (level > 0) walk(f.getPath, level - 1)
        }
      }
    val root = new Path(path)
    if (fs.exists(root)) walk(root, depth)
  }

  /** Leaf partition dirs (dirs directly holding .parquet files) with
    * their parquet file counts, as root-relative paths.
    */
  private def leaves(fs: FileSystem, root: Path): Seq[(String, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    def walk(dir: Path, rel: String): Unit = {
      val st = fs.listStatus(dir)
      val n = st.count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (n > 0) out += ((rel, n))
      st.filter(_.isDirectory).foreach { d =>
        val dn = d.getPath.getName
        walk(d.getPath, if (rel.isEmpty) dn else s"$rel/$dn")
      }
    }
    walk(root, "")
    out.toSeq
  }

  /** Selectively compact fragmented partitions of a store root: every
    * append writes one file per touched leaf partition, so a long-running
    * ingest accumulates one file per micro-batch and scan task counts
    * (plus parquet footer overhead) grow with APPEND COUNT, not data
    * size. This rewrites only leaves holding >= `minFiles` parquet files
    * — cost proportional to fragmentation, never an O(store) rewrite —
    * as ONE Spark job for all selected leaves (single basePath scan,
    * repartition on the partition keys → one sorted file per leaf) into
    * the root's stage, then [[DirSwap.publish]]es the staged leaves: a
    * crash at any point leaves every leaf old or new, healed by the next
    * read.
    *
    * `lenient=true` (the in-loop streaming-ingest cadence) downgrades a
    * per-leaf rename failure (held handle on some filesystems) from an
    * exception to a skipped leaf, put back at once: compaction is
    * maintenance, and failing the ingest micro-batch over it would trade
    * data progress for file hygiene. The explicit off-peak maintenance
    * call keeps the throw, so operators still see persistent filesystem
    * trouble.
    */
  def compact(spark: SparkSession, path: String, partCols: Seq[String],
      minFiles: Int = 2, lenient: Boolean = false): Unit = {
    val fs = fsFor(path)
    val root = new Path(path)
    if (!fs.exists(root)) return
    DirSwap.heal(fs, root)
    DirSwap.dropStage(fs, root) // stale from a mid-write crash
    val frag = leaves(fs, root).filter(_._2 >= minFiles).map(_._1)
    if (frag.isEmpty) return
    // basePath keeps the partition columns; the pinned schema supplies
    // their types (and, for derived roots, fills stream_id from the dir)
    val df = spark.read.option("basePath", path).schema(schema)
      .parquet(frag.map(r => s"$path/$r"): _*)
    val staged = DirSwap.stage(root)
    writeLeaves(df.repartition(partCols.map(col): _*), staged.toString,
      partCols, SaveMode.Overwrite)
    try DirSwap.publish(fs, root, leaves(fs, staged).map(_._1))
    catch {
      case e: java.io.IOException if lenient =>
        System.err.println(
          s"[graft] compact: skipped leaves under $path (${e.getMessage})")
    }
  }

  /** Replace the table contents with `df`, crash-safely: the rows land in
    * the root's stage, then every leaf [[DirSwap.publish]]es — a leaf
    * with no staged rows is retired. Each leaf reads wholly old or wholly
    * new at every crash point.
    */
  def replace(df: DataFrame, path: String): Unit = {
    val fs = fsFor(path)
    val root = new Path(path)
    DirSwap.heal(fs, root)
    DirSwap.dropStage(fs, root)
    val staged = DirSwap.stage(root)
    writeLeaves(normalize(df).repartition(col("granularity"), col("ymd")),
      staged.toString, primaryKeys, SaveMode.Overwrite)
    DirSwap.publish(fs, root,
      (leaves(fs, root) ++ leaves(fs, staged)).map(_._1).distinct)
  }
}
