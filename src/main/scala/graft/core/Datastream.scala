package graft.core

import java.sql.Timestamp
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model._
import graft.obs.{GraftSession, Meter}
import graft.operators.{Derive, RollupLadder}

/** Spark-native re-design of the reference's frontend `Datastream` class
  * (SURVEY.md §2.1, operators A1–A11; public wlanslovenija/datastream API —
  * the reference checkout was empty, see SURVEY §0).
  *
  * Storage layout (SURVEY §1.5 mapping):
  *  - `<root>/streams`     — parquet snapshot of [[graft.model.StreamDescriptor]] rows
  *  - `<root>/datapoints`  — parquet partitioned by `granularity` (and `ymd`
  *    date bucket), holding raw values at each stream's highest granularity
  *    and the ten downsampled aggregates at every coarser ladder level.
  *
  * Scale design: stream *metadata* is a catalog (small, driver-cached like a
  * metastore); all *datapoint* paths are distributed DataFrame jobs keyed by
  * stream_id — appends, downsampling and derive operators run set-wise over
  * every matched stream in one job, never one job per stream. Granularity
  * partitioning + parquet min/max stats on `t` reproduce the reference's
  * timestamp-encoded-_id range-scan pruning (SURVEY §4).
  */
class Datastream(val spark: SparkSession, val rootDir: String) {
  import spark.implicits._

  private val streamsPath = s"$rootDir/streams"
  private val hwmSegDir = s"$rootDir/streams.hwm.d"
  private val datapointsPath = s"$rootDir/datapoints"

  // ---- catalog (stream metadata) -------------------------------------

  /** Driver-side catalog cache; persisted to parquet lazily (`flush()`).
    * Appends NEVER rewrite the catalog parquet — at 10⁶ streams that
    * would be an O(#streams) driver-side rewrite per micro-batch. Instead
    * `finishAppend` marks the touched streams' SHARDS dirty and records
    * the batch's per-stream time bounds in an append-only sidecar
    * (`streams.hwm.d/`, one JSONL line per stream per batch — O(batch), no
    * Spark job, the coverage-marker pattern applied to the primary root).
    * `flush()` persists only the dirty shards and truncates the sidecar;
    * `loadCatalog` replays a surviving sidecar so a crash between append
    * and flush still reopens with exact monotonicity bounds. Stream
    * creation stays deferred (bulk creation must not be O(#streams)
    * rewrites each) but the FIRST append touching a never-persisted
    * descriptor flushes once — a descriptor lost to a crash could not be
    * rebuilt from bounds alone, and orphan data no catalog entry explains
    * must not exist. Tag/delete admin ops flush eagerly (human-rate).
    *
    * On disk the catalog is HASH-SHARDED: `<root>/streams/shard=KKK/`
    * (256 shards), so a flush rewrites O(changed streams + touched
    * shards), never the whole catalog — at 10⁶ streams a single-stream
    * tag update rewrites ~1/256th of the metastore.
    */
  // DECLARED BEFORE `catalog`: `loadCatalog()` runs in the constructor, so
  // anything it reads or writes must already be initialized — a later
  // textual position would read 0/false mid-construction.
  // Hadoop FS for every driver-side swap/marker/walk (r13): java.io.File
  // is silently false/empty on any non-local FS — the store must run
  // against HDFS/S3A as written. Lazy: safe under any init order.
  private lazy val dfs: org.apache.hadoop.fs.FileSystem =
    DatapointStore.fsFor(spark, rootDir)
  private def hPath(p: String) = new org.apache.hadoop.fs.Path(p)
  private def hExists(p: String): Boolean = dfs.exists(hPath(p))
  private def hList(p: String): Array[org.apache.hadoop.fs.FileStatus] =
    if (hExists(p)) dfs.listStatus(hPath(p))
    else Array.empty[org.apache.hadoop.fs.FileStatus]
  /** Bytes recorded in the hwm sidecar since its last truncation —
    * maintained driver-side (seeded by replayHwm at open) so the flush
    * threshold never stats the filesystem per append. DECLARED BEFORE
    * `catalog`: loadCatalog()/replayHwm() run in the constructor. */
  private var hwmBytes: Long = 0L
  private[graft] final val catalogShards = 256
  private var catalog: Map[String, StreamDescriptor] = loadCatalog()
  /** Inverted (tag key, value) → stream-id index over the FLAT tag maps —
    * what makes A1's existing-stream check and A5's find O(matched ids)
    * instead of O(catalog) per call (measured: 10k ensureStream calls
    * spent ~10 s in the linear scans; a 10⁶-stream catalog would make
    * every declaration a full sweep). Maintained solely through the
    * [[putStream]]/[[dropStreams]] mutation choke points; nested
    * json-path finds (free-form tags_json) still scan by design.
    * DECLARED (and populated) immediately after `catalog`: anything
    * `healDirtyStreams()` below reaches must already be indexed.
    */
  private val tagIndex = scala.collection.mutable.Map
    .empty[(String, String), scala.collection.mutable.Set[String]]
  private def indexTags(d: StreamDescriptor): Unit =
    d.tags.foreach { case (k, v) =>
      tagIndex.getOrElseUpdate((k, v),
        scala.collection.mutable.Set.empty[String]) += d.stream_id
    }
  private def unindexTags(d: StreamDescriptor): Unit =
    d.tags.foreach { case (k, v) =>
      tagIndex.get((k, v)).foreach { s =>
        s -= d.stream_id
        if (s.isEmpty) tagIndex.remove((k, v))
      }
    }
  catalog.values.foreach(indexTags)
  /** The ONLY ways the catalog map may change — they keep [[tagIndex]]
    * consistent (re-puts unindex the old descriptor first; bound-only
    * updates re-index identical tags, a no-op-shaped cheap pass). */
  private def putStream(d: StreamDescriptor): Unit = {
    catalog.get(d.stream_id).foreach(unindexTags)
    catalog += d.stream_id -> d
    indexTags(d)
  }
  private def dropStreams(ids: Iterable[String]): Unit = {
    ids.foreach(id => catalog.get(id).foreach(unindexTags))
    catalog --= ids
  }
  /** Ids whose flat tags contain EVERY (k, v) of `queryTags` — posting
    * intersection from the smallest list; empty query = whole catalog
    * (the forall-over-empty semantics of the scan it replaces). */
  private def idsByTags(queryTags: Map[String, String]): Seq[String] =
    if (queryTags.isEmpty) catalog.keys.toSeq
    else {
      val posts = queryTags.iterator
        .map(kv => tagIndex.getOrElse((kv._1, kv._2),
          scala.collection.mutable.Set.empty[String])).toSeq
      val smallest = posts.minBy(_.size)
      smallest.iterator.filter(id => posts.forall(_.contains(id))).toSeq
    }
  /** Shards whose in-memory state is ahead of the persisted catalog. */
  private val dirtyShards = scala.collection.mutable.Set.empty[Int]
  /** Per-level ladder coverage (driver-side, in-memory): `ladderFrontier`
    * holds floor(U/g)·g for the max `until` U any unrestricted ladder run
    * has covered at level g — every bucket ending <= U is materialized or
    * provably empty. `ladderPendingLo`/`ladderPendingIds` record the
    * earliest epoch second and the STREAMS of data written since that run
    * (appends AND cascade rewrites, which drop rollups from their window
    * onward), i.e. data possibly behind the frontier. Together with the
    * catalog's per-stream extents these let each ladder run prune to the
    * ACTIVE stream set — at 10⁶ streams with 10² appending, the fold
    * scans and HWM scan are semi-joined down to the 10², never the store.
    * A fresh open knows nothing and runs every level over every stream
    * once. DECLARED BEFORE `healDirtyStreams()` below: the open-time heal
    * runs the cascade, which notes its rewrite windows here.
    */
  private val ladderFrontier = scala.collection.mutable.Map.empty[String, Long]
  /** level -> (stream id -> earliest unmaterialized epoch sec). */
  private val ladderPending =
    scala.collection.mutable.Map.empty[String, Map[String, Long]]
  /** Per-stream rollup high-water marks (driver-side, in-memory, like the
    * frontier): stream id -> latest rollup bucket start on disk (epoch
    * sec) by ladder level, [[RollupLadder.NoMark]] for a level with no
    * rollup rows. A stream with no entry is unknown: its next ladder run
    * scans its root for them; each later run advances them from what its
    * fold wrote. Every path that deletes rollups drops the affected
    * entries first (cascade rewrites, deleteStreams, expireData), so a
    * mark never claims a bucket that is gone.
    */
  private val ladderMarks = scala.collection.mutable.Map.empty[String, Array[Long]]
  /** Derived streams' data extents (epoch sec), mirroring their coverage
    * markers — lazily read once, then maintained by writeCoverage — so
    * the ladder's active-set check never re-reads marker files per run.
    */
  private val derivedExtentCache =
    scala.collection.mutable.Map.empty[String, Option[Long]]
  private def catalogDirty: Boolean = dirtyShards.nonEmpty
  private def markDirty(id: String): Unit = { dirtyShards += shardOf(id); () }
  // stream ids created since the last persist — their descriptors exist
  // only in memory, so data writes keyed by them must force a flush first
  private var unpersisted: Set[String] = Set.empty
  // crash-recovery sweep MUST run at open: a surviving _graft_dirty
  // sentinel marks a derived stream whose incremental rewrite crashed
  // between its partition deletes and its write. Waiting for the next
  // append to that stream's sources would serve the hole to every read
  // until then (forever, for a cold source) — heal it and its transitive
  // dependents up front. No-op (no Spark job) when no sentinel survives.
  healDirtyStreams()

  /** Persist pending catalog changes (no-op when clean). */
  def flush(): Unit = if (catalogDirty) persistCatalog()

  /** Flush and release driver-side state. Idempotent. */
  def close(): Unit = flush()

  /** Test/diagnostic visibility: catalog parquet rewrites since open.
    * The scale contract is that this stays O(admin ops + explicit
    * flushes), never O(appends). */
  private[graft] var catalogWrites: Int = 0

  private def shardOf(id: String): Int = (id.hashCode & Int.MaxValue) % catalogShards
  private def shardKey(k: Int): String = f"shard=$k%03d"
  private def loadCatalog(): Map[String, StreamDescriptor] = {
    // a shard stranded in the backup by a crashed flush is restored
    // first; every shard dir then holds a complete published write, so
    // one listing finds them all
    DirSwap.heal(dfs, hPath(streamsPath))
    val shardPaths = hList(streamsPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
      .map(_.getPath.toString).toSeq
    if (shardPaths.isEmpty) return Map.empty
    replayHwm(spark.read.parquet(shardPaths: _*).as[StreamDescriptor]
      .collect().map(d => d.stream_id -> d).toMap)
  }

  /** Self-heal time bounds from the append sidecar: a crash between an
    * append and the next catalog flush leaves `streams.hwm.d` lines the
    * persisted catalog doesn't cover. Widening is idempotent (min/max), so
    * replaying lines a later flush DID cover is a no-op; a torn final line
    * from a mid-write crash is skipped (its batch crashed before the data
    * write's bounds mattered — same window as crashing before the sidecar
    * append, which the dedupExisting re-delivery path already heals).
    */
  private def replayHwm(cat: Map[String, StreamDescriptor])
      : Map[String, StreamDescriptor] = {
    val line = """\{"id":"([^"]+)","lo":(-?\d+),"hi":(-?\d+)\}""".r
    var c = cat
    def replayFile(p: org.apache.hadoop.fs.Path, len: Long): Unit = {
      hwmBytes += len
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        dfs.open(p), java.nio.charset.StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null).foreach {
        case line(id, lo, hi) =>
          c.get(id).foreach { d =>
            val loTs = new Timestamp(lo.toLong * 1000L)
            val hiTs = new Timestamp(hi.toLong * 1000L)
            c += id -> d.copy(
              earliest_ts = Some(d.earliest_ts.fold(loTs)(e =>
                if (e.before(loTs)) e else loTs)),
              latest_ts = Some(d.latest_ts.fold(hiTs)(l =>
                if (l.after(hiTs)) l else hiTs)))
          }
        case _ => // torn tail line — skip
      } finally in.close()
    }
    hList(hwmSegDir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .foreach(st => replayFile(st.getPath, st.getLen))
    c
  }

  /** Record a batch's per-stream floored time bounds in the sidecar —
    * driver-local file append, O(batch streams), zero Spark jobs. Bounds
    * are granularity-floored already, so epoch seconds are lossless. */
  private def appendHwm(bounds: Array[org.apache.spark.sql.Row]): Unit = {
    val sb = new StringBuilder
    bounds.foreach { r =>
      val lo = Math.floorDiv(r.getTimestamp(1).getTime, 1000L)
      val hi = Math.floorDiv(r.getTimestamp(2).getTime, 1000L)
      sb.append(s"""{"id":"${r.getString(0)}","lo":$lo,"hi":$hi}""")
        .append('\n')
    }
    // one SEGMENT file per batch instead of a file append: append() is
    // unsupported on several Hadoop filesystems (S3A, ChecksumFS), and a
    // create-new segment has the same torn-tail crash semantics the
    // replay already tolerates. Segment count is bounded by the flush
    // threshold below (flush truncates the whole dir).
    val seg = hPath(s"$hwmSegDir/seg-${System.nanoTime()}")
    dfs.mkdirs(hPath(hwmSegDir))
    val out = dfs.create(seg, true)
    try out.write(sb.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    hwmBytes += sb.length
    // bound sidecar growth under continuous ingest: past the threshold,
    // fold it into one catalog write. This amortizes the O(changed
    // shards) rewrite over many appends instead of paying it per
    // micro-batch, and keeps open-time replay O(threshold).
    if (hwmBytes > hwmFlushBytes) flush()
  }

  /** Sidecar flush threshold SCALES with catalog size: a fixed cap would
    * quietly reintroduce a per-batch catalog rewrite once one micro-batch
    * touches enough streams to cross it (one line is ~60 B, so 1 MiB ≈
    * 17k streams). At ~256 B of sidecar budget per catalog stream, a
    * batch touching every stream flushes once every ~4 batches however
    * large the store, while small stores keep the 1 MiB floor (replay
    * stays trivially bounded). `hwmFlushFloor` is test-visible so specs
    * can drive the amortization without 17k-stream fixtures.
    */
  private[graft] var hwmFlushFloor: Long = 1L << 20
  private[graft] def hwmFlushBytes: Long =
    math.max(hwmFlushFloor, catalog.size.toLong * 256L)

  private def persistCatalog(): Unit = {
    // shard-selective crash-safe swap: only DIRTY shards rewrite — one
    // Spark job writes their surviving descriptors partitioned by shard
    // into the catalog's stage, then each shard directory
    // DirSwap.publishes (a dirty shard with no surviving streams has no
    // staged copy and retires). Flush cost is O(streams in changed
    // shards), not O(catalog).
    val dirty = dirtyShards.toSet
    val shardU = udf((s: String) => f"${(s.hashCode & Int.MaxValue) % catalogShards}%03d")
    val rows = catalog.values.filter(d => dirty(shardOf(d.stream_id))).toSeq
    val table = hPath(streamsPath)
    DirSwap.dropStage(dfs, table)
    if (rows.nonEmpty)
      rows.toDS().withColumn("shard", shardU(col("stream_id")))
        .repartition(math.min(dirty.size, 32), col("shard"))
        .write.mode(SaveMode.Overwrite).partitionBy("shard")
        .parquet(DirSwap.stage(table).toString)
    DirSwap.publish(dfs, table, dirty.toSeq.sorted.map(shardKey))
    // the persisted catalog covers every in-memory bound, so the sidecar
    // is now redundant — truncate it AFTER the swap (a crash in between
    // just replays already-covered lines, a no-op)
    dfs.delete(hPath(hwmSegDir), true)
    hwmBytes = 0L
    // only mark clean once the data is durably in place — a failed write
    // must leave the shards dirty so a retried flush() actually retries
    dirtyShards.clear()
    unpersisted = Set.empty
    catalogWrites += 1
  }

  def streams: DataFrame =
    if (catalog.isEmpty) spark.emptyDataset[StreamDescriptor].toDF()
    else catalog.values.toSeq.toDS().toDF()

  // ---- A1 ensure_stream ----------------------------------------------

  def ensureStream(
      queryTags: Map[String, String],
      tags: Map[String, String] = Map.empty,
      valueDownsamplers: Seq[String] = Downsamplers.allValueNames.toSeq.sorted,
      highestGranularity: Granularity = Granularity.Seconds,
      deriveFrom: Seq[String] = Nil,
      deriveOp: Option[String] = None,
      deriveArgs: Option[String] = None,
      valueType: String = ValueType.Numeric,
      timeDownsamplers: Seq[String] = Downsamplers.allTimeNames.toSeq.sorted,
      valueTypeOptions: Option[String] = None,
      deriveBackprocess: Boolean = true): String = {
    val (id, created) = ensureOne(queryTags, tags, valueDownsamplers,
      highestGranularity, deriveFrom, deriveOp, deriveArgs, valueType,
      timeDownsamplers, valueTypeOptions)
    created.foreach { desc =>
      if (deriveBackprocess && deriveFrom.nonEmpty &&
          deriveFrom.exists(hasDeriveHistory(_))) {
        // flush FIRST: the recompute writes partition dirs keyed by
        // this id, and a crash between that write and a later lazy
        // flush would strand orphan data no catalog entry explains
        flush()
        recomputeFully(Seq(desc))
      }
    }
    id
  }

  /** "history" must look THROUGH derived sources (their latest_ts is
    * never set — only raw appends advance it), so walk the derive chain
    * down to raw streams; catalog-only, no Spark job.
    */
  private def hasDeriveHistory(sid: String,
      seen: Set[String] = Set.empty): Boolean = {
    val d = catalog(sid)
    d.latest_ts.isDefined || (!seen(sid) &&
      d.derive_from.exists(hasDeriveHistory(_, seen + sid)))
  }

  /** BULK declaration — the shape a 10k-stream deployment boots with
    * (the per-call [[ensureStream]] loop measured ~10 s for 10k specs;
    * the cost is per-call flush/backprocess bookkeeping, not lookup):
    * one in-order validation pass over the specs (so a derived spec may
    * reference a stream declared EARLIER in the same batch), per-row
    * outcomes instead of throw-on-first (the appendMultiple checks-fold
    * reporting discipline; the §1.6 taxonomy is preserved verbatim in
    * each row's error), then ONE catalog flush and ONE wave-batched
    * backprocess over every created derived stream with source history
    * — never a flush or cascade per spec.
    */
  def ensureStreams(specs: Seq[EnsureSpec],
      deriveBackprocess: Boolean = true): Seq[EnsureOutcome] = {
    val results = specs.map { sp =>
      try {
        val (id, created) = ensureOne(sp.queryTags, sp.tags,
          sp.valueDownsamplers, sp.highestGranularity, sp.deriveFrom,
          sp.deriveOp, sp.deriveArgs, sp.valueType, sp.timeDownsamplers,
          sp.valueTypeOptions)
        (EnsureOutcome(Some(id), None, created.isDefined), created)
      } catch {
        case e: DatastreamException =>
          (EnsureOutcome(None, Some(e.getMessage), created = false), None)
      }
    }
    val backprocess = results.flatMap(_._2).filter(d =>
      deriveBackprocess && d.derive_from.nonEmpty &&
        d.derive_from.exists(hasDeriveHistory(_)))
    if (backprocess.nonEmpty) {
      flush() // once, before any derived data lands (the crash contract)
      recomputeFully(backprocess)
    }
    results.map(_._1)
  }

  private def ensureOne(
      queryTags: Map[String, String],
      tags: Map[String, String],
      valueDownsamplers: Seq[String],
      highestGranularity: Granularity,
      deriveFrom: Seq[String],
      deriveOp: Option[String],
      deriveArgs: Option[String],
      valueType: String,
      timeDownsamplers: Seq[String],
      valueTypeOptions: Option[String]): (String, Option[StreamDescriptor]) = {
    // valueTypeOptions (e.g. archived graph layouts) have no execution
    // semantics in the reference (count-only downsampling) but they ARE
    // part of the immutable stream config: persisted verbatim in the
    // descriptor and guarded by the conflicting-re-ensure check below.
    if (!ValueType.all(valueType)) throw IncompatibleTypes(valueType)
    if (valueType != ValueType.Numeric && valueDownsamplers.exists(_ != "count"))
      throw UnsupportedDownsampler(
        s"$valueType streams support only 'count', got ${valueDownsamplers.mkString(",")}")
    Downsamplers.validateValue(valueDownsamplers)
    Downsamplers.validateTime(timeDownsamplers)
    deriveOp.foreach(DeriveOps.validate)
    if (deriveOp.isDefined != deriveFrom.nonEmpty)
      throw InvalidOperatorArguments("derive_op and derive_from must be set together")
    // per-op arity: sum coalesces N sources; the lag-based ops are defined
    // over exactly one source (recomputeDerived would otherwise interleave
    // several sources' windows onto one derived id)
    deriveOp.foreach { op =>
      if (op != DeriveOps.Sum && deriveFrom.size != 1)
        throw InvalidOperatorArguments(
          s"derive_op $op takes exactly 1 source stream, got ${deriveFrom.size}")
    }
    deriveFrom.foreach { src =>
      val d = catalog.getOrElse(src, throw StreamNotFound(src))
      // a derived stream may not be finer-grained than any of its sources
      if (highestGranularity.seconds < Granularity(d.highest_granularity).seconds)
        throw IncompatibleGranularities(
          s"derived ${highestGranularity.name} finer than source ${d.highest_granularity}")
      if (deriveOp.contains(DeriveOps.CounterReset) ||
          deriveOp.contains(DeriveOps.CounterDerivative) ||
          deriveOp.contains(DeriveOps.Derivative)) {
        if (d.value_type != ValueType.Numeric)
          throw IncompatibleTypes(s"derive source $src is ${d.value_type}")
      }
    }

    val existing = idsByTags(queryTags).map(catalog).toList
    existing match {
      case d :: Nil =>
        // immutable config — conflicting re-declaration is an error
        if (d.value_downsamplers.toSet != valueDownsamplers.toSet ||
            d.time_downsamplers.toSet != timeDownsamplers.toSet ||
            d.highest_granularity != highestGranularity.name ||
            d.value_type != valueType ||
            d.derive_from.toSet != deriveFrom.toSet ||
            d.derive_op != deriveOp ||
            d.derive_args != deriveArgs ||
            d.value_type_options != valueTypeOptions)
          throw InconsistentStreamConfiguration(d.stream_id)
        (d.stream_id, None)
      case Nil =>
        val id = UUID.randomUUID().toString
        val allTags = queryTags ++ tags
        val desc = StreamDescriptor(
          stream_id = id,
          tags = allTags,
          tags_json = Json.nested(allTags),
          value_type = valueType,
          value_downsamplers = valueDownsamplers,
          time_downsamplers = timeDownsamplers,
          highest_granularity = highestGranularity.name,
          derive_from = deriveFrom,
          derive_op = deriveOp,
          derive_args = deriveArgs,
          earliest_ts = None,
          latest_ts = None,
          value_type_options = valueTypeOptions)
        putStream(desc)
        markDirty(id)
        unpersisted += id
        (id, Some(desc))
      case many => throw MultipleStreamsReturned(queryTags.toString)
    }
  }

  // ---- A2/A3 append --------------------------------------------------

  def append(streamId: String, value: Double, timestamp: Timestamp,
      checkTimestamp: Boolean = true): Unit = {
    val df = Seq((streamId, timestamp, value)).toDF("stream_id", "t", "v")
    appendMultiple(df, checkTimestamp)
    ()
  }

  /** Bulk append — the engine's native shape. `df` columns:
    * stream_id, t (timestamp), and v (double, nullable) for numeric
    * streams and/or v_json (string) for nominal/graph streams.
    * Timestamps are rounded to each stream's highest granularity; strict
    * decreases versus the stream's last STORED timestamp raise
    * [[InvalidTimestamp]] when `checkTimestamp` (a DataFrame batch has no
    * row order, so ordering WITHIN one batch is not checked by default).
    * `strictWithinBatch=true` restores the reference's fully sequential
    * semantics through one bulk call: the batch must carry a `seq` column
    * stating per-stream arrival order, and any (floored) timestamp
    * decrease along it raises [[InvalidTimestamp]].
    * Values of the wrong kind for a stream's declared value_type raise
    * [[IncompatibleTypes]] (the reference's append-time type check).
    *
    * `dedupExisting=true` makes the append idempotent against exact
    * re-delivery — rows whose (stream_id, rounded t, value) already exist
    * are silently dropped, while a distinct new value in an
    * already-populated bucket still appends (two events in one second are
    * two datapoints, as in the batch path). The check scans only the
    * batch's own [min t, max t] window of the primary root (ymd partition
    * pruning), so its cost is bounded by the batch span, not store size.
    * Streaming ingest re-delivery relies on this.
    */
  def appendMultiple(df: DataFrame, checkTimestamp: Boolean = true,
      dedupExisting: Boolean = false,
      strictWithinBatch: Boolean = false): Datastream.AppendResult = {
    import spark.implicits._
    // cache the caller's batch: the ids scan, validation probes, store
    // write and bounds aggregation would otherwise re-execute its
    // (possibly expensive) lineage up to 5 times. Only manage the cache
    // if the caller hasn't already persisted this frame.
    val ownCache = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val cached = if (ownCache) df.persist() else df
    try {
      // ONE pass over the raw batch: distinct stream ids, per-stream raw
      // time bounds and value-kind presence flags fold into a single
      // aggregation job (ids-distinct used to be its own scan, and the
      // validation agg used to run AFTER a metadata join). All per-stream
      // validation then happens driver-side against the catalog —
      // metadata-scale work, equivalent because every per-row check
      // reduces to a per-stream extremum: any(t < last) ⇔ min(t) < last
      // (flooring is monotone), any(wrong-kind value) ⇔ kind-presence flag.
      val hasV = cached.columns.contains("v")
      val hasJ = cached.columns.contains("v_json")
      // ONE NARROW job folds the per-stream extrema + kind flags: a
      // per-partition HashMap merged driver-side (the r11 shape — the
      // groupBy.agg.collect it replaced billed 3 jobs under AQE for the
      // shuffle stage, result stage, and persist materialization; this
      // runs shuffle-free and materializes the persist in the same pass)
      val (bounds, ids, toWrite) = Meter.tagged(spark.sparkContext,
          "append:checks") {
        val checkCols = Seq(col("stream_id"),
          unix_timestamp(col("t")).as("_tsec")) ++
          (if (hasV) Seq(col("v").isNotNull.as("_nv")) else Nil) ++
          (if (hasJ) Seq(col("v_json").isNotNull.as("_nj")) else Nil)
        val partChecks = cached.select(checkCols: _*).rdd.mapPartitions { it =>
          // (minSec, maxSec, hasNum, hasJson) per stream
          val m = scala.collection.mutable.HashMap[String, Array[Long]]()
          it.foreach { r =>
            if (r.isNullAt(1))
              throw InvalidTimestamp("append batch contains a NULL timestamp")
            val sec = r.getLong(1)
            var i = 2
            var nv = false; var nj = false
            if (hasV) { nv = !r.isNullAt(i) && r.getBoolean(i); i += 1 }
            if (hasJ) { nj = !r.isNullAt(i) && r.getBoolean(i) }
            val e = m.getOrElseUpdate(r.getString(0),
              Array(Long.MaxValue, Long.MinValue, 0L, 0L))
            if (sec < e(0)) e(0) = sec
            if (sec > e(1)) e(1) = sec
            if (nv) e(2) = 1L
            if (nj) e(3) = 1L
          }
          Iterator.single(m)
        }.collect()
        val checks = {
          val m = scala.collection.mutable.HashMap[String, Array[Long]]()
          partChecks.foreach(_.foreach { case (id, e) =>
            val t = m.getOrElseUpdate(id,
              Array(Long.MaxValue, Long.MinValue, 0L, 0L))
            if (e(0) < t(0)) t(0) = e(0)
            if (e(1) > t(1)) t(1) = e(1)
            t(2) |= e(2); t(3) |= e(3)
          })
          m.toArray.sortBy(_._1)
        }

        // per-stream time bounds of the batch, floored to the stream's
        // highest granularity (advance catalog bounds in finishAppend —
        // taken from the PRE-dedup frame on purpose: on a retried delivery
        // the timestamps are in the store either way, and a crash between
        // last round's write and catalog persist must still advance)
        val bounds = checks.map { case (id, e) =>
          val d = catalog.getOrElse(id, throw StreamNotFound(id))
          if (d.derive_op.isDefined) throw AppendToDerivedStreamNotAllowed(id)
          if (d.value_type == ValueType.Numeric && hasJ && e(3) == 1L)
            throw IncompatibleTypes(
              s"value kind does not match stream $id's value_type")
          if (d.value_type != ValueType.Numeric && hasV && e(2) == 1L)
            throw IncompatibleTypes(
              s"value kind does not match stream $id's value_type")
          val gsec = Granularity(d.highest_granularity).seconds
          // epoch seconds come from unix_timestamp (Spark's own flooring —
          // the same function the write path rounds with), then floorDiv to
          // the granularity: pre-epoch timestamps floor identically to the
          // stored data, keeping the monotonicity check / dedup window in
          // sync
          def floorTs(sec: Long): Timestamp =
            new Timestamp(Math.floorDiv(sec, gsec) * gsec * 1000)
          val lo = floorTs(e(0))
          if (checkTimestamp && d.latest_ts.exists(l => lo.getTime < l.getTime))
            // a strict decrease versus the stream's last stored timestamp is
            // a monotonicity violation (the reference's check_timestamp=True)
            throw InvalidTimestamp(s"non-monotonic append for stream $id")
          org.apache.spark.sql.Row(id, lo, floorTs(e(1)))
        }
        val ids = checks.map(_._1)

        // per-stream config reaches the write path by the filterToStreams
        // tiering: a SMALL batch id set inlines as literal maps (zero join,
        // zero broadcast-exchange job — one fewer job per append); a large
        // one joins as a BROADCAST metadata frame (never a typedLit map of
        // the whole catalog — a million-stream literal would explode the
        // plan). Only the WRITE path needs the per-row values
        // (granularity name + per-row rounding).
        val metaRows = ids.toSeq.map { id =>
          val d = catalog(id)
          (id, Granularity(d.highest_granularity).seconds, d.highest_granularity)
        }
        val withMeta =
          if (ids.length <= 256) {
            val gsecLit = typedLit(metaRows.map(m => m._1 -> m._2).toMap)
            val gnameLit = typedLit(metaRows.map(m => m._1 -> m._3).toMap)
            cached.withColumn("gsec", gsecLit(col("stream_id")))
              .withColumn("gname", gnameLit(col("stream_id")))
          } else
            cached.join(broadcast(
              metaRows.toDF("stream_id", "gsec", "gname")), "stream_id")
        val rounded = withMeta
          .withColumn("t", timestamp_seconds(
            floor(unix_timestamp(col("t")) / col("gsec")) * col("gsec")))

        // opt-in WITHIN-batch monotonicity (SURVEY §2.1 A2: the reference's
        // sequential appends reject every decrease, not just batch-min vs
        // stored-last). A DataFrame has no row order, so the caller states
        // arrival order through a per-stream `seq` column; a (floored)
        // timestamp decrease along seq raises InvalidTimestamp — the same
        // rows rejected had they been appended one call at a time. One
        // extra windowed pass over the batch, only when opted in.
        if (strictWithinBatch) {
          if (!cached.columns.contains("seq"))
            throw InvalidOperatorArguments(
              "strictWithinBatch needs a 'seq' column (per-stream arrival order)")
          val w = Window.partitionBy("stream_id").orderBy("seq")
          val bad = rounded
            .withColumn("_prev_t", lag(col("t"), 1).over(w))
            .where(col("_prev_t").isNotNull && col("t") < col("_prev_t"))
            .select("stream_id").limit(1).collect()
          bad.headOption.foreach { r =>
            throw InvalidTimestamp(
              s"non-monotonic timestamps within batch for stream ${r.getString(0)}")
          }
        }

        val deduped =
          if (!dedupExisting || bounds.isEmpty || !nonEmptyDir(datapointsPath)) rounded
          else {
            val lo = bounds.map(_.getTimestamp(1)).minBy(_.getTime)
            val hi = bounds.map(_.getTimestamp(2)).maxBy(_.getTime)
            val gnames = ids.map(catalog(_).highest_granularity).distinct.toSeq
            // appends only reach source streams: their raw rows sit in the
            // primary root's granularity directories, and only those list
            val existing = filterToStreams(
              DatapointStore.read(spark, datapointsPath,
                  gnames.map(sourceDir))
                .where(col("granularity").isin(gnames: _*) &&
                  col("t") >= lo && col("t") <= hi &&
                  col("ymd") >= DatapointStore.ymdKey(lo) &&
                  col("ymd") <= DatapointStore.ymdKey(hi)),
              ids.toSeq).select("stream_id", "t", "v_num", "v_json")
            // drop only EXACT re-deliveries (same stream, rounded t, value):
            // a retried micro-batch re-sends identical rows, while a
            // genuinely new value landing in an already-seen second must
            // still append (two distinct events in one bucket are two
            // datapoints, same as the batch path). Null-safe equality so
            // null-valued re-deliveries dedup too.
            val vCond =
              if (hasV) rounded("v").cast("double") <=> existing("v_num")
              else existing("v_num").isNull
            val jCond =
              if (hasJ) rounded("v_json") <=> existing("v_json")
              else existing("v_json").isNull
            rounded.join(existing,
              rounded("stream_id") === existing("stream_id") &&
                rounded("t") === existing("t") && vCond && jCond,
              "left_anti")
          }

        val withJson = if (hasJ) deduped
                       else deduped.withColumn("v_json", lit(null).cast("string"))
        val withV = if (hasV) withJson
                    else withJson.withColumn("v", lit(null).cast("double"))
        val toWrite = withV.select(
            col("stream_id"),
            col("gname").as("granularity"),
            col("t"),
            col("v").cast("double").as("v_num"),
            col("v_json"))
        (bounds, ids, toWrite)
      }
      // piggyback the written-row count on the write job itself
      // (Observation = zero extra jobs): a fully-deduped re-delivery
      // writes 0 rows, which lets finishAppend skip the derive cascade
      // and the streaming ingest loop skip the rollup ladder — the store
      // provably did not change.
      // The dedup-probe + repartition + write execute under the ladder's
      // AQE-off discipline (r11): AQE billed the write's repartition
      // exchange and the dedup join's stages as separate jobs (3-4 per
      // append, measured); statically planned they are ONE job.
      // repartition-by-key puts each (granularity, ymd) wholly in one
      // reduce task, so output file counts don't need AQE coalescing,
      // and the 1/16 width slice keeps the local replay's reduce tasks
      // near what AQE produced. SESSION-SCOPE CAVEAT (same as the ladder
      // flip, documented there): these conf flips are visible to any
      // query planned concurrently on the SAME SparkSession during the
      // write — a deployment sharing the session between an ingest
      // writer and ad-hoc readers should give the writer its own
      // spark.cloneSession() (confs are per-clone; the store paths are
      // the shared state, not the session).
      val obs = org.apache.spark.sql.Observation()
      Meter.tagged(spark.sparkContext, "append:write") {
        staticNarrow(DatapointStore.append(
          toWrite.observe(obs, count(lit(1)).as("rows")), datapointsPath))
      }
      // `get` returns AFTER the write's query-end event, so a missing key
      // is not a race: it means empty-relation propagation pruned the
      // CollectMetrics node — which only happens when the observed
      // subtree is provably empty, i.e. zero rows written
      val written = obs.get.getOrElse("rows", 0L).asInstanceOf[Long]
      finishAppend(bounds, ids, written)
      Datastream.AppendResult(written,
        bounds.map(_.getTimestamp(2)).sortBy(_.getTime).lastOption)
    } finally if (ownCache) cached.unpersist()
  }

  private def finishAppend(bounds: Array[org.apache.spark.sql.Row],
      ids: Array[String], written: Long): Unit = {
    // capture each appended stream's changed region BEFORE advancing the
    // catalog: the incremental derive cascade needs the PRE-batch latest
    // timestamp (exact lookback partition + staleness self-heal check)
    val regions = bounds.map { r =>
      val id = r.getString(0)
      val lo = r.getTimestamp(1); val hi = r.getTimestamp(2)
      id -> Region(dayStart(lo), Some(DatapointStore.ymdKey(hi)),
        catalog(id).latest_ts)
    }.toMap
    // advance per-stream time bounds in the catalog
    bounds.foreach { r =>
      val id = r.getString(0)
      val d = catalog(id)
      val lo = r.getTimestamp(1); val hi = r.getTimestamp(2)
      // direct put (not putStream): tags are UNCHANGED by a bounds
      // advance, so the tag index stays consistent and the hot append
      // path skips the unindex/reindex pass per stream
      catalog += id -> d.copy(
        earliest_ts = Some(d.earliest_ts.fold(lo)(e => if (e.before(lo)) e else lo)),
        latest_ts = Some(d.latest_ts.fold(hi)(l => if (l.after(hi)) l else hi)))
      markDirty(id)
    }
    // NO catalog rewrite here — that was O(#streams) driver work per
    // append (the scale-killer under streaming ingest). The sidecar line
    // keeps monotonicity exact across a crash; flush() folds it in. The
    // one exception: a never-persisted descriptor about to get DATA
    // forces a single flush (which also covers these bounds), so crashed
    // appends never strand data no catalog entry explains — and that must
    // include the TRANSITIVE derived dependents the cascade below writes,
    // not just the directly-appended ids (a derived stream ensured over a
    // then-empty source has no flush-forcing append of its own).
    val affected = derivedInOrder(ids.toSet)
    val writes = ids.toSet ++ affected.map(_.stream_id)
    if (writes.exists(unpersisted)) flush() else appendHwm(bounds)
    if (written > 0) {
      bounds.map(r => Math.floorDiv(r.getTimestamp(1).getTime, 1000L))
        .sorted.headOption.foreach(lo => noteDataWritten(lo, ids))
      deriveDependents(ids.toSet, regions)
    } else if (affected.exists(d =>
        !ids.contains(d.stream_id) && staleDependent(d))) {
      // zero rows landed (a fully-deduped re-delivery): the store did not
      // change, so dependents can only need work if a PREVIOUS crash left
      // one stale — a driver-side marker check, no Spark jobs when clean
      deriveDependents(ids.toSet, regions)
    }
  }

  /** Driver-side staleness probe for the zero-row append fast path: does
    * this derived stream need a derive pass even though nothing new
    * landed? True when a crash left its dirty sentinel, it was never
    * materialized, or a dependency's extent moved past its coverage
    * marker (a crash between a source append and its cascade).
    */
  private def staleDependent(d: StreamDescriptor): Boolean = {
    if (dfs.exists(hPath(dirtyFile(d.stream_id)))) return true
    if (!nonEmptyDir(streamDir(derivedRawPath, d.stream_id))) return true
    readCoverage(d.stream_id) match {
      case None => true
      case Some(cw) => coverageNow(d).exists(_.after(cw))
    }
  }

  // ---- datapoints access ----------------------------------------------

  private def nonEmptyDir(p: String): Boolean = hList(p).nonEmpty

  private def datapointsExist: Boolean =
    nonEmptyDir(datapointsPath) || nonEmptyDir(derivedRawPath) ||
      nonEmptyDir(rollupsPath)

  /** Does ANY data exist at granularity `g`? A driver-side directory probe
    * (granularity is a partition column in all three roots) that lets the
    * rollup ladder skip the high-water-mark scan-and-broadcast job for
    * levels being materialized for the first time — the common case on
    * bulk backfills. Derived roots nest granularity under stream_id, so
    * that probe is O(#derived streams) driver-side listing, still far
    * cheaper than a distributed scan of nothing.
    */
  private def granularityExists(g: String): Boolean = {
    if (nonEmptyDir(sourceDir(g))) return true
    def anyStreamHas(root: String): Boolean =
      hList(root).exists(k => k.isDirectory &&
        nonEmptyDir(s"${k.getPath}/granularity=$g"))
    anyStreamHas(derivedRawPath) || anyStreamHas(rollupsPath)
  }

  private def rmTree(p: String): Unit = DatapointStore.rmTree(dfs, hPath(p))

  /** `body` planned statically (AQE off) on a 1/16 slice of the session's
    * shuffle width, which stands in for AQE's coalescing: the scope of the
    * append write and of the ladder's mark scan and fold-and-write. */
  private def staticNarrow[T](body: => T): T = GraftSession.withConf(spark,
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> math.max(2,
      spark.conf.get("spark.sql.shuffle.partitions").toInt / 16).toString)(body)

  /** Derived streams live in two SHARED roots partitioned by stream_id
    * first (raw level and rollups): recomputing one stream deletes its two
    * partition directories and appends fresh rows — never an
    * O(whole-store) rewrite, which would be fatal at scale since
    * dependents recompute on every source append.
    */
  private def derivedRawPath = s"$rootDir/derived_raw"
  private def rollupsPath = s"$rootDir/derived_rollups"

  /** One derived stream's directory under a derived root: all of its
    * partitions, plus (in the raw root) its coverage and dirty markers. */
  private def streamDir(root: String, id: String) = s"$root/stream_id=$id"

  /** The primary root's directory for granularity `g`: every source
    * stream's rows at that level. */
  private def sourceDir(g: String) = s"$datapointsPath/granularity=$g"

  /** Where the catalog puts stream `id`'s rows at granularity `g`: source
    * streams share the primary root's `granularity=g` directory; a derived
    * stream keeps its raw level (its highest granularity) in the derived
    * raw root and its coarser levels in the rollups root, each under its
    * own stream directory. Returns (root, directory).
    */
  private def dirOf(id: String, g: String): (String, String) = {
    val d = catalog(id)
    if (d.derive_op.isEmpty) datapointsPath -> sourceDir(g)
    else {
      val root = if (g == d.highest_granularity) derivedRawPath else rollupsPath
      root -> s"${streamDir(root, id)}/granularity=$g"
    }
  }

  /** Directories holding every row of `ids` at every granularity: the
    * whole primary root when any is a source stream, and each derived
    * stream's directory in both derived roots.
    */
  private def streamDirs(ids: Iterable[String]): Seq[(String, String)] = {
    val (der, src) = ids.toSeq.partition(catalog(_).derive_op.isDefined)
    (if (src.nonEmpty) Seq(datapointsPath -> datapointsPath) else Nil) ++
      Seq(derivedRawPath, rollupsPath).flatMap(r => der.map(id => r -> streamDir(r, id)))
  }

  /** Catalog-routed scan: per store root, ONE scan node over the listed
    * (root, directory) pairs; roots with none of them on disk drop out.
    * Spark's partition discovery lists only those directories — never a
    * whole derived root, whose `stream_id=` level grows with the number of
    * derived streams and lists through a distributed job past 32 of them.
    * Plan size stays O(1) in #streams (at most three scan nodes).
    */
  private def scanDirs(dirs: Seq[(String, String)]): DataFrame = {
    val byRoot = dirs.groupMap(_._1)(_._2)
    val scans = Seq(datapointsPath, derivedRawPath, rollupsPath).flatMap(r =>
      byRoot.get(r).flatMap(DatapointStore.scan(spark, r, _)))
    if (scans.isEmpty) DatapointStore.empty(spark)
    else scans.reduce(_.unionByName(_))
  }

  /** Unified scan of every stream's datapoints (all granularities) — the
    * catalog-routed scan over all ids, at most three scan nodes: the
    * primary root and every derived stream's directory in the two derived
    * roots. Store paths route narrower scans through the same helper.
    */
  def datapoints: DataFrame = scanDirs(streamDirs(catalog.keys))

  /** Stream-id filter that stays plan-friendly at scale: no filter when
    * the set is the whole catalog, a literal IN for small sets, a
    * broadcast semi-join above that (a million-id literal list would
    * explode the plan).
    */
  private def filterToStreams(df: DataFrame, idsSel: Seq[String]): DataFrame =
    if (idsSel.size == catalog.size) df
    else if (idsSel.size <= 256) df.where(col("stream_id").isin(idsSel: _*))
    else {
      import spark.implicits._
      df.join(broadcast(idsSel.toDF("stream_id")), Seq("stream_id"), "left_semi")
    }

  // ---- A4 get_data ----------------------------------------------------

  /** One stream's rows at `granularity` in `t` order (descending when
    * `reverse`): raw values at its highest granularity, the requested
    * downsamplers above it. One scan: the read names only the window's
    * `ymd=` days ([[DatapointStore.readDays]]), and the matched rows sort
    * inside ONE partition. The scan stays split across tasks; only the
    * stream's rows cross the exchange, and a single-partition sort needs
    * no range-partitioner sampling job (a global `orderBy` scans the
    * leaf twice for it). That one sort task holds the whole result, so
    * this suits results small next to the leaves they scan.
    */
  def getData(
      streamId: String,
      granularity: Granularity,
      start: Option[Timestamp] = None,
      end: Option[Timestamp] = None,
      startExclusive: Boolean = false,
      endExclusive: Boolean = false,
      reverse: Boolean = false,
      valueDownsamplers: Option[Seq[String]] = None,
      timeDownsamplers: Option[Seq[String]] = None): DataFrame = {
    val d = catalog.getOrElse(streamId, throw StreamNotFound(streamId))
    val hg = Granularity(d.highest_granularity)
    if (granularity.seconds < hg.seconds)
      throw UnsupportedGranularity(
        s"${granularity.name} finer than stream's highest ${hg.name}")
    valueDownsamplers.foreach { vds =>
      vds.foreach(n => if (!d.value_downsamplers.contains(n))
        throw UnsupportedDownsampler(n))
    }
    timeDownsamplers.foreach { tds =>
      tds.foreach(n => if (!d.time_downsamplers.contains(n))
        throw UnsupportedDownsampler(n))
    }
    // the catalog knows the ONE partition directory holding these rows:
    // the read lists it alone (no other root, no other derived stream),
    // then parquet min/max pushdown on stream_id/t prunes inside it
    val (root, dir) = dirOf(streamId, granularity.name)
    val lo = start.map(DatapointStore.ymdKey)
    val hi = end.map(DatapointStore.ymdKey)
    // a `t` predicate alone never prunes the ymd partition column — derive
    // the matching ymd day-key bounds explicitly (same epoch-day formula
    // as DatapointStore.ymdCol, so it is session-timezone-proof). readDays
    // lists only the days inside them; the filter repeats them, so the
    // plan's partition filters state the window's days
    val cond = Seq(
      Some(col("granularity") === granularity.name && col("stream_id") === streamId),
      start.map(s => if (startExclusive) col("t") > s else col("t") >= s),
      lo.map(col("ymd") >= _),
      end.map(e => if (endExclusive) col("t") < e else col("t") <= e),
      hi.map(col("ymd") <= _)).flatten.reduce(_ && _)
    val cols =
      if (granularity.seconds == hg.seconds)
        Seq(col("t"), col("v_num").as("v"), col("v_json"))
      else {
        val vds = valueDownsamplers.getOrElse(d.value_downsamplers)
        val tds = timeDownsamplers.getOrElse(d.time_downsamplers)
        val vCols = vds.map(n => col(Downsamplers.value(n)).as(n))
        // time downsamplers keep the t_ prefix: the value downsampler `mean`
        // would otherwise collide with the time downsampler `mean`
        val tCols = tds.map(n => col(s"t_$n"))
        col("t") +: (vCols ++ tCols)
      }
    DatapointStore.readDays(spark, root, dir, lo, hi)
      .where(cond).select(cols: _*)
      .repartition(1).sortWithinPartitions(if (reverse) col("t").desc else col("t"))
  }

  /** Lazy cursor over get_data results — the reference's `Datapoints`
    * wrapper: [[getData]]'s one plan, fetched by `toLocalIterator`. Its
    * one sorted partition reaches the driver in Spark's compressed
    * collected form and rows are decoded as the cursor advances, so the
    * driver holds the compressed result, not the decoded rows.
    */
  def getDataIterator(
      streamId: String,
      granularity: Granularity,
      start: Option[Timestamp] = None,
      end: Option[Timestamp] = None,
      reverse: Boolean = false): java.util.Iterator[org.apache.spark.sql.Row] =
    getData(streamId, granularity, start = start, end = end,
      reverse = reverse).toLocalIterator()

  // ---- A5–A8 tags -----------------------------------------------------

  def findStreams(queryTags: Map[String, String] = Map.empty): DataFrame = {
    queryTags.foldLeft(streams) { case (df, (k, v)) =>
      df.where(element_at(col("tags"), k) === v)
    }
  }

  /** Nested-path find_streams (SURVEY §1.2: reference tags are arbitrary
    * nested JSON documents queried by nested equality). `path` is a dotted
    * path — "meta.region" (or "$.meta.region") — traversed through the
    * canonical NESTED tag document `tags_json` (which [[Json.nested]]
    * builds from the dotted flat map, so `tags("meta.region")` and this
    * traversal always agree). Each segment goes through the bracket form
    * so segment names with metacharacters survive.
    */
  def findStreamsByJsonPath(path: String, value: String): DataFrame = {
    val p = if (path.startsWith("$.")) path.drop(2) else path
    // mirror Json.nested's key rule exactly: a path with empty segments
    // ("a..b", trailing dot) is a LITERAL top-level key, not nesting
    val segs0 = p.split("\\.", -1)
    val segs = if (segs0.isEmpty || segs0.exists(_.isEmpty)) Seq(p)
               else segs0.toSeq
    val jp = "$" + segs.map(seg =>
      s"['${seg.replace("\\", "\\\\").replace("'", "\\'")}']").mkString
    streams.where(get_json_object(col("tags_json"), jp) === value)
  }

  /** Merge a NESTED JSON tag document into a stream's tags (the
    * reference's native tag shape). Leaves merge at their dotted paths;
    * numbers/booleans coerce to their JSON text, arrays stay whole as
    * JSON-text leaves. Equivalent to updateTags with the flattened map.
    */
  def updateTagsNested(streamId: String, json: String): Unit =
    updateTags(streamId, Json.flatten(json))

  /** The canonical nested tag document of a stream. */
  def getTagsJson(streamId: String): String =
    catalog.getOrElse(streamId, throw StreamNotFound(streamId)).tags_json

  def findStreamIds(queryTags: Map[String, String]): Seq[String] =
    idsByTags(queryTags)

  def getTags(streamId: String): Map[String, String] =
    catalog.getOrElse(streamId, throw StreamNotFound(streamId)).tags

  def updateTags(streamId: String, tags: Map[String, String]): Unit = {
    val d = catalog.getOrElse(streamId, throw StreamNotFound(streamId))
    val merged = d.tags ++ tags
    putStream(d.copy(tags = merged, tags_json = Json.nested(merged)))
    markDirty(streamId)
    persistCatalog()
  }

  def removeTag(streamId: String, tag: String): Unit = {
    val d = catalog.getOrElse(streamId, throw StreamNotFound(streamId))
    val t2 = d.tags - tag
    putStream(d.copy(tags = t2, tags_json = Json.nested(t2)))
    markDirty(streamId)
    persistCatalog()
  }

  def clearTags(streamId: String): Unit = {
    val d = catalog.getOrElse(streamId, throw StreamNotFound(streamId))
    putStream(d.copy(tags = Map.empty, tags_json = "{}"))
    markDirty(streamId)
    persistCatalog()
  }

  // ---- A9 delete_streams ----------------------------------------------

  def deleteStreams(queryTags: Map[String, String] = Map.empty): Int = {
    val victims = findStreamIds(queryTags).toSet
    if (victims.isEmpty) return 0
    val dependents = catalog.values.filter(d =>
      !victims(d.stream_id) && depsOf(d).exists(victims)).map(_.stream_id).toSeq
    if (dependents.nonEmpty) throw OutstandingDependenciesError(dependents)
    val (derVictims, rawVictims) =
      victims.partition(id => catalog(id).derive_op.isDefined)
    // derived streams: drop their raw + rollup partition directories, no
    // table rewrite
    ladderMarks --= victims
    derVictims.foreach { id =>
      rmTree(streamDir(derivedRawPath, id))
      rmTree(streamDir(rollupsPath, id))
    }
    // raw streams share the primary table: rewrite it (rare admin op) —
    // scan ONLY the primary root, never the union view. Each leaf
    // publishes on its own: after a crash mid-publish the catalog still
    // lists the victims and a re-run finishes the delete
    if (rawVictims.nonEmpty && nonEmptyDir(datapointsPath)) {
      val kept = spark.read.parquet(datapointsPath)
        .where(!col("stream_id").isin(rawVictims.toSeq: _*))
      DatapointStore.replace(kept, datapointsPath)
    }
    // markDirty BEFORE the drop: shardOf needs only the id, and the
    // drop must also unindex the victims' tags
    victims.foreach(markDirty)
    dropStreams(victims)
    persistCatalog()
    victims.size
  }

  // ---- A10 downsample_streams + store maintenance ---------------------

  /** Retention: drop all datapoints (raw, rollup and derived) strictly
    * older than `before`, by removing whole ymd partition directories —
    * O(#partitions), no data rewrite. An engine-side extension (the
    * reference has no TTL); catalog time bounds are left untouched and are
    * advisory after expiry (earliest_ts may predate the retained data).
    */
  def expireData(before: Timestamp): Unit =
    expireData(Granularity.ladder.map(_ -> before).toMap)

  /** Per-granularity retention — the RRD ladder semantic the reference's
    * multi-granularity model implies: raw seconds kept briefly, each
    * coarser rollup level kept longer (often forever). `horizons` maps a
    * granularity to its cutoff; levels not named are kept whole. Same
    * O(#partitions) directory-drop shape, applied to all three roots
    * (raw, derived raw, rollups).
    */
  def expireData(horizons: Map[Granularity, Timestamp]): Unit = {
    val cutoffs = horizons.map { case (g, t) =>
      g.name -> DatapointStore.ymdKey(t)
    }
    ladderMarks.clear()
    DatapointStore.expireByGranularity(datapointsPath, cutoffs, depth = 0)
    DatapointStore.expireByGranularity(derivedRawPath, cutoffs, depth = 1)
    DatapointStore.expireByGranularity(rollupsPath, cutoffs, depth = 1)
  }

  /** Rewrite fragmented partitions (>= `minFiles` files) across all three
    * store roots to one sorted file each — the off-peak maintenance job
    * that undoes append fragmentation. Derived roots fragment too since
    * the incremental cascade: each wave APPENDS to the dirty window
    * instead of replacing the stream wholesale, one file per append.
    * Selective per-leaf rewrite: cost follows fragmentation, not store
    * size, and a crash at any point is healed by the next read
    * ([[DirSwap.heal]]).
    */
  def compactStore(minFiles: Int = 2, lenient: Boolean = false): Unit = {
    DatapointStore.compact(spark, datapointsPath,
      Seq("granularity", "ymd"), minFiles, lenient)
    Seq(derivedRawPath, rollupsPath).foreach(p => DatapointStore.compact(
      spark, p, Seq("stream_id", "granularity", "ymd"), minFiles, lenient))
  }

  /** Reference-parity overload: `until=None` means "now" (A10's default —
    * every bucket that has already closed in wall-clock time
    * materializes).
    */
  def downsampleStreams(): Option[DataFrame] =
    downsampleStreams(new Timestamp(System.currentTimeMillis()))

  /** Fold new raw datapoints into every coarser granularity for all matched
    * streams in ONE pass per store root ([[graft.operators.RollupLadder]]):
    * each stream folds only the buckets past its per-level high-water
    * marks (the reference's `downsample_state`, kept on the driver and
    * advanced by each run's fold), and one kernel job folds every level of
    * every active stream of the root, finest→coarsest per (stream, UTC
    * day), each level from the previous level's partial aggregates (SURVEY
    * §2.2 note a: c/s/q/l/u compose, m/d derive; the nested ladder means
    * completed coarse buckets are exactly unions of completed finer
    * buckets), writing as it folds. Only completed buckets (bucket end <=
    * until) are written; `returnDatapoints` returns those rows.
    */
  def downsampleStreams(until: Timestamp,
      queryTags: Map[String, String] = Map.empty,
      returnDatapoints: Boolean = false,
      filterStream: StreamDescriptor => Boolean = Datastream.AllStreams)
      : Option[DataFrame] = {
    // filterStream = the reference's filter_stream callback (A10): a
    // catalog-level predicate, evaluated on stream DESCRIPTORS (metadata
    // scale), never on datapoints
    val ids = (if (queryTags.isEmpty) catalog.keys.toSeq
               else findStreamIds(queryTags))
      .filter(id => filterStream(catalog(id)))
    if (ids.isEmpty || !datapointsExist) return None
    val hgOf = ids.map(id => id -> Granularity(catalog(id).highest_granularity)).toMap

    // ACTIVE-SET pruning (driver-only, unrestricted runs): a stream can
    // contribute a new COMPLETED bucket at level g only if
    //  (a) data was written for it since the level's last run whose
    //      bucket completes by `until` (pendingIds — appends, historical
    //      inserts, cascade rewrites that dropped rollups), or
    //  (b) its data extent (catalog latest_ts / derived coverage marker)
    //      reaches into a completed bucket beyond the level's frontier.
    // Everything else is a guaranteed-empty newBuckets filter, so it is
    // pruned from the level's fold scans and the HWM scan outright — at
    // 10⁶ streams with 10² appending, per-batch ladder work follows the
    // ACTIVE set; a level with no active streams skips entirely.
    // Restricted runs (tags / filter_stream) never consult or advance
    // the frontier: it describes whole-store coverage only.
    val unrestricted = queryTags.isEmpty && (filterStream eq Datastream.AllStreams)
    val untilSec = Math.floorDiv(until.getTime, 1000L)
    def activeAt(g: Granularity): Seq[String] = {
      val base = ids.filter(id => hgOf(id).seconds < g.seconds)
      if (!unrestricted) return base
      ladderFrontier.get(g.name) match {
        case None => base // no coverage knowledge for this level yet
        case Some(f) =>
          // a pending write counts once ITS earliest bucket completes
          // (per-stream gate — the pending map survives runs that leave a
          // stream's tail bucket open, see the post-run retention below)
          val pend = ladderPending.getOrElse(g.name, Map.empty)
          base.filter { id =>
            pend.get(id).exists(lo =>
              Math.floorDiv(lo, g.seconds) * g.seconds + g.seconds <= untilSec) ||
            extentSec(id).exists { e =>
              // end of the last bucket that both holds data and completes
              // by `until`; beyond the frontier ⇒ not yet materialized
              (math.min(Math.floorDiv(e, g.seconds),
                Math.floorDiv(untilSec, g.seconds) - 1) + 1) * g.seconds > f
            }
          }
      }
    }
    val needsAt: Map[String, Seq[String]] =
      Granularity.ladder.drop(1).map(g => g.name -> activeAt(g)).toMap
    val levels = Granularity.ladder.drop(1).filter(g => needsAt(g.name).nonEmpty)
    if (levels.isEmpty) return None

    // per stream: which levels this run folds. One fold-and-write job per
    // store root: source streams' rollups land in the primary root,
    // derived streams' in the rollups root (so a later recompute never
    // touches the primary table).
    val needSets = levels.map(g => g -> needsAt(g.name).toSet)
    val scanIds = levels.flatMap(g => needsAt(g.name)).distinct
    val (derivedIds, sourceIds) = scanIds.partition(catalog(_).derive_op.isDefined)
    val out = try Seq(sourceIds -> false, derivedIds -> true).collect {
      case (rootIds, byStream) if rootIds.nonEmpty =>
        // the root is resolved ONCE, over the active streams only: a cold
        // mark scan and the fold share this one file listing, so a
        // derived root lists at most once per run, and only the active
        // derived streams' directories
        val store = scanDirs(streamDirs(rootIds))
        // AQE OFF: statically planned, the mark scan's aggregate and the
        // fold's exchange + write are ONE job each (AQE runs every
        // shuffle stage as its own job); the fold's exchange names its
        // width and puts every output leaf in one task, so the write
        // needs no AQE coalescing.
        // SCOPE CAVEAT: spark.conf is session-global, so any query PLANNED
        // on this SparkSession while the ladder runs inherits AQE-off and
        // the shrunken shuffle width. That is inside this store's contract
        // — the owning application runs ingest/downsample synchronously
        // (the one-owner model every mutation path here assumes) — but a
        // deployment sharing the session with ad-hoc readers should run
        // ladders on a cloned session (SparkSession.cloneSession gives a
        // separate conf over the same shared state) if concurrent
        // planning matters.
        staticNarrow {
          loadMarks(store, rootIds)
          val plans = rootIds.map { id =>
            val thr = Array.fill(Granularity.ladder.size)(RollupLadder.Skip)
            val mark = ladderMarks(id)
            needSets.foreach { case (g, need) =>
              // only buckets past what is on disk: high-water bucket + g
              if (need(id)) thr(g.level) =
                if (mark(g.level) == RollupLadder.NoMark) Long.MinValue
                else mark(g.level) + g.seconds
            }
            id -> RollupLadder.StreamPlan(
              catalog(id).value_type == ValueType.Numeric, hgOf(id).level, thr)
          }.toMap
          val path = if (byStream) rollupsPath else datapointsPath
          val f = RollupLadder.fold(store, plans, untilSec,
            spark.sparkContext.defaultParallelism, byStream)
          // the fold runs inside the write; only a caller that wants the
          // rows back pays for a checkpoint (localCheckpoint, NOT persist:
          // caching under AQE materializes as extra jobs/tasks per
          // consumer, measured r2/r7), whose partitions the write reuses
          val kept =
            if (!returnDatapoints) {
              Meter.tagged(spark.sparkContext, "ladder:fold") {
                DatapointStore.appendLeaves(f.rows, path, byStream)
              }
              None
            } else {
              val cp = Meter.tagged(spark.sparkContext, "ladder:fold") {
                f.rows.localCheckpoint(true)
              }
              Meter.tagged(spark.sparkContext, "ladder:write") {
                DatapointStore.appendLeaves(cp, path, byStream)
              }
              Some(cp)
            }
          // this root's rollups are on disk: its streams' marks advance
          f.marks.value.foreach { case (id, emitted) =>
            val mark = ladderMarks(id)
            emitted.indices.foreach(k => mark(k) = math.max(mark(k), emitted(k)))
          }
          kept
        }
    }.flatten catch {
      // a failed run may have written part of its rollups: its streams'
      // marks are rescanned by the next run
      case e: Throwable => ladderMarks --= scanIds; throw e
    }

    if (unrestricted) levels.foreach { g =>
      // frontier: every bucket ending <= until is now materialized (or
      // provably empty) — advanced only after every root's write succeeded
      ladderFrontier(g.name) = math.max(
        ladderFrontier.getOrElse(g.name, Long.MinValue),
        Math.floorDiv(untilSec, g.seconds) * g.seconds)
      // pending retention: a stream whose data reaches into the bucket
      // still OPEN at this until keeps its entry (advanced to the open
      // bucket's start) — with a frontier parked AHEAD of event time
      // (a wall-clock `downsampleStreams()` on a past-data store), the
      // extent check can't re-discover it, so dropping it here would
      // strand that final bucket forever once it completes
      val openStart = Math.floorDiv(untilSec, g.seconds) * g.seconds
      ladderPending(g.name) = ladderPending.getOrElse(g.name, Map.empty)
        .flatMap { case (id, lo) =>
          if (!catalog.contains(id)) None
          else if (extentSec(id).exists(_ >= openStart))
            Some(id -> math.max(lo, openStart))
          else None
        }
      ()
    }
    out.reduceOption(_.unionByName(_)).map(DatapointStore.normalize)
  }

  /** Fill the high-water marks of `rootIds` (streams of ONE store root,
    * whose scan is `store`) that have none: ONE scan over those streams,
    * every rollup level at once (granularity is a partition column), the
    * max bucket per (stream, level) — run after an open and after a
    * delete dropped a stream's marks, never per level. Levels with no
    * directory on disk cost a probe, not a job; none at all, no job.
    */
  private def loadMarks(store: DataFrame, rootIds: Seq[String]): Unit = {
    val cold = rootIds.filterNot(ladderMarks.contains)
    if (cold.isEmpty) return
    val scannable = Granularity.ladder.drop(1).map(_.name).filter(granularityExists)
    cold.foreach(id => ladderMarks(id) =
      Array.fill(Granularity.ladder.size)(RollupLadder.NoMark))
    if (scannable.nonEmpty) Meter.tagged(spark.sparkContext, "ladder:hwm-scan") {
      filterToStreams(store.where(col("granularity").isin(scannable: _*)), cold)
        .groupBy("stream_id", "granularity").agg(max("t").as("hwm"))
        .collect().foreach { r =>
          val (id, g) = (r.getString(0), Granularity(r.getString(1)))
          // a stream's own raw level is not a mark (a minutes stream's raw
          // rows share granularity=minutes with other streams' rollups)
          if (g.level > Granularity(catalog(id).highest_granularity).level)
            ladderMarks(id)(g.level) = Math.floorDiv(r.getTimestamp(2).getTime, 1000L)
        }
    }
  }

  /** The high-water marks in memory: stream id -> (level -> latest
    * rollup bucket start, epoch sec), for every stream that has them. */
  private[graft] def ladderMarksSnapshot: Map[String, Map[String, Long]] =
    ladderMarks.iterator.map { case (id, m) => id -> Granularity.ladder
      .collect { case g if m(g.level) != RollupLadder.NoMark => g.name -> m(g.level) }
      .toMap }.toMap

  private def noteDataWritten(loSec: Long, ids: Iterable[String]): Unit =
    Granularity.ladder.drop(1).foreach { g =>
      val cur = ladderPending.getOrElse(g.name, Map.empty)
      ladderPending(g.name) = cur ++ ids.map(id =>
        id -> math.min(cur.getOrElse(id, Long.MaxValue), loSec))
    }

  /** A stream's data extent in epoch seconds: catalog latest_ts for raw
    * streams, the (cached) coverage marker for derived ones. None = no
    * data known.
    */
  private def extentSec(id: String): Option[Long] = {
    val d = catalog(id)
    if (d.derive_op.isDefined)
      derivedExtentCache.getOrElseUpdate(id,
        readCoverage(id).map(t => Math.floorDiv(t.getTime, 1000L)))
    else d.latest_ts.map(t => Math.floorDiv(t.getTime, 1000L))
  }

  // ---- A11 backprocess + derive ---------------------------------------

  /** All streams a derived stream reads: its sources plus an optional
    * reset stream named in derive_args (V4) — the reference treats the
    * reset stream as a named derive source too.
    */
  private def depsOf(d: StreamDescriptor): Seq[String] =
    d.derive_from ++ d.derive_args.flatMap(Json.strField(_, "reset_stream"))

  /** Derived streams in dependency order (sources before dependents). */
  private def derivedInOrder(ids: Set[String]): Seq[StreamDescriptor] = {
    val derived = catalog.values.filter(_.derive_op.isDefined).toSeq
    // transitive closure: a derived stream is affected if any dep is in
    // `ids` or is itself an affected derived stream
    var affected = derived.filter(d =>
      depsOf(d).exists(ids) || ids(d.stream_id)).toList
    var grew = true
    while (grew) {
      val cur = affected.map(_.stream_id).toSet
      val more = derived.filter(d => !cur(d.stream_id) && depsOf(d).exists(cur))
      grew = more.nonEmpty
      affected = affected ++ more
    }
    // topological: repeatedly take streams whose deps are not pending
    var pending = affected
    var done = List.empty[StreamDescriptor]
    var changed = true
    while (pending.nonEmpty && changed) {
      changed = false
      val (ready, rest) = pending.partition(d =>
        !depsOf(d).exists(src => pending.exists(_.stream_id == src)))
      if (ready.nonEmpty) { done = done ++ ready; changed = true }
      pending = rest
    }
    done
  }

  /** The day-aligned region of a stream's datapoints that an append (or a
    * cascaded derived rewrite) changed: `[loTs, end-of-hiKey]`, with
    * `hiKey=None` meaning "changed through the end of the stream".
    * `extentBefore` is the stream's data extent (last datapoint t, or
    * derive-coverage watermark for derived streams) BEFORE the change —
    * the staleness check and the exact lookback-partition key need it.
    */
  private case class Region(loTs: Timestamp, hiKey: Option[String],
      extentBefore: Option[Timestamp])

  private def dayStart(t: Timestamp): Timestamp =
    new Timestamp(Math.max(
      Math.floorDiv(Math.floorDiv(t.getTime, 1000L), 86400L), 0L) * 86400000L)

  /** Recompute derived streams whose sources include any of `ids`
    * (transitively), INCREMENTALLY where possible (SURVEY §3 E1: the
    * reference applies derive operators per append, not per full history).
    *
    * All four derive ops are lag-local — an output point depends on at
    * most its immediate predecessor (plus reset events since it) — so an
    * append changing `[lo, hi]` of a source can only change derived
    * outputs at t >= lo. The incremental path therefore rewrites only the
    * derived stream's ymd partitions from day(lo) onward (day-exact for
    * the bucket-local `sum`), reading one day of lookback instead of the
    * full source history: per-batch derive cost is O(appended window), not
    * O(history) — the property that keeps steady-state streaming ingest
    * flat as history grows. Any precondition miss (first materialization,
    * missed-coverage crash gap, unbounded lookback) falls back to the
    * idempotent full recompute, which is also what backprocess_streams
    * always does.
    */
  private def deriveDependents(ids: Set[String],
      regions0: Map[String, Region]): Unit = {
    val regions = scala.collection.mutable.Map.empty[String, Region] ++ regions0
    var changed = ids
    val order = derivedInOrder(ids).filterNot(d => ids(d.stream_id))
    deriveWaves(order).foreach { wave =>
      processWave(wave, regions, changed, forceFull = false)
      changed ++= wave.map(_.stream_id)
    }
  }

  /** Topological WAVES of the affected derive DAG: wave k streams depend
    * only on waves < k (or unchanged streams), so one wave's recomputes
    * are mutually independent and batch into a constant number of Spark
    * jobs — per-append derive work is O(waves × ops), NEVER a job per
    * derived stream (the driver-bottleneck that would break a
    * million-stream store).
    */
  private def deriveWaves(order: Seq[StreamDescriptor]): Seq[Seq[StreamDescriptor]] = {
    val affected = order.map(_.stream_id).toSet
    var waveOf = Map.empty[String, Int]
    order.foreach { d =>
      val dw = depsOf(d).filter(affected).flatMap(waveOf.get)
      waveOf += d.stream_id -> (if (dw.isEmpty) 0 else dw.max + 1)
    }
    order.groupBy(d => waveOf(d.stream_id)).toSeq.sortBy(_._1).map(_._2)
  }

  /** A dependency's data extent: last datapoint timestamp for raw streams
    * (catalog), derive-coverage watermark for derived ones (marker file).
    */
  private def depExtent(id: String): Option[Timestamp] = {
    val d = catalog(id)
    if (d.derive_op.isDefined) readCoverage(id) else d.latest_ts
  }

  /** Coverage watermark a successful recompute would establish NOW: the
    * max extent over this stream's dependencies (sources recompute before
    * dependents in topological order, so their markers are fresh).
    */
  private def coverageNow(d: StreamDescriptor): Option[Timestamp] =
    depsOf(d).flatMap(depExtent).reduceOption((a, b) => if (a.after(b)) a else b)

  /** Derive-coverage marker: "this derived stream incorporates all source
    * data with t <= marker". Written (data first, marker second) after
    * every successful recompute; a crash between an append's store write
    * and its derive leaves the marker behind the sources' extent, which
    * the next append detects and heals with a full recompute. Stored as a
    * file beside the stream's partitions, not in the catalog, so catalog
    * crash-ordering never has to reason about it.
    */
  private def coverageFile(id: String) =
    s"${streamDir(derivedRawPath, id)}/_graft_coverage"

  /** In-progress sentinel for an INCREMENTAL rewrite: set before the
    * partition deletes, cleared only after the write and coverage marker
    * land. A crash inside that window leaves a mid-range hole that the
    * coverage/extent staleness check cannot see (the triggering append
    * may not have advanced any extent — e.g. an equal-timestamp or
    * historical insert), so a surviving sentinel forces the next derive
    * of this stream down the self-healing full recompute.
    */
  private def dirtyFile(id: String) =
    s"${streamDir(derivedRawPath, id)}/_graft_dirty"

  private def readCoverage(id: String): Option[Timestamp] = {
    val f = hPath(coverageFile(id))
    if (!dfs.exists(f)) None
    else scala.util.Try {
      val in = dfs.open(f)
      val txt = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        new String(out.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      new Timestamp(txt.trim.toLong * 1000L)
    }.toOption
  }

  private def writeCoverage(id: String, cw: Option[Timestamp]): Unit =
    cw.foreach { t =>
      val f = hPath(coverageFile(id))
      dfs.mkdirs(f.getParent)
      val tmp = hPath(coverageFile(id) + ".tmp")
      val out = dfs.create(tmp, true)
      try out.write((t.getTime / 1000L).toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // delete-then-rename (FileSystem.rename will not overwrite): a
      // crash in the window leaves NO marker, which the eligibility
      // check reads as "not incrementally coverable" — full-recompute
      // self-heal, the documented safe fallback
      dfs.delete(f, false)
      if (!dfs.rename(tmp, f))
        throw new java.io.IOException(s"cannot publish coverage marker $f")
      derivedExtentCache(id) = Some(Math.floorDiv(t.getTime, 1000L))
    }

  /** Drop a derived stream's (granularity, ymd) partition directories with
    * `fromKey <= ymd <= toKey` under `root` — pure directory removal,
    * O(#partitions of one stream).
    */
  private def deleteDerivedYmds(root: String, id: String,
      fromKey: String, toKey: Option[String]): Unit = {
    hList(streamDir(root, id))
      .withFilter(_.isDirectory).foreach { gdir =>
        dfs.listStatus(gdir.getPath)
          .withFilter(f => f.isDirectory &&
            f.getPath.getName.startsWith("ymd="))
          .foreach { ydir =>
            val k = ydir.getPath.getName.stripPrefix("ymd=")
            if (k >= fromKey && toKey.forall(k <= _))
              rmTree(ydir.getPath.toString)
          }
      }
  }

  /** Max backward partition-days one lookback scan may cover before the
    * incremental path gives up (unbounded source gap → full recompute).
    */
  private val lookbackDays = 40L

  private val lbSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("stream_id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("t",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.DoubleType)))

  /** Driver-only incremental-eligibility check for one derived stream:
    * Some((windowStart, sumHiKey, oldCoverage)) when the bounded rewrite
    * is allowed, None → full recompute. Preconditions: every changed dep
    * carries a Region, the stream was materialized before (coverage
    * marker exists), and no dependency extends past our coverage (a crash
    * skipped a derive — incremental would freeze that gap stale).
    */
  private def incEligibility(d: StreamDescriptor, changedDeps: Seq[String],
      regions: Map[String, Region]): Option[(Timestamp, Option[String], Timestamp)] = {
    if (changedDeps.isEmpty || !changedDeps.forall(regions.contains)) return None
    if (!nonEmptyDir(streamDir(derivedRawPath, d.stream_id))) return None
    if (dfs.exists(hPath(dirtyFile(d.stream_id)))) return None // crashed mid-rewrite
    val cw = readCoverage(d.stream_id) match {
      case Some(t) => t
      case None => return None // pre-marker store or never derived: full
    }
    val stale = depsOf(d).distinct.exists { x =>
      regions.get(x).map(_.extentBefore).getOrElse(depExtent(x))
        .exists(_.after(cw))
    }
    if (stale) return None
    val w = dayStart(changedDeps.map(x => regions(x).loTs).minBy(_.getTime))
    // pre-epoch rows share the clamped ymd day 0 — the day partition no
    // longer bounds their timestamps, so neither the lag-op lookback NOR
    // the sum's day-local rewrite (whose t >= w filter would silently
    // drop t < 0 rows after deleting their partition) is sound: full
    if (DatapointStore.ymdKey(w).toLong == 0L) return None
    val hiKey = if (d.derive_op.get == DeriveOps.Sum) {
      val his = changedDeps.map(x => regions(x).hiKey)
      if (his.forall(_.isDefined)) Some(his.flatten.max) else None
    } else None
    Some((w, hiKey, cw))
  }

  /** One unique lookback need: the last datapoint rows of `srcId`
    * strictly before `w`. `loKey`/`hiKey` bound the partition scan;
    * `giveUpIfEmpty` marks the bounded backward search whose emptiness
    * proves nothing (data older than the window) → full recompute.
    */
  private case class LbSpec(srcId: String, gname: String, w: Timestamp,
      loKey: String, hiKey: String, giveUpIfEmpty: Boolean)

  /** Resolve the (srcId, w) lookbacks of a wave in ONE batched scan per
    * distinct (loKey, hiKey, w) partition window (steady state: one scan
    * for the whole wave, one pruned day). Returns rows keyed by source
    * id, or None for give-ups.
    */
  private def batchedLookbacks(needs: Seq[(String, Timestamp, Option[Timestamp])])
      : Map[(String, Timestamp), Option[Array[org.apache.spark.sql.Row]]] = {
    val resolved = scala.collection.mutable.Map
      .empty[(String, Timestamp), Option[Array[org.apache.spark.sql.Row]]]
    val specs = scala.collection.mutable.ArrayBuffer.empty[LbSpec]
    needs.distinct.foreach { case (srcId, w, prevLatest) =>
      val sd = catalog(srcId)
      val wKey = DatapointStore.ymdKey(w)
      val hg = sd.highest_granularity
      if (sd.derive_op.isDefined) {
        // derived roots partition by stream_id first: the last pre-w day
        // is an exact driver-side directory listing, no probing
        val keys = hList(dirOf(srcId, hg)._2)
          .filter(f => f.isDirectory && f.getPath.getName.startsWith("ymd="))
          .map(_.getPath.getName.stripPrefix("ymd=")).filter(_ < wKey)
        if (keys.isEmpty) resolved((srcId, w)) = Some(Array.empty)
        else specs += LbSpec(srcId, hg, w, keys.max, keys.max, giveUpIfEmpty = false)
      } else sd.earliest_ts match {
        case None => resolved((srcId, w)) = Some(Array.empty)
        case Some(e) if !e.before(w) => resolved((srcId, w)) = Some(Array.empty)
        case Some(e) =>
          prevLatest match {
            case Some(pl) if pl.before(w) =>
              // steady tail append: the stream's last point IS at t ==
              // prevLatest (stored timestamps are floored like the
              // catalog bound), so exactly one ymd partition holds it
              val k = DatapointStore.ymdKey(pl)
              specs += LbSpec(srcId, hg, w, k, k, giveUpIfEmpty = false)
            case _ =>
              // same-day re-append or historical insert: the last pre-w
              // point's day is unknown — bounded backward window, then
              // give up unless the window provably covers the stream
              val eDay = DatapointStore.ymdKey(e).toLong
              val loDay = math.max(wKey.toLong - lookbackDays, eDay)
              specs += LbSpec(srcId, hg, w, f"$loDay%09d",
                f"${wKey.toLong - 1}%09d",
                giveUpIfEmpty = eDay < wKey.toLong - lookbackDays)
          }
      }
    }
    if (specs.nonEmpty) {
      import spark.implicits._
      // ONE scan + one (stream, w) window resolves EVERY spec (r10): the
      // per-spec day ranges ride in as a broadcast frame, so job count is
      // constant in the number of distinct (loKey, hiKey, w) groups —
      // the per-group loop cost ~4 jobs per distinct day-window (8 of
      // the 20 append jobs on the ingest profile's historical batch).
      // The outer ymd range is the union of the per-spec ranges (prunes
      // partitions); the join re-applies each spec's exact bounds. All
      // max-t rows per (src, w) are kept — duplicate floored timestamps
      // must all feed the recompute exactly as a full scan would.
      val specDf = broadcast(specs.toSeq
        .map(sp => (sp.srcId, sp.gname, sp.loKey, sp.hiKey, sp.w))
        .toDF("__src", "__g", "__lo", "__hi", "__w"))
      val rows = scanDirs(specs.toSeq.map(sp => dirOf(sp.srcId, sp.gname)))
        .where(col("ymd") >= specs.map(_.loKey).min &&
               col("ymd") <= specs.map(_.hiKey).max)
        .join(specDf, col("stream_id") === col("__src") &&
          col("granularity") === col("__g") &&
          col("ymd") >= col("__lo") && col("ymd") <= col("__hi") &&
          col("t") < col("__w"))
        .select(col("stream_id"), col("t"), col("v_num").as("v"), col("__w"))
        .withColumn("__mx",
          max("t").over(Window.partitionBy("stream_id", "__w")))
        .where(col("t") === col("__mx"))
        .collect()
      val byKey = rows.groupBy(r => (r.getString(0), r.getTimestamp(3)))
      specs.foreach { sp =>
        val got = byKey.getOrElse((sp.srcId, sp.w), Array.empty[org.apache.spark.sql.Row])
          .map(r => org.apache.spark.sql.Row(r.getString(0), r.getTimestamp(1), r.get(2)))
        resolved((sp.srcId, sp.w)) =
          if (got.isEmpty && sp.giveUpIfEmpty) None else Some(got)
      }
    }
    resolved.toMap
  }

  /** Recompute one WAVE of mutually independent derived streams with a
    * CONSTANT number of Spark jobs: streams group by operator, inputs
    * re-key to their output stream id through one broadcast (src → out)
    * mapping join, the per-stream window/bucket logic runs keyed by that
    * id (the ops already partition by stream_id), and ONE partitioned
    * write lands the whole group. Incremental and full streams share the
    * jobs — a null per-pair window means "all history". Per-stream work
    * (partition deletes, coverage markers, region bookkeeping) stays
    * driver-side and O(#streams) cheap.
    */
  private def processWave(wave: Seq[StreamDescriptor],
      regions: scala.collection.mutable.Map[String, Region],
      changed: Set[String], forceFull: Boolean): Unit = {
    import spark.implicits._
    if (wave.isEmpty) return
    // classify (driver-only), then resolve lag-op lookbacks batched
    val elig = wave.map { d =>
      d -> (if (forceFull) None
            else incEligibility(d, depsOf(d).distinct.filter(changed), regions.toMap))
    }.toMap
    val lagNeeds = elig.collect {
      case (d, Some((w, _, _))) if d.derive_op.get != DeriveOps.Sum =>
        val srcId = d.derive_from.head
        (srcId, w, regions.get(srcId).map(_.extentBefore)
          .getOrElse(catalog(srcId).latest_ts))
    }.toSeq
    val lookups = Meter.tagged(spark.sparkContext, "cascade:lookback") {
      batchedLookbacks(lagNeeds)
    }
    Meter.tagged(spark.sparkContext, "cascade:wave") {
      // final plan per stream: Some((w, hiKey, cw, lookbackRows)) or None=full
      val plan: Map[String, Option[(Timestamp, Option[String], Timestamp,
          Array[org.apache.spark.sql.Row])]] =
        elig.map { case (d, e) =>
          d.stream_id -> e.flatMap { case (w, hiKey, cw) =>
            if (d.derive_op.get == DeriveOps.Sum)
              Some((w, hiKey, cw, Array.empty[org.apache.spark.sql.Row]))
            else lookups((d.derive_from.head, w)) match {
              case Some(rows) => Some((w, hiKey, cw, rows))
              case None => None // unbounded lookback: full recompute
            }
          }
        }

      def gsecOf(d: StreamDescriptor) = Granularity(d.highest_granularity).seconds
      def gnameOf(d: StreamDescriptor) = d.highest_granularity

      // per-op batched job over this wave (inc + full unified; per-pair
      // null window = full history)
      def runGroup(group: Seq[StreamDescriptor]): Unit = {
        if (group.isEmpty) return
        val op = group.head.derive_op.get
        val anyFull = group.exists(d => plan(d.stream_id).isEmpty)
        val minW = group.flatMap(d => plan(d.stream_id)).map(_._1)
          .sortBy(_.getTime).headOption.filter(_ => !anyFull)
        // (src, srcGranularity, out, wOrNull, loKeyOrNull, hiKeyOrNull):
        // exact (stream, granularity) pair match — a source's ROLLUP rows
        // at another source's finer granularity can never leak in
        val pairs = group.flatMap { d =>
          val p = plan(d.stream_id)
          // distinct: a source listed twice in derive_from must still feed
          // its rows ONCE (the old isin() scan had set semantics; a pair
          // join would double-count every point into a sum)
          d.derive_from.distinct.map { src =>
            (src, catalog(src).highest_granularity, d.stream_id,
              p.map(_._1).orNull,
              p.map(x => DatapointStore.ymdKey(x._1)).orNull,
              p.flatMap(_._2).orNull)
          }
        }
        val pairsDf = broadcast(pairs.toDF(
          "__src", "__gname", "__out", "__w", "__lo", "__hi"))
        // only the directories holding the sources' rows at their highest
        // granularity: source-stream sources never list a derived root
        val base = filterToStreams(
          scanDirs(pairs.map(p => dirOf(p._1, p._2))), pairs.map(_._1).distinct)
        val pruned = minW.fold(base)(w =>
          base.where(col("ymd") >= DatapointStore.ymdKey(w) && col("t") >= w))
        val joined = pruned
          .join(pairsDf, col("stream_id") === col("__src") &&
            col("granularity") === col("__gname"))
        val input = (op match {
          case DeriveOps.Sum =>
            // per-out day-range filter (sum is bucket-local)
            joined.where(col("__lo").isNull ||
              (col("ymd") >= col("__lo") &&
                (col("__hi").isNull || col("ymd") <= col("__hi"))))
          case _ =>
            joined.where(col("__w").isNull || col("t") >= col("__w"))
        }).select(col("__out").as("stream_id"), col("t"),
          col("v_num").as("v"))

        // collected lookback points, re-keyed to their OUTPUT stream
        val lbRows = group.flatMap { d =>
          plan(d.stream_id).toSeq.flatMap(_._4.toSeq).map(r =>
            org.apache.spark.sql.Row(d.stream_id, r.getTimestamp(1), r.get(2)))
        }
        val withLb =
          if (lbRows.isEmpty) input
          else input.unionByName(spark.createDataFrame(
            spark.sparkContext.parallelize(lbRows, 1), lbSchema))

        val res = op match {
          case DeriveOps.Sum =>
            val gMetaSum = broadcast(group.map(d =>
              (d.stream_id, gsecOf(d))).toDF("stream_id", "gsec"))
            Derive.streamSumKeyed(withLb.join(gMetaSum, "stream_id"))
          case DeriveOps.Derivative => Derive.derivative(withLb)
          case DeriveOps.CounterReset => Derive.counterReset(withLb)
          case DeriveOps.CounterDerivative =>
            val maxDf = group.map(d => (d.stream_id,
              d.derive_args.flatMap(Json.numField(_, "max_value"))
                .map(Double.box).orNull.asInstanceOf[java.lang.Double]))
              .toDF("stream_id", "max_value")
            // reset events re-key straight to the OUTPUT stream so they
            // land in the window partition they must suppress; incremental
            // streams only need resets at/after their lookback point
            val resetPairs = group.flatMap { d =>
              d.derive_args.flatMap(Json.strField(_, "reset_stream")).map { rid =>
                val from = plan(d.stream_id).map { p =>
                  p._4.headOption.map(_.getTimestamp(1)).getOrElse(p._1)
                }
                (rid, catalog(rid).highest_granularity, d.stream_id,
                  from.orNull)
              }
            }
            val reset = if (resetPairs.isEmpty) None else {
              val rDf = broadcast(resetPairs.toDF(
                "__src", "__gname", "__out", "__from"))
              val rBase = filterToStreams(
                scanDirs(resetPairs.map(p => dirOf(p._1, p._2))),
                resetPairs.map(_._1).distinct)
              val rMin = resetPairs.flatMap(p => Option(p._4))
                .sortBy(_.getTime).headOption
                .filter(_ => resetPairs.forall(_._4 != null))
              Some(rMin.fold(rBase)(f =>
                  rBase.where(col("ymd") >= DatapointStore.ymdKey(f)))
                .join(rDf, col("stream_id") === col("__src") &&
                  col("granularity") === col("__gname"))
                .where(col("__from").isNull || col("t") >= col("__from"))
                .select(col("__out").as("stream_id"), col("t")))
            }
            Derive.counterDerivativePerStream(withLb, maxDf, reset)
        }

        // round to each stream's granularity; drop anything before its
        // rewrite window (lookback-internal pairs never emit anyway)
        val gMeta = broadcast(group.map(d => (d.stream_id, gsecOf(d),
            gnameOf(d), plan(d.stream_id).map(_._1).orNull))
          .toDF("stream_id", "__gsec", "__gn", "__w0"))
        val result = res.join(gMeta, "stream_id")
          .withColumn("t", timestamp_seconds(
            floor(unix_timestamp(col("t")) / col("__gsec")) * col("__gsec")))
          .where(col("__w0").isNull || col("t") >= col("__w0"))
          .select(col("stream_id"), col("__gn").as("granularity"),
            col("t"), col("v").cast("double").as("v_num"))

        // per-stream deletions BEFORE the one write action runs (inputs
        // read only earlier-wave/unchanged streams, never this group)
        group.foreach { d =>
          plan(d.stream_id) match {
            case Some((w, hiKey, _, _)) =>
              // dirty sentinel FIRST: a crash between these deletes and the
              // group write below must not read as a consistent store
              dfs.create(hPath(dirtyFile(d.stream_id)), true).close()
              val wKey = DatapointStore.ymdKey(w)
              deleteDerivedYmds(derivedRawPath, d.stream_id, wKey, hiKey)
              // rollups: always from wKey onward — the downsample ladder's
              // high-water mark never refills a finite mid-range hole
              ladderMarks -= d.stream_id
              deleteDerivedYmds(rollupsPath, d.stream_id, wKey, None)
            case None =>
              // full mode gets the sentinel too: a missing coverage marker
              // forces a full recompute only at the NEXT derive trigger —
              // a crash between these deletes and the group write would
              // serve the emptied stream to every read until then (forever,
              // for a source that never appends again). The sentinel makes
              // healDirtyStreams repair it at the next open instead — and it
              // must land BEFORE the deletes (the sentinel lives inside the
              // stream dir, so delete siblings around it rather than
              // rmTree-then-create, which leaves a sentinel-less window for
              // the whole O(#partitions) delete).
              val dirty = hPath(dirtyFile(d.stream_id))
              dfs.mkdirs(dirty.getParent)
              dfs.create(dirty, true).close()
              dfs.listStatus(dirty.getParent)
                .filterNot(_.getPath.getName == dirty.getName)
                .foreach(f => rmTree(f.getPath.toString))
              ladderMarks -= d.stream_id
              rmTree(streamDir(rollupsPath, d.stream_id))
          }
        }
        DatapointStore.appendByStream(result, derivedRawPath)
        // markers last: a crash before this re-runs as full recompute
        group.foreach(d => writeCoverage(d.stream_id, coverageNow(d)))
        group.foreach(d =>
          dfs.delete(hPath(dirtyFile(d.stream_id)), false))
        group.foreach { d =>
          plan(d.stream_id) match {
            case Some((w, hiKey, cw, _)) =>
              regions(d.stream_id) = Region(w, hiKey, Some(cw))
              // the rewrite dropped this stream's rollups from w onward —
              // the next ladder run must revisit every level whose buckets
              // from w complete, even if `until` crosses no new boundary
              noteDataWritten(Math.floorDiv(w.getTime, 1000L), Seq(d.stream_id))
            case None =>
              regions.remove(d.stream_id)
              // full rewrite: all history is "new"
              noteDataWritten(0L, Seq(d.stream_id))
          }
        }
      }

      DeriveOps.all.foreach(op =>
        runGroup(wave.filter(_.derive_op.contains(op))))
    }
  }

  def backprocessStreams(queryTags: Map[String, String] = Map.empty): Unit = {
    val ids = (if (queryTags.isEmpty) catalog.keys.toSeq
               else findStreamIds(queryTags)).toSet
    recomputeFully(derivedInOrder(ids))
  }

  /** Open-time crash recovery: full-recompute every derived stream with a
    * surviving dirty sentinel, plus its transitive dependents (their last
    * derive may have read the now-holed data or never run at all).
    */
  private def healDirtyStreams(): Unit = {
    val dirty = hList(derivedRawPath)
      .filter(d => d.isDirectory &&
        dfs.exists(new org.apache.hadoop.fs.Path(d.getPath, "_graft_dirty")))
      .map(_.getPath.getName.stripPrefix("stream_id=")).toSet
      .filter(catalog.contains(_))
    if (dirty.nonEmpty) recomputeFully(derivedInOrder(dirty))
  }

  /** Full (idempotent) recompute of the given derived streams, batched by
    * topological wave — the backprocess semantics and every fallback's
    * target.
    */
  private def recomputeFully(order: Seq[StreamDescriptor]): Unit = {
    val regions = scala.collection.mutable.Map.empty[String, Region]
    deriveWaves(order).foreach(wave =>
      processWave(wave, regions, Set.empty, forceFull = true))
  }
}

object Datastream {
  /** Default A10 `filter_stream` — a SHARED instance so the rollup ladder
    * can recognize an unrestricted run (`filterStream eq AllStreams`) for
    * its level-skip frontier; an inline `_ => true` default would allocate
    * per call and defeat the identity check.
    */
  val AllStreams: StreamDescriptor => Boolean = _ => true

  /** What an append actually did: `written` = rows landed in the store
    * (0 for a fully-deduped re-delivery — the streaming ingest loop skips
    * the rollup ladder on that), `maxT` = the batch's max timestamp
    * floored to each stream's highest granularity (equivalent to the raw
    * max for bucket-completeness checks, since stored rows are floored
    * the same way) — saves the ingest loop a per-batch max(t) job.
    */
  case class AppendResult(written: Long, maxT: Option[Timestamp])
}

/** Minimal canonical-JSON helpers. Tag documents live in TWO synchronized
  * shapes: a flat dotted-path map (`tags`, the fast equality-query form)
  * and the canonical NESTED document (`tags_json`, built by [[nested]],
  * keys sorted at every level) that json-path queries traverse. A dotted
  * flat key IS nesting: "meta.region" -> {"meta": {"region": ...}}.
  */
object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def toJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ", ", "}")

  /** Canonical nested JSON document from a flat dotted-path map: keys
    * split on '.', sorted at every level. A key that is both a value and
    * a parent ("a" and "a.b") has no nested representation — raises
    * [[InvalidOperatorArguments]] rather than silently dropping one. Keys
    * with empty segments ("a..b", trailing dot) stay literal leaves.
    */
  def nested(m: Map[String, String]): String = {
    import scala.collection.mutable
    val root = mutable.TreeMap.empty[String, Any] // String leaf | TreeMap obj
    def insert(obj: mutable.TreeMap[String, Any], segs: List[String],
        full: String, v: String): Unit = segs match {
      case last :: Nil => obj.get(last) match {
        case Some(_: mutable.TreeMap[_, _]) =>
          throw InvalidOperatorArguments(
            s"tag nesting conflict: '$full' is both a value and a parent")
        case _ => obj.update(last, v)
      }
      case head :: rest => obj.get(head) match {
        case Some(child: mutable.TreeMap[String @unchecked, Any @unchecked]) =>
          insert(child, rest, full, v)
        case Some(_) =>
          throw InvalidOperatorArguments(
            s"tag nesting conflict: a prefix of '$full' is already a value")
        case None =>
          val child = mutable.TreeMap.empty[String, Any]
          obj.update(head, child)
          insert(child, rest, full, v)
      }
      case Nil => ()
    }
    m.toSeq.sortBy(_._1).foreach { case (path, v) =>
      // -1 limit keeps trailing empty segments: "a." must stay a literal
      // leaf, never silently collapse onto (and overwrite) the key "a"
      val segs = path.split("\\.", -1)
      if (segs.isEmpty || segs.exists(_.isEmpty)) insert(root, List(path), path, v)
      else insert(root, segs.toList, path, v)
    }
    def render(node: Any): String = node match {
      case s: String => "\"" + esc(s) + "\""
      case o: mutable.TreeMap[String @unchecked, Any @unchecked] =>
        o.map { case (k, v) => "\"" + esc(k) + "\": " + render(v) }
          .mkString("{", ", ", "}")
    }
    render(root)
  }

  /** Flatten a nested JSON object to the dotted-path leaf map (inverse of
    * [[nested]] for string leaves). Scalar leaves coerce to their text;
    * arrays stay whole as JSON-text leaves. Jackson is Spark's own JSON
    * parser — no extra dependency.
    */
  def flatten(json: String): Map[String, String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val root = scala.util.Try(mapper.readTree(json)).getOrElse(
      throw InvalidOperatorArguments(s"invalid tag document: $json"))
    if (root == null || !root.isObject)
      throw InvalidOperatorArguments("tag document must be a JSON object")
    val out = Map.newBuilder[String, String]
    def walk(prefix: String, n: com.fasterxml.jackson.databind.JsonNode): Unit =
      if (n.isObject)
        n.properties().iterator().forEachRemaining { e =>
          walk(if (prefix.isEmpty) e.getKey else s"$prefix.${e.getKey}",
            e.getValue)
        }
      else out += prefix -> (if (n.isTextual) n.asText else n.toString)
    walk("", root)
    out.result()
  }

  /** Top-level field lookup via Jackson (Spark's own JSON parser — no
    * regex: an escaped quote inside a string value would make a pattern
    * match truncate or misparse). Non-object documents and missing
    * fields are None; scalar values coerce to their text.
    */
  private def field(json: String, name: String): Option[String] = {
    val root = scala.util.Try(mapper.readTree(json)).getOrElse(null)
    if (root == null || !root.isObject) None
    else Option(root.get(name)).collect {
      case n if n.isTextual => n.asText
      case n if n.isValueNode => n.asText
    }
  }
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper
  def numField(json: String, name: String): Option[Double] =
    field(json, name).flatMap(s => scala.util.Try(s.toDouble).toOption)
  def strField(json: String, name: String): Option[String] = field(json, name)
}
